"""The tail-percentile rule."""

import pytest

from perfbench import stats


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))  # 1..100
    assert stats.percentile(values, 50) == 50
    assert stats.percentile(values, 90) == 90
    assert stats.percentile(values, 99.9) == 100
    assert stats.percentile([7.0], 50) == 7.0


@pytest.mark.parametrize("n, want_pct", [
    (19, None),      # p50 has only 9 samples beyond it
    (20, 50.0),      # p50: rank 10, 10 beyond
    (39, 50.0),      # p75: rank 30, 9 beyond
    (40, 75.0),
    (100, 90.0),     # p95 would leave 5 beyond
    (199, 90.0),
    (200, 95.0),
    (1000, 99.0),
    (10000, 99.9),
])
def test_tail_is_highest_percentile_with_ten_beyond(n, want_pct):
    values = [float(i) for i in range(n)]
    got = stats.tail(values)
    if want_pct is None:
        assert got is None
        return
    pct, value = got
    assert pct == want_pct
    assert value == stats.percentile(values, pct)
    assert sum(v > value for v in values) >= stats.TAIL_MIN_BEYOND


def test_tail_ignores_input_order():
    values = [5.0, 1.0, 9.0, 3.0] * 10
    assert stats.tail(values) == stats.tail(sorted(values))

