"""Order statistics used by the benchmark."""

from __future__ import annotations

import math
import statistics

#: Percentiles tried for the tail, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
#: A tail percentile needs at least this many samples above it.
TAIL_MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    # round first: 99.9 / 100 * 10000 is 9990.000000000002 in binary floats
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p`` % of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(p, len(values)) - 1]


def tail(values: list[float]) -> tuple[float, float] | None:
    """``(p, value)`` for the highest percentile in ``TAIL_PERCENTILES`` that
    has at least ``TAIL_MIN_BEYOND`` samples beyond its rank, or ``None``
    when there are too few samples for any of them."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if n - _rank(p, n) >= TAIL_MIN_BEYOND:
            return p, percentile(values, p)
    return None


def median(values: list[float]) -> float:
    return statistics.median(values)

