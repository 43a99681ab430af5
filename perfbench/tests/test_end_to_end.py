"""The end-to-end figures follow the workload's own operation kind."""

from perfbench.run import end_to_end


def _op(kind, lat_s):
    return {"kind": kind, "lat_s": lat_s}


def test_op_p50_uses_only_the_workload_latency_kind():
    passes = [{"wall_s": 10.0, "cpu_s": 30.0,
               "ops": [_op("query", 1.0), _op("query", 2.0), _op("query", 3.0)]
               + [_op("trigger", 0.1)] * 11 + [_op("batch_job", 9.0)]}]
    out, extra = end_to_end(40.0, passes, {"peak_rss_mb": 3000.0}, 100.0, "query")
    assert out["op_p50_s"] == 2.0
    assert extra["op_n"] == 3 and extra["op_tail_s"] is None
    assert extra["other_p50_s"] == {"trigger": 0.1}
    assert out["live_heap_mb"] == 100.0 and out["setup_s"] == 40.0


def test_run_and_cpu_are_medians_over_passes():
    passes = [{"wall_s": w, "cpu_s": 3 * w, "ops": [_op("request", w / 5)]}
              for w in (12.0, 10.0, 30.0)]
    out, _ = end_to_end(1.0, passes, {"peak_rss_mb": 1.0}, 1.0, "request")
    assert out["run_s"] == 12.0 and out["cpu_s"] == 36.0 and out["op_p50_s"] == 2.4
