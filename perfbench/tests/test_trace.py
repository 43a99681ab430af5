"""Span self-time and the attribution of Spark work to spans."""

import pytest

from perfbench import trace


def span(sid, parent, t0, t1, name=None):
    return {"id": sid, "name": name or sid, "parent": parent, "t0": t0, "t1": t1}


def test_self_time_subtracts_children():
    spans = [
        span("a", None, 0.0, 10.0),
        span("b", "a", 1.0, 3.0),
        span("c", "a", 5.0, 9.0),
        span("d", "c", 6.0, 7.0),
    ]
    got = trace.self_time(spans)
    assert got["a"] == pytest.approx(4.0)
    assert got["b"] == pytest.approx(2.0)
    assert got["c"] == pytest.approx(3.0)
    assert got["d"] == pytest.approx(1.0)


def test_self_time_merges_overlapping_children_and_clips_to_parent():
    spans = [
        span("a", None, 0.0, 10.0),
        span("b", "a", 2.0, 6.0),
        span("c", "a", 4.0, 8.0),    # overlaps b: covered is 2..8
        span("d", "a", 9.0, 12.0),   # runs past the parent: clipped at 10
    ]
    assert trace.self_time(spans)["a"] == pytest.approx(10.0 - 6.0 - 1.0)


def task_end(stage, launch_ms, run_ms=100, cpu_ns=50_000_000, gc_ms=5, ok=True,
             shuffle_read=0, shuffle_write=0, spill=0, in_bytes=0, in_records=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Info": {"Launch Time": launch_ms, "Finish Time": launch_ms + run_ms,
                      "Failed": not ok},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": in_bytes, "Records Read": in_records},
        },
    }


def job_start(job, stages, t_ms, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": t_ms,
            "Stage Infos": [{"Stage ID": s} for s in stages], "Properties": props}


def stage_submitted(stage, t_ms):
    return {"Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": stage, "Stage Attempt ID": 0, "Submission Time": t_ms}}


CANNED_LOG = [
    {"Event": "SparkListenerApplicationStart"},
    # job 0 carries span s1's group id
    job_start(0, [0, 1], 1_000_000, group="s1"),
    stage_submitted(0, 1_000_010),
    task_end(0, 1_000_030, in_bytes=400, in_records=4, shuffle_write=64),
    task_end(0, 1_000_050, shuffle_write=32),
    stage_submitted(1, 1_000_200),
    task_end(1, 1_000_200, shuffle_read=96, spill=8),
    # job 1 lists stage 1 again (skipped) plus a new stage; group of span s2
    job_start(1, [1, 2], 1_001_000, group="s2"),
    stage_submitted(2, 1_001_000),
    task_end(2, 1_001_100, ok=False),
    task_end(2, 1_001_300),
    # job 2: a streaming micro-batch under a foreign group, inside s3's time
    job_start(2, [3], 1_002_500, group="3f2a-run-id"),
    stage_submitted(3, 1_002_500),
    task_end(3, 1_002_600),
    # job 3: outside every span
    job_start(3, [4], 1_009_000),
    stage_submitted(4, 1_009_000),
    task_end(4, 1_009_000),
]

SPANS = [
    span("s0", None, 999.0, 1005.0, "pass"),
    span("s1", "s0", 999.5, 1000.9, "w"),
    span("s2", "s0", 1000.95, 1002.0, "w"),
    span("s3", "s0", 1002.1, 1004.0, "streams.run_to_memory"),
]


def test_jobs_follow_their_group_to_the_span():
    got = trace.attribute(CANNED_LOG, SPANS)
    assert got["s1"]["jobs"] == 1 and got["s2"]["jobs"] == 1
    assert got["s1"]["stages"] == 2  # stage 1 was submitted by job 0 only
    assert got["s2"]["stages"] == 1
    assert got["s1"]["tasks"] == 3 and got["s2"]["tasks"] == 2
    assert got["s1"]["shuffle_write_bytes"] == 96
    assert got["s1"]["shuffle_read_bytes"] == 96
    assert got["s1"]["spill_bytes"] == 8
    assert got["s1"]["input_bytes"] == 400 and got["s1"]["input_records"] == 4
    assert got["s2"]["failed_tasks"] == 1
    assert got["s1"]["executor_run_s"] == pytest.approx(0.3)
    assert got["s1"]["executor_cpu_s"] == pytest.approx(0.15)
    assert got["s1"]["executor_gc_s"] == pytest.approx(0.015)
    # queue: launch minus stage submission, 20 + 40 + 0 ms
    assert got["s1"]["task_queue_s"] == pytest.approx(0.06)
    assert got["s2"]["task_queue_s"] == pytest.approx(0.4)


def test_foreign_group_goes_to_innermost_open_span():
    got = trace.attribute(CANNED_LOG, SPANS)
    assert got["s3"]["jobs"] == 1 and got["s3"]["tasks"] == 1
    assert "s0" not in got  # the pass span itself ran no job directly


def test_work_outside_spans_is_unattributed():
    got = trace.attribute(CANNED_LOG, SPANS)
    assert got[None]["jobs"] == 1 and got[None]["tasks"] == 1


def test_inclusive_rolls_children_up():
    got = trace.attribute(CANNED_LOG, SPANS)
    total = trace.inclusive(got, SPANS, ["s0"])
    assert total["jobs"] == 3
    assert total["tasks"] == 6
    assert trace.inclusive(got, SPANS, ["s2"])["jobs"] == 1


class FakeContext:
    def __init__(self):
        self.props = {}
        self.history = []

    def setLocalProperty(self, key, value):
        self.props[key] = value
        self.history.append(value)


def test_tracer_sets_and_restores_job_group():
    sc = FakeContext()
    tr = trace.Tracer(sc)
    with tr.span("outer"):
        with tr.span("inner"):
            assert sc.props["spark.jobGroup.id"] == tr.spans[1]["id"]
        assert sc.props["spark.jobGroup.id"] == tr.spans[0]["id"]
    assert sc.props["spark.jobGroup.id"] is None
    assert tr.spans[1]["parent"] == tr.spans[0]["id"]


def test_inactive_tracer_records_nothing():
    tr = trace.Tracer()
    with tr.span("x"):
        pass
    assert tr.spans == []


def test_install_wraps_every_module_reference():
    import sys
    import types

    def target(x):
        return x + 1

    mods = []
    for name in ("pyspark_mllib_twitter_spark._pb_test_a", "pyspark_mllib_twitter_spark._pb_test_b"):
        m = types.ModuleType(name)
        m.f = target
        sys.modules[name] = m
        mods.append(m)
    try:
        tr = trace.Tracer(FakeContext())
        tr.install({"t.f": target})
        assert all(m.f is not target for m in mods)
        assert mods[1].f(1) == 2
        assert [s["name"] for s in tr.spans] == ["t.f"]
        tr.uninstall()
        assert all(m.f is target for m in mods)
    finally:
        for m in mods:
            del sys.modules[m.__name__]


def test_summary_groups_by_span_name():
    got = trace.summary(SPANS, trace.attribute(CANNED_LOG, SPANS))
    assert got["w"]["calls"] == 2
    assert got["w"]["jobs"] == 2 and got["w"]["tasks"] == 5
    assert got["pass"]["self_s"] == pytest.approx(6.0 - 1.4 - 1.05 - 1.9)
    assert got["streams.run_to_memory"]["jobs"] == 1
