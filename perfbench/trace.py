"""Spans around the engine's public functions, and Spark work attributed to
them from the event log.

A span is opened around each call into a traced function by replacing the
function object wherever the package's modules hold it, so calls between
the package's own modules are seen too. While a span is open the Spark job
group of the calling thread is the span id. A job whose group is not a span
id (a streaming micro-batch runs under its query's run id, on its own
thread) goes to the innermost span open at the job's submission time.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time

PACKAGE = "pyspark_mllib_twitter_spark"

#: Counters attributed to a span from the event log.
SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "task_queue_s", "executor_run_s",
    "executor_cpu_s", "executor_gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "input_bytes", "input_records",
)


class Tracer:
    """Records spans. Inactive tracers cost one attribute check per span."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.active = spark_context is not None
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Open a span; yields its id (``None`` when inactive)."""
        if not self.active:
            yield None
            return
        sid = f"pb-span-{len(self.spans)}"
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent,
               "t0": time.time(), "t1": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setLocalProperty("spark.jobGroup.id", sid)
        try:
            yield sid
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", parent)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self, targets: dict[str, object]) -> None:
        """Trace each ``{span name: function}``: every module of the package
        that holds the function object gets the wrapper instead."""
        for name, fn in targets.items():
            wrapper = self.wrap(name, fn)
            for mod in list(sys.modules.values()):
                if mod is None or not getattr(mod, "__name__", "").startswith(PACKAGE):
                    continue
                for attr, value in list(vars(mod).items()):
                    if value is fn:
                        self._patched.append((mod, attr, fn))
                        setattr(mod, attr, wrapper)

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()


def self_time(spans: list[dict]) -> dict[str, float]:
    """Span duration minus the part of it covered by its child spans
    (overlapping children are merged first)."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    out = {}
    for s in spans:
        covered, end = 0.0, s["t0"]
        for a, b in sorted(kids.get(s["id"], ())):
            a, b = max(a, end, s["t0"]), min(b, s["t1"])
            if b > a:
                covered += b - a
                end = b
        out[s["id"]] = (s["t1"] - s["t0"]) - covered
    return out


def read_event_log(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _innermost(spans: list[dict], t: float) -> str | None:
    best = None
    for s in spans:
        if s["t0"] <= t <= s["t1"] and (best is None or s["t0"] >= best["t0"]):
            best = s
    return best["id"] if best else None


def attribute(events: list[dict], spans: list[dict]) -> dict[str | None, dict]:
    """Spark counters per span id (``None`` collects work outside every
    span). Counts are the span's own work, not its children's."""
    ids = {s["id"] for s in spans}
    job_span: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[tuple[int, int], float] = {}
    stage_span: dict[int, str | None] = {}
    out: dict[str | None, dict] = {}

    def acc(sid):
        return out.setdefault(sid, {k: 0 for k in SPARK_COUNTERS})

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            sid = group if group in ids else _innermost(spans, ev["Submission Time"] / 1000.0)
            job_span[ev["Job ID"]] = sid
            acc(sid)["jobs"] += 1
            for st in ev.get("Stage Infos", ()):
                stage_job.setdefault(st["Stage ID"], ev["Job ID"])
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_id = info["Stage ID"]
            sid = job_span.get(stage_job.get(stage_id))
            stage_span[stage_id] = sid
            stage_submit[(stage_id, info.get("Stage Attempt ID", 0))] = info.get("Submission Time", 0)
            acc(sid)["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            stage_id = ev["Stage ID"]
            c = acc(stage_span.get(stage_id, job_span.get(stage_job.get(stage_id))))
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            c["tasks"] += 1
            if info.get("Failed") or (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                c["failed_tasks"] += 1
            submitted = stage_submit.get((stage_id, ev.get("Stage Attempt ID", 0)))
            if submitted and info.get("Launch Time"):
                c["task_queue_s"] += max(0, info["Launch Time"] - submitted) / 1000.0
            c["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["executor_gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            rd = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            inp = m.get("Input Metrics") or {}
            c["input_bytes"] += inp.get("Bytes Read", 0)
            c["input_records"] += inp.get("Records Read", 0)
    return out


def inclusive(counters: dict[str | None, dict], spans: list[dict], root_ids) -> dict:
    """Sum of the counters of ``root_ids`` and all their descendant spans."""
    kids: dict[str, list[str]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    total = {k: 0 for k in SPARK_COUNTERS}
    todo = list(root_ids)
    while todo:
        sid = todo.pop()
        for k, v in counters.get(sid, {}).items():
            total[k] += v
        todo.extend(kids.get(sid, ()))
    return total


def summary(spans: list[dict], counters: dict[str | None, dict]) -> dict[str, dict]:
    """Per span name: calls, total and self seconds, and own Spark counters."""
    out: dict[str, dict] = {}
    own = self_time(spans)
    for s in spans:
        rec = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0,
                                         **{k: 0 for k in SPARK_COUNTERS}})
        rec["calls"] += 1
        rec["total_s"] += s["t1"] - s["t0"]
        rec["self_s"] += own[s["id"]]
        for k, v in counters.get(s["id"], {}).items():
            rec[k] += v
    return out
