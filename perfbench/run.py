#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload paper_w1_w2 --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Inputs are generated from the seed, the
engine is called only through its public functions, every output is checked,
and the last line of stdout is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced pass (see README.md). Everything the run writes stays
under ``.perfbench/`` in the checkout; a full result record is kept in
``.perfbench/results/`` under a name that is never reused.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import host, stats, trace  # noqa: E402
from perfbench.workloads import LATENCY_KINDS, WORKLOADS  # noqa: E402

#: (name, unit) of the end-to-end metrics in the final line (trace 0).
END_TO_END = (
    ("run_s", "s"), ("op_p50_s", "s"), ("cpu_s", "s"), ("peak_rss_mb", "MB"),
    ("live_heap_mb", "MB"), ("setup_s", "s"),
)

#: (name, unit) of the per-layer metrics in the final line (trace 1). Each is
#: the median over traced passes of the per-pass figure; a layer a workload
#: does not exercise reports 0.
PER_LAYER = (
    ("session.get_spark_s", "s"), ("session.warmup_s", "s"),
    ("sources.read_s", "s"), ("sources.input_bytes", "bytes"),
    ("sources.input_records", "count"),
    ("w1_similarity.build_user_documents_s", "s"),
    ("w1_similarity.vectorize_documents_s", "s"), ("w1_similarity.vectorize_jobs", "count"),
    ("w1_similarity.user_similarity_top_k_s", "s"), ("w1_similarity.collect_s", "s"),
    ("w1_similarity.fits_per_request", "ratio"),
    ("w2_recommend.build_mention_pairs_s", "s"), ("w2_recommend.dense_id_dictionary_s", "s"),
    ("w2_recommend.dense_id_dictionary_jobs", "count"),
    ("w2_recommend.implicit_als_recommend_s", "s"), ("w2_recommend.als_jobs", "count"),
    ("w2_recommend.execute_s", "s"),
    ("plans.build_s", "s"), ("plans.build_jobs", "count"), ("plans.analysis_ms", "ms"),
    ("plans.optimization_ms", "ms"), ("plans.planning_ms", "ms"), ("plans.execute_s", "s"),
    ("plans.python_exec_nodes", "count"),
    ("streams.run_to_memory_s", "s"), ("streams.triggers", "count"),
    ("streams.add_batch_ms", "ms"), ("streams.query_planning_ms", "ms"),
    ("streams.wal_commit_ms", "ms"), ("streams.commit_offsets_ms", "ms"),
    ("streams.get_batch_ms", "ms"), ("streams.state_commit_ms", "ms"),
    ("streams.state_rows_total", "count"), ("streams.state_memory_bytes", "bytes"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_queue_s", "s"), ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
    ("spark.executor_gc_s", "s"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.failed_tasks", "count"),
    ("jvm.gc_s", "s"), ("python.worker_cpu_s", "s"), ("trace.overhead_s", "s"),
)


def jvm_gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def jvm_jit_s(spark) -> float:
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getCompilationMXBean()
    return bean.getTotalCompilationTime() / 1000.0


def measure(spark, wl, tracer, seconds: float, first_k: int) -> tuple[list[dict], dict]:
    """Closed loop of whole passes: at least one, and another one only while
    the elapsed time plus the mean pass time stays within ``seconds``."""
    passes = []
    w0 = host.cpu_times()
    with host.MemorySampler() as mem:
        start = host.wall()
        while True:
            c0, g0, j0 = host.tree_cpu_s(), jvm_gc_s(spark), jvm_jit_s(spark)
            t0 = host.wall()
            with tracer.span("pass") as sid:
                rec = wl.run_pass(spark, tracer, first_k + len(passes))
            rec["wall_s"] = host.wall() - t0
            c1 = host.tree_cpu_s()
            rec["cpu_s"] = c1["total"] - c0["total"]
            rec["py_worker_cpu_s"] = c1["py_workers"] - c0["py_workers"]
            rec["jvm_gc_s"] = jvm_gc_s(spark) - g0
            rec["jvm_jit_s"] = jvm_jit_s(spark) - j0
            rec["span"] = sid
            passes.append(rec)
            elapsed = host.wall() - start
            if elapsed + elapsed / len(passes) > seconds:
                break
    window = {"peak_rss_mb": mem.peak["total"], "peak_memory_mb": mem.peak,
              **host.weather(w0, host.cpu_times())}
    return passes, window


def end_to_end(setup_s: float, passes: list[dict], window: dict, live_heap_mb: float,
               latency_kind: str) -> tuple[dict, dict]:
    """The end-to-end metrics, and the figures that are only printed: the
    tail of the workload's latency kind, and the median of its other kinds."""
    lat = {kind: [op["lat_s"] for p in passes for op in p["ops"] if op["kind"] == kind]
           for kind in LATENCY_KINDS}
    out = {
        "setup_s": setup_s,
        "run_s": stats.median([p["wall_s"] for p in passes]),
        "op_p50_s": stats.median(lat[latency_kind]),
        "cpu_s": stats.median([p["cpu_s"] for p in passes]),
        "peak_rss_mb": window["peak_rss_mb"],
        "live_heap_mb": live_heap_mb,
    }
    t = stats.tail(lat[latency_kind])
    extra = {"op_kind": latency_kind, "op_n": len(lat[latency_kind]),
             "op_tail_s": None, "op_tail_pct": None,
             "other_p50_s": {k: stats.median(v) for k, v in lat.items()
                             if v and k != latency_kind}}
    if t is not None:
        extra["op_tail_pct"], extra["op_tail_s"] = t
    return out, extra


def layer_metrics(passes, spans, counters, setup, untraced_run_s) -> dict:
    """Per-layer figures of each traced pass, then the median over passes."""
    by_parent: dict[str, list[dict]] = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)

    def descendants(sid):
        out, todo = [], list(by_parent.get(sid, ()))
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(by_parent.get(s["id"], ()))
        return out

    per_pass = []
    for p in passes:
        inner = descendants(p["span"])

        def dur(prefix, exact=True):
            return sum(s["t1"] - s["t0"] for s in inner
                       if (s["name"] == prefix if exact else s["name"].startswith(prefix)))

        def jobs(name, self_only=False):
            ids = [s["id"] for s in inner if s["name"] == name]
            if self_only:
                return sum(counters.get(i, {}).get("jobs", 0) for i in ids)
            return trace.inclusive(counters, spans, ids)["jobs"]

        total = trace.inclusive(counters, spans, [p["span"]])
        n_requests = sum(op["kind"] == "request" for op in p["ops"])
        n_fits = sum(s["name"] == "w1_similarity.vectorize_documents" for s in inner)
        plans = p.get("plans", {})
        streams = p.get("streams", {})
        m = {
            "session.get_spark_s": setup["get_spark_s"],
            "session.warmup_s": setup["warmup_s"],
            "sources.read_s": dur("sources.", exact=False),
            "sources.input_bytes": total["input_bytes"],
            "sources.input_records": total["input_records"],
            "w1_similarity.build_user_documents_s": dur("w1_similarity.build_user_documents"),
            "w1_similarity.vectorize_documents_s": dur("w1_similarity.vectorize_documents"),
            "w1_similarity.vectorize_jobs": jobs("w1_similarity.vectorize_documents"),
            "w1_similarity.user_similarity_top_k_s": dur("w1_similarity.user_similarity_top_k"),
            "w1_similarity.collect_s": dur("w1_similarity.collect"),
            "w1_similarity.fits_per_request": n_fits / n_requests if n_requests else 0.0,
            "w2_recommend.build_mention_pairs_s": dur("w2_recommend.build_mention_pairs"),
            "w2_recommend.dense_id_dictionary_s": dur("w2_recommend.dense_id_dictionary"),
            "w2_recommend.dense_id_dictionary_jobs": jobs("w2_recommend.dense_id_dictionary"),
            "w2_recommend.implicit_als_recommend_s": dur("w2_recommend.implicit_als_recommend"),
            "w2_recommend.als_jobs": jobs("w2_recommend.implicit_als_recommend", self_only=True),
            "w2_recommend.execute_s": dur("w2_recommend.execute"),
            "plans.build_s": dur("plans.build"),
            "plans.build_jobs": jobs("plans.build"),
            "plans.analysis_ms": plans.get("analysis_ms", 0.0),
            "plans.optimization_ms": plans.get("optimization_ms", 0.0),
            "plans.planning_ms": plans.get("planning_ms", 0.0),
            "plans.execute_s": dur("plans.execute"),
            "plans.python_exec_nodes": plans.get("python_exec_nodes", 0.0),
            "streams.run_to_memory_s": dur("streams.run_to_memory"),
            "jvm.gc_s": p["jvm_gc_s"],
            "python.worker_cpu_s": p["py_worker_cpu_s"],
        }
        for key in ("triggers", "add_batch_ms", "query_planning_ms", "wal_commit_ms",
                    "commit_offsets_ms", "get_batch_ms", "state_commit_ms",
                    "state_rows_total", "state_memory_bytes"):
            m[f"streams.{key}"] = streams.get(key, 0.0)
        for key in ("jobs", "stages", "tasks", "task_queue_s", "executor_run_s",
                    "executor_cpu_s", "executor_gc_s", "shuffle_read_bytes",
                    "shuffle_write_bytes", "spill_bytes", "failed_tasks"):
            m[f"spark.{key}"] = total[key]
        per_pass.append(m)
    out = {k: float(stats.median([m[k] for m in per_pass])) for k in per_pass[0]}
    out["trace.overhead_s"] = stats.median([p["wall_s"] for p in passes]) - untraced_run_s
    return out


def result_path(results_dir: str, workload: str, seed: int, cpus: int, traced: int) -> str:
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    for n in range(1000):
        path = os.path.join(results_dir,
                            f"{workload}_seed{seed}_cpu{cpus}_trace{traced}_{stamp}_run{n}.json")
        if not os.path.exists(path):
            return path
    raise RuntimeError("no free result file name")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    from pyspark_mllib_twitter_spark import session  # fails outside a checkout

    cpus = host.cpu_count()
    heap_mb = host.driver_heap_mb()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    results_dir = os.path.join(base, "results")
    for d in ("local", "tmp", "ckpt", "events", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(results_dir, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_STREAM_CKPT_DIR": os.path.join(work, "ckpt"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # The engine's code-cache size, plus: the heap committed up front
        # (-Xms = -Xmx), so resident memory follows use rather than G1's
        # heap-resizing decisions; no hsperfdata file outside the checkout.
        "spark.driver.extraJavaOptions": f"-XX:ReservedCodeCacheSize=1g -Xms{heap_mb}m "
                                         f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    wl = WORKLOADS[args.workload](args.seed, ROOT, work)
    spark = None
    try:
        inputs = wl.generate()
        t0 = host.wall()
        spark = session.get_spark(extra_conf=conf)
        wl.on_session(spark)
        get_spark_s = host.wall() - t0
        warm_ops = wl.warmup(spark)  # untimed, checked; part of set-up
        setup = {"get_spark_s": get_spark_s, "warmup_s": host.wall() - t0 - get_spark_s}
        setup_s = host.wall() - t0
        record_host = host.host_record(spark)

        traced = []
        if args.trace:
            # The traced passes come first, in the place the timed passes of
            # an untraced run take, so that the layer figures describe those.
            tracer = trace.Tracer(spark.sparkContext)
            tracer.install({name: getattr(importlib.import_module(mod), attr)
                            for name, (mod, attr) in wl.traced.items()})
            try:
                traced, _ = measure(spark, wl, tracer, args.seconds, 1)
            finally:
                tracer.uninstall()
        passes, window = measure(spark, wl, trace.Tracer(), args.seconds, 1 + len(traced))
        # after every pass, so that the full collection changes no timed figure
        live_heap_mb = host.live_heap_mb(spark)
        e2e, e2e_extra = end_to_end(setup_s, passes, window, live_heap_mb, wl.latency_kind)
        app_id = spark.sparkContext.applicationId
    finally:
        if spark is not None:
            spark.stop()
        host.stop_jvm()

    ops = warm_ops + [op for p in traced + passes for op in p["ops"]]
    failed = sum(not op["ok"] for op in ops)
    problems = [x for op in ops for x in op["problems"]][:20]
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": record_host, "weather": window, "inputs": inputs,
        "setup": setup, "end_to_end": e2e, **e2e_extra,
        "fail_ratio": failed / len(ops), "attempted": len(ops), "failed": failed,
        "problems": problems,
        "warmup_ops": warm_ops, "traced_passes": traced, "passes": passes,
    }
    if args.trace:
        spans = tracer.spans
        counters = trace.attribute(
            trace.read_event_log(os.path.join(work, "events", app_id)), spans)
        layers = layer_metrics(traced, spans, counters, setup,
                               stats.median([p["wall_s"] for p in passes]))
        record["per_layer"] = layers
        record["spans"] = trace.summary(spans, counters)
        metrics = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}

    with open(result_path(results_dir, args.workload, args.seed, cpus, args.trace), "x") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    print(f"host {json.dumps(record_host)} weather {json.dumps(window)}")
    print(f"inputs seed={args.seed} {json.dumps(inputs)}")
    for n, u in END_TO_END:
        print(f"{args.workload} {n} = {e2e[n]:.6g} {u}")
    kind = e2e_extra["op_kind"]
    if e2e_extra["op_tail_s"] is not None:
        print(f"{args.workload} op_tail_s = {e2e_extra['op_tail_s']:.6g} s "
              f"(p{e2e_extra['op_tail_pct']:g} of {kind} latencies, n={e2e_extra['op_n']})")
    else:
        print(f"{args.workload} op_tail_s omitted (n={e2e_extra['op_n']} {kind} latencies, "
              f"too few)")
    for other, v in e2e_extra["other_p50_s"].items():
        print(f"{args.workload} {other}_p50_s = {v:.6g} s (printed only)")
    print(f"{args.workload} fail_ratio = {record['fail_ratio']:.6g} ratio")
    if args.trace:
        print(f"{args.workload} trace.overhead_s = {layers['trace.overhead_s']:.6g} s "
              f"(traced minus the later untraced run_s: an upper bound)")
    for p in problems:
        print(f"problem: {p}")
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0



if __name__ == "__main__":
    sys.exit(main())
