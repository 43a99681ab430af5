"""The workloads. Each is a sequence of parts; a part generates its inputs
from the seed, warms up once (untimed, with its checks), and adds a fixed
amount of work to every pass through the engine's public functions, checking
every output.

A pass returns one record per operation: a W1 request, a registry query, a
micro-batch trigger, or a W2 batch job.
"""

from __future__ import annotations

import json
import math
import os
import random
import re
import shutil
import time

from . import gen
from .host import wall

PKG = "pyspark_mllib_twitter_spark"
WATERMARK = "45 days"  # longer than the replay's lateness: no row is dropped
FLUSH_MARGIN = "60 days"


#: Operation kinds with a latency. Each workload takes op_p50_s / op_tail_s
#: over one of them (``Workload.latency_kind``); the others are printed. A W2
#: batch job and the warm-up checks count as attempted operations, not
#: latencies.
LATENCY_KINDS = ("request", "query", "trigger")


def _op(kind: str, lat_s: float, problems: list[str], name: str = "") -> dict:
    return {"kind": kind, "name": name, "lat_s": lat_s, "ok": not problems,
            "problems": problems[:3]}


def _fixture_path(root: str, name: str) -> str:
    return os.path.join(root, "tests", "fixtures", name)


class Part:
    """One engine path inside a workload: generates its inputs, warms up
    (untimed, with its checks), and contributes operations to each pass."""

    #: span name -> (module, attribute) of the public functions traced.
    traced: dict[str, tuple[str, str]] = {}

    def __init__(self, seed: int, root: str, work_dir: str):
        self.seed = seed
        self.root = root
        self.work_dir = work_dir
        self.data_dir = os.path.join(work_dir, "data")
        os.makedirs(self.data_dir, exist_ok=True)

    def generate(self) -> dict:
        raise NotImplementedError

    def on_session(self, spark) -> None:
        pass

    def warmup(self, spark) -> list[dict]:
        raise NotImplementedError

    def run_pass(self, spark, tracer, k: int) -> dict:
        """``{"ops": [...], **per-pass layer figures}``."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# W1: top-5 similar users, one request at a time
# ---------------------------------------------------------------------------

def check_w1(rows, queries: list[int], n_docs: int, k: int = 5) -> list[str]:
    """Per (query, vectorizer): min(k, n_docs - 1) rows ranked 1..n, never
    the query user, ordered by sim descending then neighbor id descending
    (a null id ranks last), sims in [0, 1]."""
    problems = []
    want = min(k, n_docs - 1)
    got: dict[tuple, list] = {}
    for r in rows:
        got.setdefault((r.query_id, r.vectorizer), []).append(r)
    for q in queries:
        for vec in ("tfidf", "cv"):
            lst = got.get((q, vec), [])
            if len(lst) != want:
                problems.append(f"w1 {q}/{vec}: {len(lst)} rows, want {want}")
                continue
            if [r.rn for r in lst] != list(range(1, want + 1)):
                problems.append(f"w1 {q}/{vec}: ranks {[r.rn for r in lst]}")
            for r in lst:
                if r.neighbor_id == q:
                    problems.append(f"w1 {q}/{vec}: query user returned")
                if not (math.isfinite(r.sim) and -1e-9 <= r.sim <= 1 + 1e-9):
                    problems.append(f"w1 {q}/{vec}: sim {r.sim}")
            for a, b in zip(lst, lst[1:]):
                ida = -math.inf if a.neighbor_id is None else a.neighbor_id
                idb = -math.inf if b.neighbor_id is None else b.neighbor_id
                if not (a.sim > b.sim or (a.sim == b.sim and ida > idb)):
                    problems.append(f"w1 {q}/{vec}: order {a.neighbor_id},{b.neighbor_id}")
    if len(got) != 2 * len(queries):
        problems.append(f"w1: {len(got)} (query, vectorizer) groups")
    return problems


class W1Requests(Part):
    """Single-user W1 requests over one seeded corpus, reading the corpus
    again for every request."""

    #: Half the size at which a warm W1 request was measured at 3.4-4.5 s
    #: (100k tweets, 10k users); the run budget does not fit more
    #: (README.md, "Corpus size").
    N_TWEETS, N_USERS, N_TARGETS = 50_000, 5_000, 5_000
    #: four requests, so that op_p50_s is the mean of the middle two: the
    #: first request after the W2 job runs while the JIT compiler is busiest
    #: and is about 1 s slower than the rest (README.md, "Steadiness and
    #: budget")
    REQUESTS_PER_PASS = 4
    traced = {
        "sources.read_tweets_jsonl": (f"{PKG}.sources.io", "read_tweets_jsonl"),
        "w1_similarity.build_user_documents": (f"{PKG}.workloads.w1_similarity", "build_user_documents"),
        "w1_similarity.vectorize_documents": (f"{PKG}.workloads.w1_similarity", "vectorize_documents"),
        "w1_similarity.user_similarity_top_k": (f"{PKG}.workloads.w1_similarity", "user_similarity_top_k"),
    }

    def generate(self) -> dict:
        rows = gen.tweets_rows(self.seed, self.N_TWEETS, self.N_USERS, self.N_TARGETS)
        self.path = os.path.join(self.data_dir, "tweets.jsonl")
        nbytes = gen.write_jsonl(rows, self.path)
        inter = [r for r in rows if r["replyto_id"] is not None or r["retweet_id"] is not None]
        authors = sorted({r["user_id"] for r in inter if r["user_id"] is not None})
        # fidelity documents keep the null-author group as one more document
        self.n_docs = len(authors) + any(r["user_id"] is None for r in inter)
        self.queries = random.Random(self.seed).sample(authors, 64)
        self.rows = rows
        return {"tweets": len(rows), "users": self.N_USERS, "bytes": nbytes,
                "documents": self.n_docs}

    def run_pass(self, spark, tracer, k):
        from pyspark_mllib_twitter_spark.sources import io
        from pyspark_mllib_twitter_spark.workloads import w1_similarity as w1

        ops = []
        for i in range(self.REQUESTS_PER_PASS):
            q = self.queries[(k * self.REQUESTS_PER_PASS + i) % len(self.queries)]
            t0 = wall()
            try:
                docs = w1.build_user_documents(io.read_tweets_jsonl(spark, self.path),
                                               fidelity=True)
                result = w1.user_similarity_top_k(docs, [q], k=5)
                with tracer.span("w1_similarity.collect"):
                    rows = result.collect()
                problems = check_w1(rows, [q], self.n_docs)
            except Exception as e:  # noqa: BLE001 - a failed request is a result
                problems = [f"w1 request: {e!r}"[:300]]
            ops.append(_op("request", wall() - t0, problems, str(q)))
        return {"ops": ops}

    def warmup(self, spark):
        """The request path once over the committed fixture, checked
        against the golden top-5."""
        from pyspark_mllib_twitter_spark.sources import io
        from pyspark_mllib_twitter_spark.workloads import w1_similarity as w1

        with open(_fixture_path(self.root, "w1_top5.json")) as f:
            golden = json.load(f)
        t0 = wall()
        tweets = io.read_tweets_jsonl(spark, _fixture_path(self.root, "tweets.jsonl"))
        docs = w1.build_user_documents(tweets, fidelity=True)
        got = {"tfidf": [], "cv": []}
        for r in w1.user_similarity_top_k(docs, [golden["query_user"]], k=5).collect():
            got[r.vectorizer].append([r.neighbor_id, round(r.sim, 6)])
        problems = [f"w1 golden {v} differs" for v in ("tfidf", "cv") if got[v] != golden[v]]
        return [_op("fixture_check", wall() - t0, problems, "w1_top5")]


# ---------------------------------------------------------------------------
# W2: implicit-ALS recommendations for all users
# ---------------------------------------------------------------------------

def check_w2(rows, pairs: set[tuple[int, int]], k: int = 5) -> list[str]:
    """Every user with a mention pair gets min(k, #items) recommendations
    ranked 1..n with non-increasing ratings, and every recommended item is
    an item of the input."""
    users = {u for u, _ in pairs}
    items = {i for _, i in pairs}
    want = min(k, len(items))
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    problems = []
    if set(by_user) != users:
        problems.append(f"w2: {len(by_user)} users recommended, {len(users)} in input")
    for u, lst in by_user.items():
        lst.sort(key=lambda r: r.rec_rank)
        if [r.rec_rank for r in lst] != list(range(1, want + 1)):
            problems.append(f"w2 user {u}: ranks {[r.rec_rank for r in lst]}")
        if any(r.rec_item_id not in items for r in lst):
            problems.append(f"w2 user {u}: unknown item")
        if any(a.rating < b.rating for a, b in zip(lst, lst[1:])):
            problems.append(f"w2 user {u}: ratings increase")
        if len(problems) > 5:
            break
    return problems


class W2Batch(Part):
    """The W2 batch job over the W1 corpus: mention pairs, dense-ID
    dictionary, implicit ALS, recommendForAllUsers(5) and the join back to
    original IDs."""

    traced = {
        "sources.read_tweets_jsonl": (f"{PKG}.sources.io", "read_tweets_jsonl"),
        "w2_recommend.build_mention_pairs": (f"{PKG}.workloads.w2_recommend", "build_mention_pairs"),
        "w2_recommend.dense_id_dictionary": (f"{PKG}.workloads.w2_recommend", "dense_id_dictionary"),
        "w2_recommend.implicit_als_recommend": (f"{PKG}.workloads.w2_recommend", "implicit_als_recommend"),
    }

    def __init__(self, corpus: W1Requests):
        self.corpus = corpus

    def generate(self) -> dict:
        self.path = self.corpus.path
        self.pairs = {(r["user_id"], m["id"]) for r in self.corpus.rows
                      if r["user_id"] is not None for m in (r["user_mentions"] or ())}
        return {"mention_pairs": len(self.pairs)}

    def run_pass(self, spark, tracer, k):
        from pyspark_mllib_twitter_spark.sources import io
        from pyspark_mllib_twitter_spark.workloads import w2_recommend as w2

        t0 = wall()
        try:
            pairs = w2.build_mention_pairs(io.read_tweets_jsonl(spark, self.path))
            result = w2.implicit_als_recommend(pairs, k=5)
            with tracer.span("w2_recommend.execute"):
                rows = result.collect()
            problems = check_w2(rows, self.pairs)
        except Exception as e:  # noqa: BLE001
            problems = [f"w2 job: {e!r}"[:300]]
        return {"ops": [_op("batch_job", wall() - t0, problems)]}

    def warmup(self, spark):
        """The batch job once over the committed fixture (ALS blocks pinned
        as the golden tests pin them), checked against the golden lists."""
        from pyspark_mllib_twitter_spark.sources import io
        from pyspark_mllib_twitter_spark.workloads import w2_recommend as w2

        root = self.corpus.root

        with open(_fixture_path(root, "w2_recs.json")) as f:
            golden = json.load(f)
        t0 = wall()
        pairs = w2.build_mention_pairs(
            io.read_tweets_jsonl(spark, _fixture_path(root, "tweets.jsonl")))
        got: dict[str, list] = {}
        rows = w2.implicit_als_recommend(pairs, k=5, num_blocks=8).collect()
        for r in sorted(rows, key=lambda r: (r.user_id, r.rec_rank)):
            got.setdefault(str(r.user_id), []).append([r.rec_item_id, round(float(r.rating), 6)])
        bad = [u for u in golden if got.get(u) != golden[u]]
        problems = [f"w2 golden: {len(bad)} users differ"] if bad or set(got) != set(golden) else []
        return [_op("fixture_check", wall() - t0, problems, "w2_recs")]


# ---------------------------------------------------------------------------
# Registry queries: cheap batch recipes, noop sink
# ---------------------------------------------------------------------------

#: Candidates: entries with a DuckDB oracle, a round-16 sf0.1 median under
#: 1 s, neither streaming nor in bench.py's SINGLE_RUN / ML_ANN_QUIET sets;
#: per plans/* module the middle of its sorted base names (14 entries). To fit
#: the run budget, of each pair of adjacent modules (alphabetical) the entry
#: that ran faster warm at local[4] is kept. Base names, because the q_NNN_
#: window prefixes rotate.
REGISTRY_ENTRIES = (
    "q_ay_roc_curve",          # behavior_ops  (analytic: q_sql_q19)
    "q_zj_rfm",                # inference_ops (corpus_ops: q_ya_chi2_independence)
    "q_cs_heaps",              # lexical_ops   (lakehouse: q_xm_triangles)
    "q_zd_attribution",        # mining_ops    (north_star: q_ns_langid)
    "q_d6_mcnemar",            # quant_ops     (pipeline_ops: q_eg_dedup_keep_best)
    "q_j_asof_generic",        # relational    (science_ops: q_bd_decision_stump)
    "q_bt_diversified_topk",   # warehouse_ops (stats_ops: q_bv_skew_advisor)
)

_PY_EXEC = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|FlatMapGroupsInArrow|"
    r"FlatMapCoGroupsInArrow|AggregateInPandas|ArrowAggregatePython|WindowInPandas|"
    r"ArrowWindowPython|BatchEvalPythonUDTF|ArrowEvalPythonUDTF)")


def plan_profile(df) -> dict:
    """Catalyst phase times of ``df``'s own QueryExecution (planning is
    forced) and the number of Python exec nodes in its physical plan."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    phases = qe.tracker().phases()
    out = {"python_exec_nodes": len(_PY_EXEC.findall(plan))}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


class RegistryQueries(Part):
    """Cheap registry entries, each built and run to a noop sink, twice per
    pass (the second round in reverse order), so that op_p50_s is the median
    of 14 latencies; the seed only permutes the order."""

    traced = {
        "sources.read_table": (f"{PKG}.sources.io", "read_table"),
    }

    def generate(self) -> dict:
        self.sf_dir = os.path.join(self.data_dir, "sf")
        rows = gen.warehouse_tables(42, self.sf_dir)
        self.order = list(REGISTRY_ENTRIES)
        random.Random(self.seed).shuffle(self.order)
        return {"tables": rows, "entries": len(self.order), "order": self.order}

    def run_pass(self, spark, tracer, k):
        from pyspark_mllib_twitter_spark.plans import REGISTRY

        ops, profile = [], {}
        for name in self.order + self.order[::-1]:
            t0 = wall()
            try:
                with tracer.span("plans.build"):
                    df = REGISTRY[name].spark(spark, self.sf_dir)
                if tracer.active:
                    for key, v in plan_profile(df).items():
                        profile[key] = profile.get(key, 0.0) + v
                with tracer.span("plans.execute"):
                    df.write.format("noop").mode("overwrite").save()
                problems = []
            except Exception as e:  # noqa: BLE001
                problems = [f"{name}: {e!r}"[:300]]
            ops.append(_op("query", wall() - t0, problems, name))
        return {"ops": ops, "plans": profile}

    def warmup(self, spark):
        """Every entry once, collected and compared with its DuckDB oracle
        (tests/oracle_harness)."""
        from tests import oracle_harness

        from pyspark_mllib_twitter_spark.plans import REGISTRY

        ops = []
        for name in REGISTRY_ENTRIES:
            t0 = wall()
            try:
                problems = oracle_harness.compare(REGISTRY[name], spark, self.sf_dir)
            except Exception as e:  # noqa: BLE001
                problems = [repr(e)[:300]]
            ops.append(_op("oracle_check", wall() - t0, [f"{name}: {p}" for p in problems], name))
        return ops


# ---------------------------------------------------------------------------
# Stream replay: replayed events through three stateful streams
# ---------------------------------------------------------------------------

def stream_twins(replay_dir: str):
    """Batch twins of the three streams, computed with pandas from the replay
    files themselves (late shifts and re-deliveries included)."""
    import pandas as pd
    import pyarrow.parquet as pq

    from pyspark_mllib_twitter_spark.streaming.streams import FLUSH_EVENT_TYPE

    files = sorted(f for f in os.listdir(replay_dir) if f.endswith(".parquet"))
    pdf = pd.concat([pq.read_table(os.path.join(replay_dir, f)).to_pandas() for f in files])
    pdf = pdf[pdf["event_type"] != FLUSH_EVENT_TYPE]
    w = pdf.assign(w_start=pdf["ts"].dt.floor("10min"))
    windows = {
        (r.w_start.to_pydatetime(), r.event_type): (int(r.n), round(float(r.s), 6))
        for r in w.groupby(["w_start", "event_type"])["value"]
        .agg(n="count", s="sum").reset_index().itertuples()
    }
    users = {
        int(r.user_id): (int(r.n), round(float(r.s), 4))
        for r in pdf.groupby("user_id")["value"].agg(n="count", s="sum").reset_index().itertuples()
    }
    return windows, set(pdf["event_id"].tolist()), users


class StreamListener:
    """Collects streaming progress and query lifecycle events."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        owner = self
        self.progress: list[dict] = []
        self.terminated: set[str] = set()
        self.started: set[str] = set()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                owner.started.add(str(event.runId))

            def onQueryProgress(self, event):
                owner.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                owner.terminated.add(str(event.runId))

        self.listener = _L()

    def wait_quiet(self, timeout_s: float = 20.0) -> None:
        """Wait until every started query has delivered its termination."""
        deadline = time.time() + timeout_s
        while self.started - self.terminated and time.time() < deadline:
            time.sleep(0.02)


STREAM_PROGRESS_MS = {
    "add_batch_ms": "addBatch", "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets",
    "get_batch_ms": "getBatch",
}


class StreamReplay(Part):
    """Seeded events replayed as files, through a tumbling-window count, a
    watermark dedup and a pandas stateful operator, each to a memory sink;
    every pass is checked against batch twins."""

    #: one data batch: a second one, which would make late rows and
    #: re-deliveries cross a batch boundary, does not fit the run budget
    N_EVENTS, N_USERS, N_BATCHES = 2_000, 50, 1
    traced = {
        "sources.read_table": (f"{PKG}.sources.io", "read_table"),
        "streams.replay_events_dir": (f"{PKG}.streaming.streams", "replay_events_dir"),
        "streams.read_events_stream": (f"{PKG}.streaming.streams", "read_events_stream"),
        "streams.tumbling_window_counts": (f"{PKG}.streaming.streams", "tumbling_window_counts"),
        "streams.stream_dedup": (f"{PKG}.streaming.streams", "stream_dedup"),
        "streams.stateful_user_stats": (f"{PKG}.streaming.streams", "stateful_user_stats"),
        "streams.run_to_memory": (f"{PKG}.streaming.streams", "run_to_memory"),
    }

    def generate(self) -> dict:
        nbytes = gen.events_table(self.seed, self.N_EVENTS, self.N_USERS, self.data_dir)
        return {"events": self.N_EVENTS, "users": self.N_USERS, "bytes": nbytes,
                "replay_batches": self.N_BATCHES}

    def on_session(self, spark) -> None:
        self.listener = StreamListener()
        spark.streams.addListener(self.listener.listener)

    def warmup(self, spark):
        """A checked replay through the pandas stateful stream alone: it
        warms the file source, the state store, the WAL, the memory sink and
        the Arrow boundary with 3 of a pass's 11 triggers."""
        return self._replay(spark, 0, streams=("users",))["ops"]

    def run_pass(self, spark, tracer, k):
        return self._replay(spark, k, ("window", "dedup", "users"))

    def _replay(self, spark, k, streams):
        from pyspark_mllib_twitter_spark.sources import io
        from pyspark_mllib_twitter_spark.streaming import streams as st

        first = len(self.listener.progress)
        replay = os.path.join(self.work_dir, f"replay_{k}")
        t0 = wall()
        try:
            d = st.replay_events_dir(io.read_table(spark, self.data_dir, "events"), out_dir=replay,
                                     n_batches=self.N_BATCHES, flush_margin=FLUSH_MARGIN,
                                     duplicate_every=10)
            out = {}
            for name, fn, mode in (("window", st.tumbling_window_counts, "append"),
                                   ("dedup", st.stream_dedup, "append"),
                                   ("users", st.stateful_user_stats, "update")):
                if name not in streams:
                    continue
                stream = fn(st.read_events_stream(spark, d), watermark=WATERMARK)
                out[name] = st.run_to_memory(stream, output_mode=mode).collect()
            problems = self._check(out, d)
        except Exception as e:  # noqa: BLE001
            problems = [f"stream pass: {e!r}"[:300]]
        wall_s = wall() - t0
        shutil.rmtree(replay, ignore_errors=True)
        self.listener.wait_quiet()
        progress = self.listener.progress[first:]
        ops = [_op("trigger", p["durationMs"].get("triggerExecution", 0) / 1000.0, problems)
               for p in progress]
        if not ops:  # nothing ran: still one failed operation
            ops = [_op("trigger", wall_s, problems or ["no micro-batch progress"])]
        return {"ops": ops, "streams": self._progress_figures(progress)}

    def _check(self, out, replay_dir) -> list[str]:
        from pyspark_mllib_twitter_spark.streaming.streams import FLUSH_EVENT_TYPE

        windows, event_ids, users = stream_twins(replay_dir)
        problems = []
        if "window" in out:
            got = {(r.w_start, r.event_type): (r.n, round(r.sum_value, 6))
                   for r in out["window"] if r.event_type != FLUSH_EVENT_TYPE}
            if got != windows:
                problems.append(f"window counts differ from batch twin "
                                f"({len(got)} vs {len(windows)})")
        if "dedup" in out:
            real = [r.event_id for r in out["dedup"] if r.event_id >= 0]
            if len(real) != len(set(real)) or set(real) != event_ids:
                problems.append(f"dedup: {len(real)} rows for {len(event_ids)} events")
        final: dict[int, tuple] = {}
        for r in out["users"]:
            if r.user_id >= 0 and r.n_events > final.get(r.user_id, (0,))[0]:
                final[r.user_id] = (r.n_events, round(r.sum_value, 4))
        if final != users:
            problems.append("stateful user stats differ from batch twin")
        return problems

    @staticmethod
    def _progress_figures(progress: list[dict]) -> dict:
        fig = {k: float(sum(p["durationMs"].get(v, 0) for p in progress))
               for k, v in STREAM_PROGRESS_MS.items()}
        fig["triggers"] = float(len(progress))
        fig["state_commit_ms"] = float(sum(op.get("commitTimeMs", 0) for p in progress
                                           for op in p.get("stateOperators", ())))
        last: dict[str, dict] = {}
        for p in progress:
            last[p["runId"]] = p
        fig["state_rows_total"] = float(sum(op.get("numRowsTotal", 0) for p in last.values()
                                            for op in p.get("stateOperators", ())))
        fig["state_memory_bytes"] = float(sum(op.get("memoryUsedBytes", 0) for p in last.values()
                                              for op in p.get("stateOperators", ())))
        return fig


class Workload:
    """A sequence of parts run back to back in every pass."""

    name = ""
    #: the operation kind whose latencies make op_p50_s and op_tail_s
    latency_kind = ""

    def __init__(self, seed: int, root: str, work_dir: str):
        self.parts = self.make_parts(seed, root, work_dir)
        self.traced = {k: v for p in self.parts for k, v in p.traced.items()}

    @staticmethod
    def make_parts(seed, root, work_dir) -> list[Part]:
        raise NotImplementedError

    def generate(self) -> dict:
        inputs = {}
        for p in self.parts:
            inputs.update(p.generate())
        return inputs

    def on_session(self, spark) -> None:
        for p in self.parts:
            p.on_session(spark)

    def warmup(self, spark) -> list[dict]:
        ops = []
        for p in self.parts:
            t0 = wall()
            try:
                ops += p.warmup(spark)
            except Exception as e:  # noqa: BLE001
                ops.append(_op("warmup", wall() - t0, [f"{type(p).__name__}: {e!r}"[:300]]))
        return ops

    def run_pass(self, spark, tracer, k: int) -> dict:
        out: dict = {"ops": []}
        for p in self.parts:
            rec = p.run_pass(spark, tracer, k)
            out["ops"] += rec.pop("ops")
            out.update(rec)
        return out


class PaperW1W2(Workload):
    """The paper's two jobs on one corpus: MLlib fits, a cross join and a
    top-k per request; then iterative ALS with many jobs, shuffles and
    caches over Zipf hot keys."""

    name = "paper_w1_w2"
    latency_kind = "request"

    @staticmethod
    def make_parts(seed, root, work_dir):
        # W2 runs first in a pass: its many jobs leave the JVM warmer for
        # the W1 requests, whose latencies make op_p50_s.
        w1 = W1Requests(seed, root, work_dir)
        return [W2Batch(w1), w1]

    def generate(self) -> dict:
        w2, w1 = self.parts
        return {**w1.generate(), **w2.generate()}


class RegistryStream(Workload):
    """Fixed per-trigger cost (WAL, offsets, state-store commits, the
    Python/Arrow boundary of the pandas stateful operator), then per-query
    overhead (recipe construction, Catalyst, job launch)."""

    name = "registry_stream"
    latency_kind = "query"

    @staticmethod
    def make_parts(seed, root, work_dir):
        # The stream runs first in a pass: the JIT compiles hardest right
        # after the warm-up, and queries timed then varied by up to 40 %
        # from run to run with the compile work.
        return [StreamReplay(seed, root, work_dir), RegistryQueries(seed, root, work_dir)]


WORKLOADS = {w.name: w for w in (PaperW1W2, RegistryStream)}
