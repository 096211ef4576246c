"""The three closed-loop workloads (one client each) and their metrics.

Each workload drives the engine only through its public functions:
``session.get_spark``, ``io.load_table``, ``operators.topk``'s GEMM
search, the ``operators.hnsw_index`` build/upsert/delete/compact/search
functions, ``operators.hnsw_kernel.HnswIndex`` (traced run only) and
``operators.metrics.evaluation_report``. Every collected answer goes
through the float64 oracle (``oracle.py``); a raised exception or a
violation counts the op as failed.

Why each workload exists, and the sizes, are in ``README.md`` next to
this file.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from collections import defaultdict

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from inside_vectordb_spark import io as engine_io
from inside_vectordb_spark import session
from inside_vectordb_spark.operators import hnsw_index, metrics, topk
from inside_vectordb_spark.operators.hnsw_kernel import HnswIndex
from perfbench import gen, oracle, probes, stats
from perfbench.trace import Tracer

K = 10
EF_SEARCH = 64
INDEX = {"dim": gen.DIM, "m": 16, "ef_construction": 64, "n_parts": 4, "seed": 42}

SIZES = {
    "serve-point": {"corpus": 2000, "pool": 200, "warm_pairs": 6, "min_pairs": 3},
    # per round: one upsert, one delete, then `searches` batches of
    # `search` queries, each sent to HNSW and to exact GEMM
    "ingest-mixed": {"corpus": 2000, "warm_index": 256, "upsert": 200, "delete": 20,
                     "search": 100, "fresh": 25, "searches": 3, "min_rounds": 2,
                     "max_rounds": 6},
}
# traced run only: the write probe on read-only workloads and the
# direct kernel probe
PROBE_UPSERT, PROBE_DELETE = 64, 8
KERNEL_PROBE_N, KERNEL_PROBE_Q = 256, 64

QUERY_SCHEMA = "query_id bigint, embedding array<float>"
RESULT_SCHEMA = "query_id bigint, doc_id bigint, score double, rank int"

WORKLOADS = tuple(SIZES)


class Bench:
    """State of one run: the engine session, the oracle's live set, the
    op ledger and every sample the metrics are computed from."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 run_dir: str, n_cpus: int, deadline: float) -> None:
        self.size = SIZES[workload]
        self.seconds = seconds
        self.trace = trace
        self.n_cpus = n_cpus
        self.deadline = deadline
        self.tr = Tracer(trace)
        self.gen = gen.Generator(seed)
        self.data_dir = os.path.join(run_dir, "data")
        self.index_path = os.path.join(run_dir, "index", "hnsw")
        os.makedirs(self.data_dir)
        os.makedirs(os.path.dirname(self.index_path))
        self.spark = None
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.jobs: list[tuple[int, int, int]] = []
        self.attempted = self.failed = 0
        self.violations: list[str] = []
        self.hits = self.possible = 0
        self.rows_returned = self.rows_asked = 0
        self.answered = 0
        self.oracle_s = 0.0
        self.n_requests = 0
        self.timings: dict[str, float] = {}
        self.hnsw_results: list[tuple[np.ndarray, gen.Vectors]] = []

    # -- session --

    def start_session(self, extra_conf: dict[str, str]) -> None:
        with self.tr.span("session.get_spark", "session"):
            t0 = time.perf_counter()
            self.spark = session.get_spark(app_name="perfbench", extra_conf=extra_conf)
            self.timings["get_spark_s"] = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid
        self.job_counter = probes.JobCounter(self.sc) if self.trace else None

    def load(self, name: str):
        with self.tr.span("io.load_table", "io"):
            t0 = time.perf_counter()
            df = engine_io.load_table(self.spark, self.data_dir, name)
            self.samples["load_table_ms"].append((time.perf_counter() - t0) * 1e3)
        return df

    def query_frame(self, q: gen.Vectors, rid: str):
        with self.tr.span("session.create_frame", "session", rid):
            pdf = pd.DataFrame({"query_id": q.ids, "embedding": list(q.vecs)})
            return self.spark.createDataFrame(pdf, schema=QUERY_SCHEMA)

    # -- op ledger --

    def _op(self, kind: str, fn) -> bool:
        """Run one op; an exception or a non-empty violation list fails
        it. Returns whether it succeeded."""
        self.attempted += 1
        try:
            bad = fn()
        except Exception as e:  # the loop must go on and count it
            traceback.print_exc(file=sys.stderr)
            bad = [f"{kind}: raised {e!r}"]
        if bad:
            self.failed += 1
            self.violations.extend(bad[:5])
            print(f"perfbench: {kind} failed: {bad[:3]}", file=sys.stderr)
            return False
        return True

    def _check(self, fn, *args):
        t0 = time.perf_counter()
        out = fn(*args)
        self.oracle_s += time.perf_counter() - t0
        return out

    def _rid(self, kind: str) -> str:
        self.n_requests += 1
        return f"{kind}-{self.n_requests}"

    def _jobs_begin(self, rid: str) -> None:
        if self.job_counter is not None:
            self.job_counter.begin(rid)

    def _jobs_end(self, rid: str, kind: str) -> None:
        if self.job_counter is not None:
            counts = self.job_counter.end(rid)
            if kind == "hnsw":
                self.jobs.append(counts)

    # -- requests --

    def hnsw_search(self, q: gen.Vectors, measured: bool = True) -> bool:
        def go():
            rid = self._rid("hnsw")
            with self.tr.span("request.hnsw", "bench", rid):
                self._jobs_begin(rid)
                t0 = time.perf_counter()
                qdf = self.query_frame(q, rid)
                with self.tr.span("hnsw_index.search_construct", "hnsw_index", rid):
                    df = hnsw_index.ann_hnsw_topk_indexed(
                        self.spark, qdf, self.index_path, k=K, ef_search=EF_SEARCH)
                with self.tr.span("hnsw_index.search_execute", "hnsw_index", rid):
                    rows = df.collect()
                dt = time.perf_counter() - t0
                self._jobs_end(rid, "hnsw")
            res = oracle.result_array(rows)
            bad, hits, possible = self._check(oracle.check_hnsw, self.live, q.ids, q.vecs, res, K)
            if measured and not bad:
                self.samples["hnsw_ms"].append(dt * 1e3)
                self.hits += hits
                self.possible += possible
                self.rows_returned += len(res)
                self.rows_asked += K * len(q)
                self.answered += len(q)
                self.hnsw_results.append((res, q))
            return bad

        return self._op("hnsw_search", go)

    def exact_search(self, q: gen.Vectors, corpus, measured: bool = True) -> bool:
        def go():
            rid = self._rid("exact")
            with self.tr.span("request.exact", "bench", rid):
                self._jobs_begin(rid)
                t0 = time.perf_counter()
                qdf = self.query_frame(q, rid)
                with self.tr.span("topk.construct", "topk", rid):
                    df = topk.exact_cosine_topk_gemm(qdf, corpus, k=K)
                with self.tr.span("topk.execute", "topk", rid):
                    rows = df.collect()
                dt = time.perf_counter() - t0
                self._jobs_end(rid, "exact")
            res = oracle.result_array(rows)
            bad = self._check(oracle.check_exact, self.live, q.ids, q.vecs, res, K)
            if measured and not bad:
                self.samples["exact_ms"].append(dt * 1e3)
                self.answered += len(q)
            return bad

        return self._op("exact_search", go)

    def evaluate(self, res: np.ndarray, qrels_np: np.ndarray, qrels_df) -> bool:
        def go():
            rid = self._rid("eval")
            rdf = self.spark.createDataFrame(pd.DataFrame(res), schema=RESULT_SCHEMA)
            with self.tr.span("metrics.evaluation_report", "metrics", rid):
                self._jobs_begin(rid)
                t0 = time.perf_counter()
                rows = metrics.evaluation_report(rdf, qrels_df).collect()
                dt = time.perf_counter() - t0
                self._jobs_end(rid, "eval")
            bad = self._check(oracle.check_evaluation, rows, res, qrels_np)
            if not bad:
                self.samples["eval_ms"].append(dt * 1e3)
            return bad

        return self._op("evaluation_report", go)

    # -- index writes --

    def _timed_write(self, kind: str, span: str, sample: str, fn, n_vectors: int = 0,
                     measured: bool = True) -> bool:
        def go():
            before = probes.walk_dir(self.index_path) if self.trace and n_vectors else None
            with self.tr.span(span, "hnsw_index", self._rid(kind)):
                t0 = time.perf_counter()
                fn()
                dt = time.perf_counter() - t0
            if not measured:
                return []
            self.samples[sample].append(dt)
            if self.trace and n_vectors:
                after = probes.walk_dir(self.index_path)
                self.samples[sample + "_bytes_per_vector"].append(
                    probes.bytes_written(before, after) / n_vectors)
            return []

        return self._op(kind, go)

    def build(self, corpus_df, n: int, measured: bool = True) -> bool:
        if measured:
            self.build_n = n
        return self._timed_write(
            "build", "hnsw_index.build", "build_s",
            lambda: hnsw_index.build_hnsw_index(corpus_df, self.index_path, **INDEX),
            measured=measured)

    def upsert(self, frame, v: gen.Vectors) -> bool:
        ok = self._timed_write(
            "upsert", "hnsw_index.upsert", "upsert_s",
            lambda: hnsw_index.upsert_hnsw_index(self.spark, frame, self.index_path),
            n_vectors=len(v))
        if ok:
            self.live.add(v.ids, v.vecs)
        return ok

    def delete(self, ids: np.ndarray) -> bool:
        ok = self._timed_write(
            "delete", "hnsw_index.delete", "delete_s",
            lambda: hnsw_index.delete_from_hnsw_index(self.spark, self.index_path, ids.tolist()))
        if ok:
            self.live.delete(ids)
        return ok

    def compact(self) -> bool:
        return self._timed_write(
            "compact", "hnsw_index.compact", "compact_s",
            lambda: hnsw_index.compact_hnsw_index(self.spark, self.index_path))

    # -- shared phases --

    def time_left(self) -> float:
        return self.deadline - time.perf_counter()

    def begin_measure(self) -> None:
        self.attempted_at_start = self.attempted
        self.oracle_s = 0.0
        self.cpu0 = probes.cpu_snapshot(self.jvm_pid) if self.trace else None
        self.t_measure = time.perf_counter()

    def end_measure(self) -> None:
        self.timings["measured_s"] = time.perf_counter() - self.t_measure
        self.timings["oracle_s"] = self.oracle_s
        if self.trace:
            self.cpu = probes.cpu_split(self.cpu0, probes.cpu_snapshot(self.jvm_pid), self.n_cpus)
            self.measured_ops = self.attempted - self.attempted_at_start
        files = probes.walk_dir(self.index_path)
        self.end_index = {"files": len(files), "bytes": sum(files.values())}
        meta_path = os.path.join(self.index_path, "meta.json")
        with open(meta_path) as f:
            meta = json.load(f)
        self.end_index["tombstones"] = int(meta.get("n_deleted", 0))
        self.end_index["generations"] = sum(
            1 for d in os.listdir(self.index_path)
            if d.startswith("graph") and os.path.isdir(os.path.join(self.index_path, d)))
        self.end_index["rss_mb"] = probes.peak_rss_mb(self.jvm_pid)
        self.end_index["live"] = self.live.n_live

    def write_probe(self, first_id: int) -> None:
        """Traced run on a read-only workload: one upsert, delete and
        compaction on the index after the measured phase, so every
        per-layer write metric is measured on every workload."""
        v = self.gen.ingest_batch(first_id, PROBE_UPSERT)
        gen.write_vectors(self.data_dir, "probe_u", v)
        if self.upsert(self.load("probe_u"), v):
            self.delete(v.ids[:PROBE_DELETE])
        self.compact()

    def kernel_probe(self, corpus: gen.Vectors) -> None:
        """Direct ``HnswIndex`` calls on a slice of the corpus: insert
        cost per vector and query cost per query, free of Spark."""
        def go():
            idx = HnswIndex(dim=gen.DIM, m=INDEX["m"],
                            ef_construction=INDEX["ef_construction"], seed=INDEX["seed"])
            part = corpus.take(np.arange(min(KERNEL_PROBE_N, len(corpus))))
            with self.tr.span("hnsw_kernel.add_items", "hnsw_kernel"):
                t0 = time.perf_counter()
                idx.add_items(oracle.normalize(part.vecs), part.ids)
                self.samples["kernel_add_us"].append((time.perf_counter() - t0) / len(part) * 1e6)
            idx.set_ef(EF_SEARCH)
            queries = self.gen.near_queries(part, 20_000_000, KERNEL_PROBE_Q)
            qv = oracle.normalize(queries.vecs)
            with self.tr.span("hnsw_kernel.knn_query", "hnsw_kernel"):
                t0 = time.perf_counter()
                labels, dists = idx.knn_query(qv, k=K)
                self.samples["kernel_query_us"].append((time.perf_counter() - t0) / len(qv) * 1e6)
            ok = np.isin(labels[np.isfinite(dists)], part.ids).all()
            return [] if ok else ["kernel probe returned ids it never inserted"]

        self._op("kernel_probe", go)

    def eval_probe(self, corpus: gen.Vectors) -> None:
        """Traced run on a workload without evaluation in its loop: one
        ``evaluation_report`` over the HNSW answers the run collected."""
        if not self.hnsw_results:
            return
        res = np.concatenate([r for r, _ in self.hnsw_results])
        qs = [q for _, q in self.hnsw_results]
        # repeated query vectors carry distinct ids per request, so the
        # judged query set is the concatenation
        allq = gen.Vectors(np.concatenate([q.ids for q in qs]),
                           np.concatenate([q.vecs for q in qs]),
                           np.concatenate([q.labels for q in qs]))
        _, first = np.unique(allq.ids, return_index=True)
        allq = allq.take(first)
        qrels = self.gen.qrels(corpus, allq)
        gen.write_qrels(self.data_dir, "probe_qrels", qrels)
        self.evaluate(res, qrels, self.load("probe_qrels"))


# -- the workloads --

def room_for_another(b: Bench, done: int, minimum: int, last_cost: float) -> bool:
    """Closed-loop pacing: start the next unit of work (a request pair
    or an ingest round) while it is predicted, from the last one's
    duration, to end inside the ``--seconds`` window; always run
    ``minimum`` units, and none past the run's deadline."""
    if b.time_left() <= 0:
        return False
    if done < minimum:
        return True
    return time.perf_counter() - b.t_measure + last_cost <= b.seconds


def serve_point(b: Bench, extra_conf: dict) -> None:
    """Single-vector k=10 requests from a Zipf-skewed pool of
    near-corpus vectors, alternating the HNSW and exact GEMM paths."""
    s = b.size
    t0 = time.perf_counter()
    corpus = b.gen.corpus(s["corpus"])
    pool = b.gen.near_queries(corpus, 0, s["pool"])
    stream = b.gen.zipf_stream(s["pool"], 4096)
    gen.write_vectors(b.data_dir, "corpus", corpus)
    b.live = oracle.LiveSet(corpus.ids, corpus.vecs)
    b.timings["datagen_s"] = time.perf_counter() - t0
    sent = 0

    def pair(measured: bool = True) -> None:
        nonlocal sent
        for path in ("hnsw", "exact"):
            j = int(stream[sent % len(stream)])
            q = gen.Vectors(np.array([sent], dtype=np.int64), pool.vecs[j:j + 1],
                            pool.labels[j:j + 1])
            if path == "hnsw":
                b.hnsw_search(q, measured)
            else:
                b.exact_search(q, b.corpus_df, measured)
            sent += 1

    t0 = time.perf_counter()
    b.start_session(extra_conf)
    b.corpus_df = b.load("corpus")
    b.exact_search(pool.take(np.arange(1)), b.corpus_df, measured=False)
    b.build(b.corpus_df, len(corpus))
    # the first requests after a build run 20-50 % slow (JIT, Python
    # workers importing the search path) and latency keeps falling for
    # several pairs after that: with two warm-up pairs the window still
    # sat on that slope and runs spread wider (README.md, "Steadiness")
    for _ in range(s["warm_pairs"]):
        pair(measured=False)
    b.timings["setup_s"] = time.perf_counter() - t0

    b.begin_measure()
    pairs, cost = 0, 0.0
    while room_for_another(b, pairs, s["min_pairs"], cost):
        t = time.perf_counter()
        pair()
        pairs += 1
        cost = time.perf_counter() - t
    b.end_measure()
    if b.trace:
        b.kernel_probe(corpus)
        b.eval_probe(corpus)
        b.write_probe(len(corpus))


def ingest_mixed(b: Bench, extra_conf: dict) -> None:
    """From-scratch build, then rounds of upsert / delete / searches,
    with a compaction after the first round."""
    s = b.size
    t0 = time.perf_counter()
    corpus = b.gen.corpus(s["corpus"])
    gen.write_vectors(b.data_dir, "corpus", corpus)
    warm = corpus.take(np.arange(s["warm_index"]))
    gen.write_vectors(b.data_dir, "warm", warm)
    ups = []
    for r in range(s["max_rounds"]):
        v = b.gen.ingest_batch(len(corpus) + r * s["upsert"], s["upsert"])
        gen.write_vectors(b.data_dir, f"ingest_u{r}", v)
        ups.append(v)
    warm_q = b.gen.near_queries(warm, 10_000_000, 8)
    b.live = oracle.LiveSet(corpus.ids, corpus.vecs)
    b.timings["datagen_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    b.start_session(extra_conf)
    b.corpus_df = b.load("corpus")
    b.exact_search(warm_q, b.corpus_df, measured=False)
    # warm the build and search paths on a small throw-away index, so
    # the measured from-scratch build does not pay the cold start
    main_path, b.index_path = b.index_path, b.index_path + "-warm"
    b.build(b.load("warm"), len(warm), measured=False)
    warm_live, b.live = b.live, oracle.LiveSet(warm.ids, warm.vecs)
    b.hnsw_search(warm_q, measured=False)
    b.index_path, b.live = main_path, warm_live
    b.timings["setup_s"] = time.perf_counter() - t0

    b.begin_measure()
    b.build(b.corpus_df, len(corpus))
    live_frames = [b.corpus_df]
    rounds, cost, qid = 0, 0.0, 0
    while rounds < s["max_rounds"] and room_for_another(b, rounds, s["min_rounds"], cost):
        t = time.perf_counter()
        v = ups[rounds]
        frame = b.load(f"ingest_u{rounds}")
        if b.upsert(frame, v):
            live_frames.append(frame)
        older = np.setdiff1d(b.live.live_ids(), v.ids)
        b.delete(b.gen.choose_deletes(older, s["delete"]))
        # exact search reads the live table: base and upserted files,
        # minus every deleted id
        live = live_frames[0]
        for f in live_frames[1:]:
            live = live.unionByName(f)
        live = live.filter(~F.col("vec_id").isin(sorted(b.live.deleted)))
        for _ in range(s["searches"]):
            q = b.gen.ingest_queries(v, corpus, qid, s["search"], s["fresh"])
            qid += s["search"]
            b.hnsw_search(q)
            b.exact_search(q, live)
        if rounds == 0:
            b.compact()
        rounds += 1
        cost = time.perf_counter() - t
    b.end_measure()
    if b.trace:
        b.kernel_probe(corpus)
        b.eval_probe(corpus)


RUNNERS = {"serve-point": serve_point, "ingest-mixed": ingest_mixed}


# -- metrics --

# (name, unit) of every metric a run prints in its result line: the
# end-to-end set with tracing off, the per-layer set with it on.
# BENCHMARK.json lists the same names and units.
END_TO_END = (
    ("setup_s", "s"),
    ("search_qps", "queries/s"),
    ("hnsw_search_p50_ms", "ms"),
    ("exact_search_p50_ms", "ms"),
    ("recall_at_10", "ratio"),
    ("index_bytes_per_vector", "bytes"),
)
LAYERS = ("bench", "session", "io", "topk", "hnsw_index", "hnsw_kernel", "metrics")
PER_LAYER = (
    ("session.get_spark_s", "s"),
    ("session.jobs_per_request", "count"),
    ("session.stages_per_request", "count"),
    ("session.tasks_per_request", "count"),
    ("io.load_table_ms", "ms"),
    ("topk.construct_ms", "ms"),
    ("topk.execute_ms", "ms"),
    ("hnsw_index.search_construct_ms", "ms"),
    ("hnsw_index.search_execute_ms", "ms"),
    ("hnsw_index.build_s", "s"),
    ("hnsw_index.upsert_ms", "ms"),
    ("hnsw_index.upsert_bytes_written_per_vector", "bytes"),
    ("hnsw_index.delete_ms", "ms"),
    ("hnsw_index.compact_s", "s"),
    ("hnsw_index.tombstones", "count"),
    ("hnsw_index.live_generations", "count"),
    ("hnsw_index.result_fill_ratio", "ratio"),
    ("hnsw_kernel.knn_query_us_per_query", "us"),
    ("hnsw_kernel.add_items_us_per_vector", "us"),
    ("metrics.evaluation_report_ms", "ms"),
    ("index.files", "count"),
    ("index.bytes", "bytes"),
    ("cpu.driver_s_per_request", "s"),
    ("cpu.jvm_s_per_request", "s"),
    ("cpu.pyworker_s_per_request", "s"),
    ("cpu.idle_frac_per_request", "ratio"),
    *((f"{layer}.self_s", "s") for layer in LAYERS),
)


def _with_units(spec, values: dict) -> dict[str, tuple[float, str, int]]:
    """Attach units to (value, sample count) pairs, in ``spec`` order;
    a metric missing from ``values`` or not in ``spec`` raises."""
    if set(values) != {name for name, _ in spec}:
        raise KeyError(f"metric set mismatch: {sorted(set(values) ^ {n for n, _ in spec})}")
    return {name: (float(values[name][0]), unit, values[name][1]) for name, unit in spec}


def end_to_end(b: Bench) -> dict[str, tuple[float, str, int]]:
    """Metric → (value, unit, sample count) for the end-to-end set."""
    t = b.timings
    engine_s = t["measured_s"] - t["oracle_s"]
    hnsw, exact = b.samples["hnsw_ms"], b.samples["exact_ms"]
    return _with_units(END_TO_END, {
        "setup_s": (t["setup_s"], 1),
        "search_qps": (b.answered / engine_s, b.answered),
        "hnsw_search_p50_ms": (stats.median(hnsw), len(hnsw)),
        "exact_search_p50_ms": (stats.median(exact), len(exact)),
        "recall_at_10": (b.hits / b.possible, b.possible),
        "index_bytes_per_vector": (b.end_index["bytes"] / b.end_index["live"], 1),
    })


def report_only(b: Bench) -> dict[str, tuple[float, str, int]]:
    """Metrics printed for the reader but not in the result line: they
    exist on one workload only, or are zero by design (README.md)."""
    out = {
        "failed_ops_frac": (b.failed / max(b.attempted, 1), "ratio", b.attempted),
        "peak_rss_mb": (b.end_index["rss_mb"], "MB", 1),
        "bench_datagen_s": (b.timings["datagen_s"], "s", 1),
        "bench_oracle_s": (b.timings.get("oracle_s", 0.0), "s", 1),
        "measured_s": (b.timings.get("measured_s", 0.0), "s", 1),
    }
    hnsw = b.samples["hnsw_ms"]
    tl = stats.tail(hnsw)
    if tl is not None:
        out[f"hnsw_search_p{tl[0]:g}_ms"] = (tl[1], "ms", len(hnsw))
    if b.samples.get("build_s"):
        out["build_vectors_per_s"] = (b.build_n / b.samples["build_s"][0], "vectors/s", 1)
    for name, key, scale, unit in (
        ("eval_p50_ms", "eval_ms", 1.0, "ms"),
        ("upsert_p50_ms", "upsert_s", 1e3, "ms"),
        ("delete_p50_ms", "delete_s", 1e3, "ms"),
        ("compact_s", "compact_s", 1.0, "s"),
    ):
        xs = b.samples.get(key)
        if xs:
            out[name] = (stats.median(xs) * scale, unit, len(xs))
    return out


def per_layer(b: Bench) -> dict[str, tuple[float, str, int]]:
    """Metric → (value, unit, sample count) from the traced run. A
    median over no samples reads 0 with n=0."""

    def med(key, scale=1.0):
        xs = b.samples.get(key) or []
        return (stats.median(xs) * scale if xs else 0.0), len(xs)

    def span_ms(name):
        xs = b.tr.durations(name)
        return (stats.median(xs) * 1e3 if xs else 0.0), len(xs)

    nj = len(b.jobs)
    ops = max(b.measured_ops, 1)
    idx = b.end_index
    values = {
        "session.get_spark_s": (b.timings["get_spark_s"], 1),
        "session.jobs_per_request": (sum(j[0] for j in b.jobs) / max(nj, 1), nj),
        "session.stages_per_request": (sum(j[1] for j in b.jobs) / max(nj, 1), nj),
        "session.tasks_per_request": (sum(j[2] for j in b.jobs) / max(nj, 1), nj),
        "io.load_table_ms": med("load_table_ms"),
        "topk.construct_ms": span_ms("topk.construct"),
        "topk.execute_ms": span_ms("topk.execute"),
        "hnsw_index.search_construct_ms": span_ms("hnsw_index.search_construct"),
        "hnsw_index.search_execute_ms": span_ms("hnsw_index.search_execute"),
        "hnsw_index.build_s": med("build_s"),
        "hnsw_index.upsert_ms": med("upsert_s", 1e3),
        "hnsw_index.upsert_bytes_written_per_vector": med("upsert_s_bytes_per_vector"),
        "hnsw_index.delete_ms": med("delete_s", 1e3),
        "hnsw_index.compact_s": med("compact_s"),
        "hnsw_index.tombstones": (idx["tombstones"], 1),
        "hnsw_index.live_generations": (idx["generations"], 1),
        "hnsw_index.result_fill_ratio": (b.rows_returned / max(b.rows_asked, 1), b.rows_asked),
        "hnsw_kernel.knn_query_us_per_query": med("kernel_query_us"),
        "hnsw_kernel.add_items_us_per_vector": med("kernel_add_us"),
        "metrics.evaluation_report_ms": med("eval_ms"),
        "index.files": (idx["files"], 1),
        "index.bytes": (idx["bytes"], 1),
        "cpu.driver_s_per_request": (b.cpu["driver"] / ops, ops),
        "cpu.jvm_s_per_request": (b.cpu["jvm"] / ops, ops),
        "cpu.pyworker_s_per_request": (b.cpu["pyworker"] / ops, ops),
        "cpu.idle_frac_per_request": (b.cpu["idle_frac"], ops),
    }
    self_s = b.tr.self_times()
    for layer in LAYERS:
        values[f"{layer}.self_s"] = (self_s.get(layer, 0.0), len(b.tr.spans))
    return _with_units(PER_LAYER, values)
