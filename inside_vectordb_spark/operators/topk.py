"""Exact cosine top-k similarity search (the flagship operator).

Reference semantics: ``002-brute_force_similarity.py:170-228`` — for
each query, cosine against every corpus vector, full sort descending,
keep top-k. That loop is O(Q·N) python-sequential; here it is one
declarative plan (or one GEMM kernel) over all queries at once — the
fix for the reference's missed optimization O11 (SURVEY.md §4).

Two physical strategies, same semantics:

1. ``exact_cosine_topk`` — pure DataFrame: broadcast the (small) query
   side, crossJoin against the corpus, score with native Catalyst
   vector expressions, rank with a window. Fully oracle-checkable.
   At scale: the corpus side never shuffles for scoring (broadcast
   nested loop join streams it), and the window's shuffle moves only
   Q·N score rows — but Q·N rows is the real cost, so use strategy 2
   when Q·N is large.

2. ``exact_cosine_topk_gemm`` — one per-Arrow-batch kernel
   (``_batch_topk``: float64 normalize, ONE BLAS GEMM Q×d · d×B,
   argpartition plus a tie repair, emitting k·Q rows per batch, not
   B·Q) with two placements, chosen from the input alone:

   - driver: a batch of at most ``_RESIDENT_MAX_QUERIES`` (1,000)
     queries over a corpus whose optimized-plan size estimate is at
     most ``_RESIDENT_MAX_BYTES`` (64 MiB). The corpus projection is
     read once with ``toArrow`` — one JVM-only job, no Python worker,
     no shuffle — each record batch runs the kernel on the driver, and
     a NumPy lexsort merges the partials into a local frame (one
     ``LocalTableScan``). No rows are cached: each request re-reads
     the corpus, so no answer can go stale. The projection's plan is
     kept on the corpus frame (``_projection``), so a repeat request
     over the same frame skips Spark's analysis, optimization and
     physical planning;
   - executors otherwise: the query matrix is broadcast as one NumPy
     array, each corpus partition runs the kernel in ``mapInPandas``,
     and a window reduces the partials to the global top-k. This is
     the 100 TB path: corpus never shuffles and network traffic is
     O(partitions·Q·k).

   Both return the same rows (``tests/test_topk_placement.py``).

Tie-breaking is declared deterministic: (score DESC, id ASC) —
FIXTURES.md §6; the reference's argsort tie order is unspecified.
Exactly two functions define that cut: ``ann.rank_topk`` (the Spark
window every vector search's global merge calls) and ``_local_topk``
below (its NumPy twin for the driver placements).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from inside_vectordb_spark.functions.vector import dot_product, l2_normalize
from inside_vectordb_spark.operators.ann import _normalize_rows, rank_topk


def exact_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """Declarative exact search: normalize once, dot-product score
    (the reference's O6 trick, ``004-faiss_demo.py:184-196``),
    window top-k.

    Returns (query_id, doc_id, score, rank) with rank 1..k per query.
    """
    q = queries.select(
        F.col(query_id).alias("query_id"),
        l2_normalize(query_vec).alias("__qv"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("doc_id"),
        l2_normalize(corpus_vec).alias("__cv"),
    )
    scored = F.broadcast(q).crossJoin(c).select(
        "query_id",
        "doc_id",
        dot_product("__qv", "__cv").alias("score"),
    )
    return rank_topk(scored, k, round_to)


_PARTIAL_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("doc_id", LongType()),
        StructField("score", DoubleType()),
    ]
)
# a ranked answer (row_number is never NULL); every local-frame answer
# is built with it
_RESULT_SCHEMA = StructType(
    _PARTIAL_SCHEMA.fields + [StructField("rank", IntegerType(), False)]
)

# -- driver placement ------------------------------------------------------
#
# Serving bounds shared by every answer computed on the driver: this
# module's exact GEMM and the resident HNSW path
# (``operators/hnsw_index.py``). Set from the resident HNSW crossover
# sweep (2,000 to 100,000 64-dim vectors, local[2] on a 4-vCPU host):
# up to 1,000 queries the driver beat the cluster plan at every size
# (29-36x at one query, 1.3-1.6x at 1,000), while a 5,000-query batch
# held the driver's one Python thread for 13-20 s for a <= 20 %
# saving. 64 MiB bounds what one request reads onto the driver: a live
# index's on-disk bytes there, the corpus plan's optimizer size
# estimate here.
_RESIDENT_MAX_QUERIES = 1000
_RESIDENT_MAX_BYTES = 64 << 20


def _check_vectors(n_null: int, lens: np.ndarray) -> None:
    """The one validity check of a corpus batch, on either placement:
    a NULL or ragged embedding would otherwise fail (or, for an
    all-NULL batch, mis-shape) differently in each."""
    if n_null:
        raise ValueError(f"exact_cosine_topk_gemm: {n_null} NULL corpus embeddings")
    if len(lens) and (lens != lens[0]).any():
        raise ValueError(
            "exact_cosine_topk_gemm: ragged corpus embeddings "
            f"(lengths {sorted(set(lens.tolist()))[:5]})"
        )


def _batch_topk(
    qids: np.ndarray, qmat: np.ndarray, ids: np.ndarray, mat: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One corpus batch's local top-k per query as (query_id, doc_id,
    score) arrays: THE kernel of both placements. ``qmat`` holds unit
    rows; ``mat`` is the batch's raw float64 (B, d) matrix."""
    mat = _normalize_rows(mat)
    sims = qmat @ mat.T  # (Q, B) — one GEMM per Arrow batch
    kk = min(k, sims.shape[1])
    # argpartition: O(B) selection, not O(B log B) sort
    part = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
    # Tie-aware repair: argpartition keeps an ARBITRARY member of
    # score-tied candidates at the kk boundary, which could drop a tied
    # doc with a lower id before the global (score DESC, doc_id ASC)
    # merge sees it. For the (rare) rows where ties cross the
    # boundary, re-select the local top-kk under the declared order.
    nq = sims.shape[0]
    sel_scores = sims[np.arange(nq)[:, None], part]
    kth = sel_scores.min(axis=1)
    n_at_kth_total = (sims == kth[:, None]).sum(axis=1)
    n_at_kth_sel = (sel_scores == kth[:, None]).sum(axis=1)
    for i in np.nonzero(n_at_kth_total > n_at_kth_sel)[0]:
        cand = np.nonzero(sims[i] >= kth[i])[0]
        order = np.lexsort((ids[cand], -sims[i, cand]))
        part[i] = cand[order[:kk]]
    rows = np.repeat(np.arange(nq), kk)
    cols = part.ravel()
    return qids[rows], ids[cols], sims[rows, cols]


def _local_topk(
    spark: SparkSession,
    q: np.ndarray,
    d: np.ndarray,
    s: np.ndarray,
    k: int,
    round_to: int | None,
) -> DataFrame:
    """Rank candidate (query_id, doc_id, score) rows per query by
    (score DESC, doc_id ASC), keep the top ``k`` and return them as a
    local frame — the driver-side twin of the merge window."""
    order = np.lexsort((d, -s, q))
    q, d, s = q[order], d[order], s[order]
    starts = np.ones(len(q), dtype=bool)
    starts[1:] = q[1:] != q[:-1]
    pos = np.arange(len(q))
    rank = (pos - np.maximum.accumulate(np.where(starts, pos, 0)) + 1).astype(np.int32)
    keep = rank <= k
    rows = pa.table(
        {"query_id": q[keep], "doc_id": d[keep], "score": s[keep], "rank": rank[keep]}
    )
    # an Arrow table becomes a local relation whatever the session's
    # Arrow setting (a pandas frame does only with it on), and Spark
    # folds the round below into it: the frame plans as one
    # LocalTableScan and the score keeps Spark's own HALF_UP rounding
    out = spark.createDataFrame(rows, schema=_RESULT_SCHEMA)
    if round_to is not None:
        out = out.withColumn("score", F.round("score", round_to))
    return out


def _arrow_matrix(col: pa.ListArray) -> np.ndarray:
    """An Arrow batch's embedding column as a float64 (B, d) matrix,
    read from the flat child values without a per-row Python object."""
    lens = np.diff(col.offsets.to_numpy())
    _check_vectors(col.null_count, lens)
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64, copy=False).reshape(len(col), -1)


def _projection(corpus: DataFrame, corpus_id: str, corpus_vec: str) -> DataFrame:
    """The corpus's (doc_id, v) projection, made once per corpus frame
    and column pair and kept on the frame. A DataFrame's plan is fixed
    when it is made (its file listing too), so the kept projection
    reads exactly what a fresh one would; re-running it reuses the
    plan Spark already built, where a fresh one is analyzed, optimized
    and planned again on every request."""
    kept = corpus.__dict__.setdefault("_sg_projections", {})
    key = (corpus_id, corpus_vec)
    if key not in kept:
        kept[key] = corpus.select(
            F.col(corpus_id).alias("doc_id"), F.col(corpus_vec).alias("v")
        )
    return kept[key]


def _driver_topk(
    spark: SparkSession,
    qids: np.ndarray,
    qmat: np.ndarray,
    c: DataFrame,
    k: int,
    round_to: int | None,
) -> DataFrame:
    """The executor placement's answer computed on the driver: the
    corpus projection is read once through Arrow (a JVM-only job) and
    each record batch goes through ``_batch_topk``. No rows are
    cached: every request re-reads the corpus."""
    # seeded with an empty triple so an empty corpus merges to an
    # empty answer
    parts = [(np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0))]
    for b in c.toArrow().to_batches():
        if b.num_rows:
            ids = b.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            parts.append(_batch_topk(qids, qmat, ids, _arrow_matrix(b.column(1)), k))
    q, d, s = (np.concatenate(col) for col in zip(*parts))
    return _local_topk(spark, q, d, s, k, round_to)


def exact_cosine_topk_gemm(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """GEMM-batched exact search (scale path, SURVEY.md §7 risk 1).

    Queries are collected to the driver (they are the small side by
    contract — hundreds/thousands of rows) and normalized once. The
    placement is then chosen from the input alone:

    - driver, when the batch has at most ``_RESIDENT_MAX_QUERIES``
      queries and the corpus plan's optimizer size estimate is at most
      ``_RESIDENT_MAX_BYTES``: ``_driver_topk`` reads the corpus
      projection once with ``toArrow`` and merges in NumPy. The answer
      is a local frame (one ``LocalTableScan``);
    - executors otherwise: the query matrix ships via an explicit
      ``sc.broadcast`` (one torrent transfer per executor, cached
      across tasks — closure capture would re-pickle the Q×d matrix
      into every task binary instead); each corpus partition runs
      ``_batch_topk`` per Arrow batch inside ``mapInPandas`` and a
      global (score DESC, doc_id ASC) window merges the partials.

    Both run the same per-batch kernel: one matmul, then
    argpartition-select the local top-k (the reference's missed O10:
    partition selection instead of full argsort) — so they return the
    same rows.
    """
    qrows = (
        queries.select(F.col(query_id).alias("qid"), F.col(query_vec).alias("v"))
        .collect()
    )
    spark = queries.sparkSession
    # edge parity with the declarative sibling (review r9): k ≤ 0 and
    # an empty query set both return an EMPTY frame there (the join/
    # window emit nothing); the GEMM path crashed executor-side
    # (argpartition kth=-1, then min() over a zero-size axis)
    if k <= 0 or not qrows:
        return spark.createDataFrame([], _RESULT_SCHEMA)
    qids_l = np.array([r["qid"] for r in qrows], dtype=np.int64)
    qmat_l = _normalize_rows(np.array([r["v"] for r in qrows], dtype=np.float64))

    if (
        len(qrows) <= _RESIDENT_MAX_QUERIES
        # py4j hands the BigInt over as a Python int; a plan without
        # a usable estimate reports spark.sql.defaultSizeInBytes
        # (Long.MaxValue), which keeps it on the executors
        and corpus._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        <= _RESIDENT_MAX_BYTES
    ):
        return _driver_topk(
            spark, qids_l, qmat_l, _projection(corpus, corpus_id, corpus_vec), k, round_to
        )
    c = corpus.select(F.col(corpus_id).alias("doc_id"), F.col(corpus_vec).alias("v"))
    bc = spark.sparkContext.broadcast((qids_l, qmat_l))

    def score_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids, qmat = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            vecs = pdf["v"]
            _check_vectors(int(vecs.isna().sum()), vecs.dropna().map(len).to_numpy())
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            mat = np.array(list(vecs.to_numpy()), dtype=np.float64)
            q, d, s = _batch_topk(qids, qmat, ids, mat, k)
            yield pd.DataFrame({"query_id": q, "doc_id": d, "score": s})

    partials = c.mapInPandas(score_partition, schema=_PARTIAL_SCHEMA)
    return rank_topk(partials, k, round_to)


def ranked_result_lists(topk: DataFrame) -> DataFrame:
    """T2: per-query ordered result list — ``(query_id, doc_ids ARRAY)``
    with doc ids in rank order (``002:200-228`` result dict shape)."""
    return (
        topk.groupBy("query_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rank", "doc_id"))),
                lambda s: s["doc_id"],
            ).alias("doc_ids")
        )
    )


def cosine_range_search(
    queries: DataFrame,
    corpus: DataFrame,
    threshold: float,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Radius query: every (query, doc) pair with cosine ≥ threshold
    (FAISS ``Index.range_search`` analogue — the reference's FAISS
    study ``004-faiss_demo.py`` exercises only ``search(k)``; radius
    retrieval is the other half of that API every vector store ships).

    Unlike top-k there is NO window/shuffle at all: the plan is
    broadcast(queries) ⨝ corpus → filter — a single map-side stage
    over the corpus scan, so at 100 TB the corpus streams through
    codegen once and only matching pairs leave the executor. The
    membership predicate is evaluated on the ROUNDED score so both
    engines agree at the radius boundary (FIXTURES.md §6 determinism
    convention).

    Returns (query_id, doc_id, score) — set semantics, no rank.
    """
    q = queries.select(
        F.col(query_id).alias("query_id"),
        l2_normalize(query_vec).alias("__qv"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("doc_id"),
        l2_normalize(corpus_vec).alias("__cv"),
    )
    return (
        F.broadcast(q)
        .crossJoin(c)
        .select(
            "query_id",
            "doc_id",
            F.round(dot_product("__qv", "__cv"), round_to).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def filtered_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    filter_col: str = "label",
    round_to: int | None = 6,
) -> DataFrame:
    """Attribute-filtered exact search: per query, rank only the corpus
    rows sharing the query's ``filter_col`` value (the "filtered vector
    search" every production vector store exposes — metadata predicate
    ∧ nearest-neighbor; the reference's corpus has no metadata beyond
    an empty dict, ``000-get_data.py:400``, so this generalizes its J5
    flagship to the predicated form).

    Physical shape — the point of the operator: the per-query predicate
    turns J5's broadcast nested loop (every query × every doc) into a
    broadcast HASH join on ``filter_col``. The corpus never shuffles,
    each corpus row is scored only against the queries that can accept
    it, and candidate generation is O(matching pairs), not O(Q·N).
    Self-matches are excluded (a query vector drawn from the corpus
    must not retrieve itself — ``003-hnswlib_demo.py`` k+1 trick).

    Returns (query_id, doc_id, score, rank), rank 1..k per query.
    """
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(filter_col).alias("__qf"),
        l2_normalize(query_vec).alias("__qv"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("doc_id"),
        F.col(filter_col).alias("__cf"),
        l2_normalize(corpus_vec).alias("__cv"),
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("__qf") == F.col("__cf"))
        .filter(F.col("query_id") != F.col("doc_id"))
        .select(
            "query_id",
            "doc_id",
            dot_product("__qv", "__cv").alias("score"),
        )
    )
    return rank_topk(scored, k, round_to)
