"""Approximate nearest-neighbor search (SURVEY.md §2.8 X1-X3, §2.5 T3-T4).

The reference builds monolithic in-RAM HNSW graphs (hnswlib
``003-hnswlib_demo.py:174-230``, FAISS ``004-faiss_demo.py:172-220``).
A proximity graph doesn't shard naturally, so the Spark-native
re-expression uses the two standard distributed ANN access paths:

1. **Random-hyperplane LSH** (cosine): bucket = sign-bit signature of
   the vector against H fixed hyperplanes, L independent tables.
   Candidates = bucket-join of queries × corpus; exact re-rank on the
   candidate set only. Knobs (L up ⇒ recall up, cost up; H up ⇒
   precision up, recall down) play the reference's ``ef_search`` role
   (X3, ``003:281``): monotone recall/throughput trade.

2. **IVF (inverted file)**: coarse k-means quantizer; each vector is
   assigned to its nearest centroid (the inverted list = a cluster-id
   column, partition-prunable at rest); queries probe the ``n_probe``
   nearest centroids. ``n_probe`` is the ef-like knob.

At 100 TB: both paths avoid any full cross product — the corpus is
scanned once to bucket/assign (embarrassingly parallel GEMM), and
search shuffles only candidate-bucket keys. Bucketing the stored
table by bucket/centroid id makes the candidate join co-located
(zero-shuffle) for repeated query batches.

Signatures are computed with one NumPy GEMM per Arrow batch inside
``mapInPandas`` — the hyperplane/centroid matrix rides inside the
closure (small: H·L·d or C·d floats).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from inside_vectordb_spark.functions.vector import (
    cosine_similarity,
    dot_product,
    l2_normalize,
)

_BUCKET_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("table_idx", IntegerType()),
        StructField("bucket", LongType()),
    ]
)


def _normalize_rows(mat: np.ndarray) -> np.ndarray:
    """L2-normalize rows; zero vectors pass through unchanged (the
    same contract as functions/vector.py:l2_normalize). THE one
    NumPy-side normalizer — review r7 found five inline copies of
    this idiom across the ANN modules; a zero-vector-semantics change
    must happen in exactly one place."""
    nrm = np.linalg.norm(mat, axis=1, keepdims=True)
    nrm[nrm == 0.0] = 1.0
    return mat / nrm


def _hyperplanes(dim: int, n_tables: int, n_bits: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(n_tables * n_bits, dim)).astype(np.float64)


def lsh_bucket_ids(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_tables: int = 4,
    n_bits: int = 12,
    seed: int = 42,
) -> DataFrame:
    """(id, table_idx, bucket): sign-bit LSH signatures, one row per
    table. One GEMM per Arrow batch: (B,d) @ (d, L·H) → sign bits →
    packed bucket ints."""
    planes = _hyperplanes(dim, n_tables, n_bits, seed)  # (L·H, d)
    weights = (1 << np.arange(n_bits, dtype=np.int64))  # bit packing

    v = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["id"].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf["v"].to_numpy()), dtype=np.float64)
            bits = (mat @ planes.T) > 0  # (B, L·H)
            bits = bits.reshape(len(ids), n_tables, n_bits)
            buckets = (bits * weights).sum(axis=2)  # (B, L)
            n = len(ids)
            yield pd.DataFrame(
                {
                    "id": np.repeat(ids, n_tables),
                    "table_idx": np.tile(np.arange(n_tables, dtype=np.int32), n),
                    "bucket": buckets.ravel(),
                }
            )

    return v.mapInPandas(bucketize, schema=_BUCKET_SCHEMA)


def rank_topk(scored: DataFrame, k: int, round_to: int | None = None) -> DataFrame:
    """THE Spark side of the ranked-answer contract (FIXTURES.md §6):
    ``(query_id, doc_id, score)`` → ``(query_id, doc_id, score, rank)``
    with rank 1..k per query by (score DESC, doc_id ASC), the score
    rounded to ``round_to`` decimals AFTER the cut when given. Every
    vector search ends here — a local top-k per partition, then this
    one global merge; ``topk._local_topk`` is its NumPy twin."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    out = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    if round_to is not None:
        out = out.withColumn("score", F.round("score", round_to))
    return out.select("query_id", "doc_id", "score", "rank")


def rounded_cosine_topk(pairs: DataFrame, k: int, corpus_vec: str) -> DataFrame:
    """Exact rerank of candidate pairs carrying the query vector
    ``__qv`` and the corpus vector ``corpus_vec``: the score is
    ``round(cosine, 6)`` and the window ranks the ROUNDED score, the
    convention the deterministic tiers' oracles restate."""
    return rank_topk(
        pairs.select(
            "query_id",
            "doc_id",
            F.round(cosine_similarity("__qv", corpus_vec), 6).alias("score"),
        ),
        k,
    )


def _rerank_candidates(
    cand: DataFrame, queries: DataFrame, corpus: DataFrame,
    query_id: str, query_vec: str, corpus_id: str, corpus_vec: str,
    k: int, round_to: int | None,
) -> DataFrame:
    """Exact cosine on (query_id, doc_id) candidate pairs, window top-k.
    Queries broadcast (small side); corpus joined on its id — at scale
    this is the only shuffle, keyed on candidate doc ids."""
    q = queries.select(
        F.col(query_id).alias("query_id"), l2_normalize(query_vec).alias("__qv")
    )
    c = corpus.select(
        F.col(corpus_id).alias("doc_id"), l2_normalize(corpus_vec).alias("__cv")
    )
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "doc_id")
        .select("query_id", "doc_id", dot_product("__qv", "__cv").alias("score"))
    )
    return rank_topk(scored, k, round_to)


def ann_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    n_tables: int = 4,
    n_bits: int = 12,
    seed: int = 42,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    round_to: int | None = 6,
    max_bucket_size: int | None = 2000,
) -> DataFrame:
    """ANN top-k via multi-table hyperplane LSH + exact re-rank.
    Raising n_tables (or lowering n_bits) raises recall at more
    candidate cost — the ef_search analogue.

    ``max_bucket_size`` bounds candidate generation: each (table,
    bucket) keeps at most that many corpus entries (deterministically,
    lowest ids), so one hot bucket — e.g. a near-duplicate-heavy
    corpus hashing many docs to the same signature — cannot degenerate
    the bucket join toward all-pairs. Work per bucket is O(cap·Q_b)
    instead of unbounded; recall on truncated buckets is recovered by
    the other L-1 tables. The cap shuffle shares the join's
    (table_idx, bucket) key, so at scale it rides the same exchange.
    """
    qb = lsh_bucket_ids(queries, query_id, query_vec, dim, n_tables, n_bits, seed)
    cb = lsh_bucket_ids(corpus, corpus_id, corpus_vec, dim, n_tables, n_bits, seed)
    if max_bucket_size is not None:
        wb = Window.partitionBy("table_idx", "bucket").orderBy("id")
        cb = (
            cb.withColumn("__bpos", F.row_number().over(wb))
            .filter(F.col("__bpos") <= max_bucket_size)
            .drop("__bpos")
        )
    cand = (
        F.broadcast(qb.select(F.col("id").alias("query_id"), "table_idx", "bucket"))
        .join(cb.select(F.col("id").alias("doc_id"), "table_idx", "bucket"),
              ["table_idx", "bucket"])
        .select("query_id", "doc_id")
        .distinct()
    )
    return _rerank_candidates(
        cand, queries, corpus, query_id, query_vec, corpus_id, corpus_vec, k, round_to
    )


_ASSIGN_SCHEMA = StructType(
    [StructField("id", LongType()), StructField("centroid_id", IntegerType())]
)


def kmeans_centroids(
    corpus: DataFrame,
    vec_col: str,
    n_centroids: int,
    seed: int = 42,
    max_iter: int = 10,
    sample_limit: int = 8192,
    id_col: str = "vec_id",
) -> np.ndarray:
    """Coarse quantizer trained on a deterministic id-ordered sample
    (``orderBy(id).limit(n)`` plans as TakeOrderedAndProject — a
    per-partition heap, no full sort shuffle; a bare ``limit`` without
    a sort would be partition-order-dependent on a real cluster).
    Quantizer quality only needs a representative sample, not the full
    100 TB. L2-normalized so euclidean k-means ≈ spherical k-means for
    cosine."""
    pdf = (
        corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("v"))
        .orderBy("__id")
        .limit(sample_limit)
        .toPandas()  # Arrow transfer; normalization in NumPy below
    )
    if pdf.empty:
        raise ValueError("kmeans_centroids: empty corpus")
    mat = _normalize_rows(np.array(list(pdf["v"]), dtype=np.float64))
    rng = np.random.RandomState(seed)
    cents = mat[rng.choice(len(mat), size=min(n_centroids, len(mat)), replace=False)]
    for _ in range(max_iter):
        assign = np.argmax(mat @ cents.T, axis=1)  # cosine on unit vectors
        for ci in range(len(cents)):
            members = mat[assign == ci]
            if len(members):
                c = members.mean(axis=0)
                nrm = np.linalg.norm(c)
                if nrm > 0:
                    cents[ci] = c / nrm
    return cents


def ivf_assign(
    vectors: DataFrame, id_col: str, vec_col: str, centroids: np.ndarray
) -> DataFrame:
    """(id, centroid_id): nearest-centroid assignment, one GEMM per
    Arrow batch. At rest this column is the partition/bucket key of
    the stored index table."""
    cents = centroids

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = _normalize_rows(
                np.array(list(pdf["v"].to_numpy()), dtype=np.float64)
            )
            a = np.argmax(mat @ cents.T, axis=1).astype(np.int32)
            yield pd.DataFrame({"id": pdf["id"].to_numpy(dtype=np.int64), "centroid_id": a})

    v = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return v.mapInPandas(assign, schema=_ASSIGN_SCHEMA)


def ann_ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """IVF ANN: probe the n_probe nearest centroids per query, exact
    re-rank within the probed inverted lists. n_probe = ef knob."""
    cents = kmeans_centroids(corpus, corpus_vec, n_centroids, seed, id_col=corpus_id)
    assignments = ivf_assign(corpus, corpus_id, corpus_vec, cents)

    # query → its n_probe nearest centroids (tiny: done driver-side)
    qrows = queries.select(
        F.col(query_id).alias("qid"), l2_normalize(query_vec).alias("v")
    ).collect()
    if not qrows:
        # np.array([]) is 1-D, and the matmul below would raise an
        # opaque shape error instead of naming the real problem
        raise ValueError("empty query set")
    qids = [r["qid"] for r in qrows]
    qmat = np.array([r["v"] for r in qrows], dtype=np.float64)
    order = np.argsort(-(qmat @ cents.T), axis=1)[:, :n_probe]
    spark = queries.sparkSession
    probes = spark.createDataFrame(
        [
            (int(qids[i]), int(order[i, j]))
            for i in range(len(qids))
            for j in range(order.shape[1])
        ],
        "query_id long, centroid_id int",
    )
    cand = (
        F.broadcast(probes)
        .join(assignments, "centroid_id")
        .select("query_id", F.col("id").alias("doc_id"))
    )
    return _rerank_candidates(
        cand, queries, corpus, query_id, query_vec, corpus_id, corpus_vec, k, round_to
    )
