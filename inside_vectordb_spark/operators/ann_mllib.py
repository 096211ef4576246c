"""Spark-native ANN tier: MLlib BucketedRandomProjectionLSH.

SURVEY.md §7 Phase 5(a): the stock-Spark ANN path — Euclidean-LSH
over L2-normalized vectors, where ``d² = 2·(1 − cos)`` turns the
euclidean approxSimilarityJoin into a cosine search. This tier
complements the custom hyperplane-LSH / IVF re-expressions
(``operators/ann.py``): same contract, zero custom hashing code,
everything inside MLlib's maintained implementation.

Reference analogue: the hnswlib/FAISS tiers (``003``/``004``) — like
them, quality is asserted statistically (recall retention vs exact,
``tests/test_ann.py``), not oracle-matched.

Knobs (ef_search analogues): ``num_tables`` (more tables → more
candidate overlap → higher recall), ``bucket_length`` (wider buckets
→ more candidates per bucket), ``threshold`` (distance cutoff for
the candidate join — MLlib filters ``dist < threshold`` STRICTLY, so
the 2.0 + ε default admits any cosine ≥ −1 including exact opposites
at d = 2.0; a plain 2.0 silently excluded them, review r9-5).

Scale: MLlib's approxSimilarityJoin explodes each side to (table,
hash-bucket) keys and equi-joins — the same banded join shape as our
custom LSH, so no cross product appears at any size. The fitted
model is a set of random unit vectors (O(dim·num_tables) bytes) and
broadcasts implicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inside_vectordb_spark.functions.vector import l2_norm, l2_normalize
from inside_vectordb_spark.operators.ann import rank_topk

# ann_brp_topk force-broadcasts its query side (build-side pin);
# batches above this ceiling are rejected rather than risking a
# broadcast OOM (advice r11). 1M rows × (64-dim float64 + hashes) is
# ~1 GB exploded — already generous for a serving batch.
_BROADCAST_QUERY_CEILING = 1_000_000


def ann_brp_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    num_tables: int = 3,
    bucket_length: float = 1.0,
    threshold: float = 2.0 + 1e-9,
    seed: int = 42,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """ANN top-k via MLlib BucketedRandomProjectionLSH.

    Returns (query_id, doc_id, score, rank) — the same contract as
    ``ann_lsh_topk`` / ``exact_cosine_topk`` so retention is directly
    comparable. score = cosine, recovered exactly from the euclidean
    distance on the unit sphere (``cos = 1 − d²/2``).

    BOUNDED QUERY BATCH ASSUMED (advice r11): the query side is
    force-broadcast to pin approxSimilarityJoin's build side (see the
    hint comment below), so the exploded query relation —
    |Q| · num_tables rows — must fit executor broadcast memory. That
    is the right contract for a top-k SERVING batch (every tier in
    this engine already driver-collects or broadcasts its query
    batch); feeding a corpus-sized "query" set through this operator
    is a near-dup-join misuse and raises here rather than OOMing the
    broadcast at runtime — ``dedup.embedding_near_duplicates_*`` is
    the operator that shape wants.
    """
    nq = queries.count()
    if nq > _BROADCAST_QUERY_CEILING:
        raise ValueError(
            f"ann_brp_topk broadcasts the query batch ({nq} rows > "
            f"{_BROADCAST_QUERY_CEILING}): pass a bounded serving batch, "
            "or use the near-dup join operators for corpus×corpus shapes"
        )
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(
        F.col(corpus_id).alias("doc_id"),
        array_to_vector(l2_normalize(corpus_vec).cast("array<double>")).alias(
            "features"
        ),
        (l2_norm(corpus_vec) == 0.0).alias("__zero"),
    )
    # broadcast-hint the QUERY side: approxSimilarityJoin's internal
    # hash join otherwise lets AQE pick the build side from a race on
    # which exploded stage materializes first (observed bimodal
    # counters at identical results, r10 verdict #4) — and the loser
    # state broadcasts the exploded CORPUS, which is exactly the side
    # that cannot be broadcast at scale. The hint propagates through
    # MLlib's join and pins build-right every run.
    q = F.broadcast(
        queries.select(
            F.col(query_id).alias("qid"),
            array_to_vector(l2_normalize(query_vec).cast("array<double>")).alias(
                "features"
            ),
            (l2_norm(query_vec) == 0.0).alias("__zero"),
        )
    )
    brp = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        numHashTables=num_tables,
        bucketLength=bucket_length,
        seed=seed,
    )
    model = brp.fit(c)
    joined = model.approxSimilarityJoin(c, q, threshold, distCol="dist")
    # d² = |q|² + |c|² − 2·q·c; on unit vectors 1 − d²/2 = cosine —
    # but a ZERO vector passes through l2_normalize unchanged (its
    # |·|² is 0, giving d = 1 and a phantom score of 0.5), so the
    # repo-wide cosine-of-zero convention (0.0, cosine_similarity's
    # contract) is restored explicitly (review r7)
    zero = F.col("datasetA.__zero") | F.col("datasetB.__zero")
    score = F.when(zero, F.lit(0.0)).otherwise(
        1.0 - F.col("dist") * F.col("dist") / 2.0
    )
    scored = joined.select(
        F.col("datasetB.qid").alias("query_id"),
        F.col("datasetA.doc_id").alias("doc_id"),
        score.alias("score"),
    )
    # rank on the UNROUNDED score like exact/ann_lsh, so near-tie
    # top-k membership matches theirs (review r9-5); rank_topk rounds
    # after the cut
    return rank_topk(scored, k, round_to)
