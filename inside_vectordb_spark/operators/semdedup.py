"""Semantic deduplication over embeddings (SemDeDup, Abbas et al.
2023, arXiv:2303.09540): remove documents whose EMBEDDINGS are
near-identical even when their text is not — the dedup layer that
catches paraphrases and templated rewrites MinHash/SimHash miss, run
by LLM-data pipelines after lexical dedup.

Faithful to the paper's shape, made hash-verifiable:

- The paper k-means-clusters the embeddings so the quadratic pairwise
  comparison runs WITHIN clusters only; here the clustering is the
  deterministic id-sampled quantizer the det-IVF tier uses (same
  assignment rule, rounded tie-stable cosine argmax), so the whole
  pipeline restates in SQL.
- Within each cluster, pairs with rounded cosine ≥ threshold are
  semantic duplicates.
- Keeper rule: GREEDY SENIORITY — a document is dropped iff a
  lower-id in-cluster near-twin exists (the same min-id keeper
  convention as the engine's exact dedup); the transitive-closure
  variant (groups, not pairs) is ``near_duplicate_clusters``'
  territory and composes on top of the pair list.

Scale shape — the paper's own argument: the cluster assignment is one
broadcast-join pass; the quadratic cost is sharded per cluster (a
cid-keyed self-join — both sides shuffle once on cid, no global
cartesian), bounded by the largest cluster; at 100 TB you raise
``n_clusters`` so clusters stay bounded (per-cluster pair cost is
O((N/k)²) — the default scales k with corpus size at ~1 centroid per
10k docs precisely so a 100× corpus does NOT re-quadratize the
self-join), and a skewed giant cluster is exactly the AQE skew-join
case. The pair list ships only (ids, cid, cos) — never embeddings —
out of the join.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inside_vectordb_spark.functions.vector import dot_product, l2_normalize
from inside_vectordb_spark.operators.ann_sign import _assign_nearest, id_rule_centroids

# SemDeDup's own quantizer knobs — deliberately NOT the det-IVFPQ
# constants (round-5 advisory: the hard-wired 16-centroid cap made
# per-cluster pair cost O((N/16)²) with no way to raise it).
SEMDEDUP_COARSE_STRIDE = 37
SEMDEDUP_DOCS_PER_CLUSTER = 10_000
SEMDEDUP_MIN_CLUSTERS = 16


def _semdedup_coarse(
    emb: DataFrame, id_col: str, vec_col: str, n_clusters: int
) -> DataFrame:
    """Deterministic id-sampled coarse centroids (same rule as the
    det-IVF tier, but with a caller-controlled cluster count).

    Fails LOUDLY when the id rule selects nothing (an id space that
    does not intersect ``{i : i % stride == 1, i < stride·k}``):
    zero centroids would make ``_assign_nearest`` drop every document and
    semantic dedup silently report zero pairs / zero drops — the same
    guard ``ensure_ivf_det_index`` grew in r6 (advice r6)."""
    cents = id_rule_centroids(
        emb, id_col, vec_col, SEMDEDUP_COARSE_STRIDE, n_clusters
    )
    if not cents.limit(1).count() and emb.limit(1).count():
        # dedup over an EMPTY corpus is well-defined (no pairs) — only
        # a non-empty corpus the rule cannot see is the silent no-op
        raise ValueError(
            "semantic dedup: the deterministic centroid rule "
            f"(id % {SEMDEDUP_COARSE_STRIDE} == 1 AND id < "
            f"{SEMDEDUP_COARSE_STRIDE}*{n_clusters}) selected no rows "
            f"from column {id_col!r} — the corpus id space does not "
            "intersect the sampling rule; remap ids or raise "
            "n_clusters"
        )
    return cents


def _default_n_clusters(emb: DataFrame) -> int:
    """~1 centroid per 10k docs, floored at 16 — keeps the expected
    within-cluster pair cost O(N · docs_per_cluster) instead of
    O(N²/k) with a fixed k. One metadata-only count() job."""
    from inside_vectordb_spark.io import fast_count

    n = fast_count(emb) or emb.count()
    return max(SEMDEDUP_MIN_CLUSTERS, math.ceil(n / SEMDEDUP_DOCS_PER_CLUSTER))


def semantic_dedup_pairs(
    emb: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, cid, sim): within-cluster pairs (doc_a < doc_b)
    with rounded cosine ≥ threshold. ``n_clusters`` shards the
    quadratic stage; None = scale with corpus size (the 16-cluster
    fixture stays the oracle-checked setting)."""
    if n_clusters is None:
        n_clusters = _default_n_clusters(emb)
    cents = _semdedup_coarse(emb, id_col, vec_col, n_clusters)
    assign = _assign_nearest(emb, cents, id_col, vec_col)
    # Normalize ONCE per document (the flagship O6 trick): the pair
    # stage then pays a single dot product per pair instead of
    # re-deriving both operands' norms inside every pair's cosine —
    # 3× fewer array aggregates on the quadratic stage (measured
    # 5.4 → ~2 s on the sf0.1 headline). The hoisted projection is
    # referenced by both join sides, so it is NOT collapsed into the
    # pair expression (the engine's generator/projection re-eval
    # hazard). The DuckDB twin normalizes identically.
    withvec = assign.join(
        emb.select(
            F.col(id_col).alias("doc_id"),
            l2_normalize(F.col(vec_col)).alias("__nv"),
        ),
        "doc_id",
    )
    a = withvec.select(
        F.col("cid"), F.col("doc_id").alias("doc_a"), F.col("__nv").alias("__na")
    )
    b = withvec.select(
        F.col("cid"), F.col("doc_id").alias("doc_b"), F.col("__nv").alias("__nb")
    )
    return (
        a.join(b, "cid")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "cid",
            F.round(dot_product("__na", "__nb"), 6).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def semantic_dedup_dropped(
    emb: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | None = None,
) -> DataFrame:
    """(doc_id, senior_twin, cid, sim): one row per DROPPED document —
    its lowest-id senior near-twin as the witness (ties on witness id
    resolve to that witness's pair cosine). Survivors are the
    complement; the seniority rule means a doc survives iff no
    lower-id in-cluster near-twin exists — the public SemDeDup
    reference implementation's upper-triangular rule, under which a
    doc is dropped when ANY senior doc is within threshold, even one
    that was itself dropped. The witness is therefore the drop CAUSE,
    not necessarily a kept doc (review r9-3 renamed it from the
    misleading ``kept_twin``): in a chain 1~2, 2~3, 1≁3, doc 3's
    witness is doc 2, which doc 1 displaced. Consumers that need a
    surviving representative should resolve the witness chain to its
    root (the root has no senior twin, hence IS kept) via
    ``near_dup_clusters``-style pointer jumping."""
    pairs = semantic_dedup_pairs(emb, threshold, id_col, vec_col, n_clusters)
    return (
        pairs.select(
            F.col("doc_b").alias("doc_id"),
            F.col("cid"),
            F.struct(
                F.col("doc_a").alias("senior_twin"), F.col("sim").alias("sim")
            ).alias("__w"),
        )
        .groupBy("doc_id", "cid")
        .agg(F.min("__w").alias("__best"))
        .select(
            "doc_id",
            F.col("__best.senior_twin").alias("senior_twin"),
            "cid",
            F.col("__best.sim").alias("sim"),
        )
    )
