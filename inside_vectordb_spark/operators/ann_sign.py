"""Deterministic sign-LSH (random-hyperplane) ANN with a FULL DuckDB
oracle — the engine's hash-verifiable LSH tier.

The np.random hyperplane tier (``operators/ann.py``) matches the
reference's stochastic index builds (``003-hnswlib_demo.py:174-230``)
but has no SQL twin, so its driver row is rows-only. This variant
derives the hyperplanes from md5 parity bits instead: every sign is a
portable constant, the bucket computation is a plain Catalyst
expression, and the whole index → probe → rerank pipeline restates in
DuckDB SQL. Sign-random hyperplanes (components ±1) are the classic
Charikar construction — for cosine LSH the component distribution
only needs symmetry, so ±1 planes carry the same collision-probability
guarantee (P[same bit] = 1 − θ/π) as Gaussian ones.

``bits`` and ``dim`` are BUILD PARAMETERS (recorded in the index
meta.json and mirrored into the generated oracle SQL), not module
constants: the bucket count 2^bits is the candidate-set knob — at a
100× corpus the same module builds a 2^10- or 2^14-bucket index by
passing ``bits`` instead of editing source. ``SIGN_BITS``/``SIGN_DIM``
remain as the defaults the registered sf-scale queries use.

Scale shape (same as the stochastic tier): the corpus is scanned once
to bucket (narrow projection, no shuffle); the index is parquet
partitioned by bucket, so probing prunes unread partitions; the
candidate join is bucket-keyed; exact cosine rerank touches only
candidates.

The module also holds the deterministic IVF core, each decision
defined once: the id-modulo centroid rule (``id_rule``), the
nearest-centroid assignment (``_assign_nearest``), the probe window
(``probe_window``), the probe → lists → exact-rerank tail
(``_ivf_search``), and the persisted lists/cents writer and lists
delta writer (``_ensure_ivf``, ``_upsert_ivf``) behind the id-rule
``ivf_det`` and the trained ``ivf_km`` tiers. The det-IVFPQ tier
reuses the rule, the assignment, the probe window and the pruned
scan; SemDeDup the rule and the assignment; det-PQ the rule.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable
from functools import lru_cache

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inside_vectordb_spark import _generations as gen
from inside_vectordb_spark import _meta_io as mio
from inside_vectordb_spark.functions.vector import cosine_similarity
from inside_vectordb_spark.operators.ann import rounded_cosine_topk

SIGN_BITS = 6  # default: 64 buckets; ~N/64 candidates per query
SIGN_DIM = 64


def _sign(bit: int, j: int) -> int:
    h = hashlib.md5(f"sign:{bit}:{j}".encode()).hexdigest()
    return 1 if int(h[0], 16) % 2 == 0 else -1


@lru_cache(maxsize=32)
def sign_planes(bits: int = SIGN_BITS, dim: int = SIGN_DIM) -> tuple[tuple[int, ...], ...]:
    """±1 hyperplane components for a (bits, dim) index build — pure
    functions of (bit, j), so any two processes (Spark executors, the
    DuckDB oracle generator, a future rebuild) derive identical planes
    without shipping an artifact."""
    if bits < 2:
        raise ValueError(
            f"sign_planes: bits must be >= 2 (got {bits}) — the probe "
            "argmin needs at least one comparable pair of planes, and "
            "a 1-bit index degenerates to two buckets of half the "
            "corpus each"
        )
    return tuple(tuple(_sign(b, j) for j in range(dim)) for b in range(bits))


# Default planes shared by the registered sf-scale queries and their
# generated oracle SQL.
SIGN_PLANES: tuple[tuple[int, ...], ...] = sign_planes(SIGN_BITS, SIGN_DIM)


def spark_plane_dot_sql(vec_expr: str, signs) -> str:
    """The plane dot in Spark SQL: a left-associated literal sum over
    0-indexed elements — the identical operand sequence to the
    ``aggregate(zip_with(...))`` fold it replaces (fold: ((0.0 + x₀s₀)
    + x₁s₁) + …; literal sum: ((x₀s₀ + x₁s₁) + x₂s₂) + … — the same
    double-rounding chain, since 0.0 + x is exact), and to the DuckDB
    twin ``plane_dot_sql`` (1-indexed there). One parsed string per
    plane replaces ~70 py4j round trips, and the flat arithmetic
    whole-stage-codegens where the interpreted higher-order-function
    fold did not (optimization r12, guide §4.1 'prefer built-in
    expressions')."""
    return " + ".join(
        f"CAST({vec_expr}[{j}] AS DOUBLE) * ({float(s)})"
        for j, s in enumerate(signs)
    )


def sign_bucket(vec_col: Column | str, planes=None) -> Column:
    """Bucket id = the sign-bit signature of the vector against the
    hyperplanes — pure Catalyst (one left-assoc dot per plane,
    identical order to the SQL twin's left-assoc sum). The folds run
    as higher-order functions, which Spark interprets: a literal sum
    per plane grew the generated class of a sign-LSH search past
    Java's 64 KB method limit."""
    planes = SIGN_PLANES if planes is None else planes
    v = F.transform(
        F.col(vec_col) if isinstance(vec_col, str) else vec_col,
        lambda x: x.cast("double"),
    )
    total = None
    for b, signs in enumerate(planes):
        sarr = F.array(*[F.lit(float(s)) for s in signs])
        dot = F.aggregate(
            F.zip_with(v, sarr, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = F.when(dot >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        total = bit if total is None else total + bit
    return total.cast("int")


def plane_dot_sql(vec_expr: str, signs) -> str:
    """The plane dot as a left-associated literal sum — the same
    fold order as ``sign_bucket``'s aggregate, so signs agree
    bitwise."""
    return " + ".join(
        f"{vec_expr}[{j + 1}] * ({float(s)})" for j, s in enumerate(signs)
    )


def bucket_sql(vec_expr: str, planes=None) -> str:
    planes = SIGN_PLANES if planes is None else planes
    bits = [
        f"(CASE WHEN ({plane_dot_sql(vec_expr, signs)}) >= 0 THEN {1 << b} ELSE 0 END)"
        for b, signs in enumerate(planes)
    ]
    return "(" + " + ".join(bits) + ")"


def ensure_sign_index(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = SIGN_BITS,
    dim: int = SIGN_DIM,
) -> str:
    """Build (or reuse) the persisted sign-LSH index: (id, bucket)
    parquet partitioned by bucket, plus meta.json carrying the build
    params (``bits``/``dim`` — the bucket-count knob) and a corpus
    fingerprint (count + id range) so a changed corpus OR changed
    params at the same path trigger a rebuild. A rebuild names a fresh
    tombstone relation: tombstones from a prior index must not leak
    into the rebuilt one (same contract as the SQ tier)."""
    from inside_vectordb_spark.operators.ann_index import _corpus_fingerprint

    want = {
        "kind": "sign_lsh",
        "bits": bits,
        "dim": dim,
        "corpus": _corpus_fingerprint(corpus, id_col),
    }
    if gen.current(path, want) is not None:
        return path
    planes = sign_planes(bits, dim)
    with mio.commit_lock(path):
        meta = {**want, **gen.build_rels(path, "buckets")}
        corpus.select(
            F.col(id_col).alias("id"),
            sign_bucket(vec_col, planes).alias("bucket"),
        ).write.partitionBy("bucket").parquet(gen.rel_dir(path, meta, "buckets"))
        gen.commit_rels(path, meta)
    return path


def pruned_scan(rel: DataFrame, probes: DataFrame) -> DataFrame:
    """A cid-partitioned relation pruned to the probed centroids:
    collect the distinct probed cid set (≤ |queries| × n_probe rows —
    the audited driver-size contract) and filter with literal values,
    so unprobed partitions cost zero I/O (PartitionFilters, the FAISS
    nprobe economics) in every directory of the relation. The det-IVF
    lists, the registry's probe sweep and the det-IVFPQ codes all read
    through it."""
    probed = sorted({r["cid"] for r in probes.select("cid").distinct().collect()})
    return rel.filter(F.col("cid").isin(probed))


def _index_scan(spark: SparkSession, path: str, probed: list[int]) -> DataFrame:
    """The pruned (id, bucket) scan every sign-LSH search shares:
    partition-pruned to the probed buckets, with tombstoned ids
    anti-joined out, so deleted vectors can never reach candidate
    generation or the rerank. Buckets and tombstones resolve through
    one meta read."""
    meta = gen.read_meta(path, "sign_lsh", "sign-LSH")
    idx = gen.read_rel(spark, path, meta, "buckets").filter(
        F.col("bucket").isin(probed)
    )
    return gen.drop_deleted(spark, idx, path, meta, on="id")


def ann_sign_topk_indexed(
    spark: SparkSession,
    queries: DataFrame,
    corpus: DataFrame,
    path: str,
    k: int = 10,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    filter_col: str | None = None,
    bits: int = SIGN_BITS,
    dim: int = SIGN_DIM,
    exclude_self: bool | None = None,
) -> DataFrame:
    """Sign-LSH search against the persisted index: bucket the queries
    (Catalyst), prune the index scan to the probed buckets (genuine
    partition pruning — the probed bucket list is collected driver-side,
    bounded by the query count), bucket-join for candidates, exact
    cosine rerank, top-k per query with (score DESC, doc_id ASC)
    tie-break. Returns (query_id, doc_id, score, rank).

    ``filter_col``: optional metadata predicate — rank only corpus
    rows whose ``filter_col`` equals the query's (filtered ANN). The
    predicate composes WITH the index: bucket pruning still bounds
    the candidate scan, and the attribute filter lands on the rerank
    join — post-filtering, the strategy real vector stores use when
    the filter is not bucket-aligned.

    ``exclude_self``: drop rows where query_id == doc_id (self-
    retrieval). Decoupled from ``filter_col`` so the metadata
    predicate doesn't silently change self-match semantics; the
    default (None) preserves the historical coupling — self-exclusion
    on iff a filter is set — which the registered queries' oracles
    encode."""
    ensure_sign_index(
        spark, corpus, path, id_col=id_col, vec_col=vec_col, bits=bits, dim=dim
    )
    if exclude_self is None:
        exclude_self = filter_col is not None
    planes = sign_planes(bits, dim)
    qcols = [
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        sign_bucket(vec_col, planes).alias("bucket"),
    ]
    if filter_col is not None:
        qcols.append(F.col(filter_col).alias("__qf"))
    qb = queries.select(*qcols)
    probed = sorted({r["bucket"] for r in qb.select("bucket").distinct().collect()})
    idx = _index_scan(spark, path, probed)
    keep = ["query_id", "__qv", F.col("id").alias("doc_id")] + (
        ["__qf"] if filter_col is not None else []
    )
    cand = qb.join(idx, "bucket").select(*keep)
    ccols = [F.col(id_col).alias("doc_id"), F.col(vec_col).alias("__cv")] + (
        [F.col(filter_col).alias("__cf")] if filter_col is not None else []
    )
    withvec = cand.join(corpus.select(*ccols), "doc_id")
    if filter_col is not None:
        withvec = withvec.filter(F.col("__qf") == F.col("__cf"))
    if exclude_self:
        withvec = withvec.filter(F.col("query_id") != F.col("doc_id"))
    return rounded_cosine_topk(withvec, k, "__cv")


def sign_bucket_probes(vec_col: Column | str, planes=None) -> Column:
    """ARRAY<INT> of probed buckets: the base signature plus the
    signature with its lowest-|margin| bit flipped — classic
    margin-based multiprobe (Lv et al. '07): the plane the vector is
    closest to is the likeliest wrong bit, so flipping it roughly
    doubles recall for 2× candidate cost. Ties break on the lowest
    bit index. Same sequential-fold dots as ``sign_bucket``, so the
    SQL twin agrees bitwise."""
    planes = SIGN_PLANES if planes is None else planes
    n_bits = len(planes)
    v = F.transform(
        F.col(vec_col) if isinstance(vec_col, str) else vec_col,
        lambda x: x.cast("double"),
    )
    dots = []
    for signs in planes:
        sarr = F.array(*[F.lit(float(s)) for s in signs])
        dots.append(
            F.aggregate(
                F.zip_with(v, sarr, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    base = None
    for b, d in enumerate(dots):
        bit = F.when(d >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        base = bit if base is None else base + bit
    # argmin |dot| with lowest-index tie-break: strict < against all
    # previous planes, <= against all later ones.
    flip = None
    for b in range(n_bits):
        cond = None
        for o in range(n_bits):
            if o == b:
                continue
            c = (
                F.abs(dots[b]) < F.abs(dots[o])
                if o < b
                else F.abs(dots[b]) <= F.abs(dots[o])
            )
            cond = c if cond is None else cond & c
        flip = F.when(cond, F.lit(1 << b)) if flip is None else flip.when(
            cond, F.lit(1 << b)
        )
    return F.array(
        base.cast("int"), (base.cast("int")).bitwiseXOR(flip.cast("int"))
    )


def probes_sql(vec_expr: str, planes=None) -> str:
    """SQL twin of ``sign_bucket_probes`` (same argmin tie-break)."""
    planes = SIGN_PLANES if planes is None else planes
    n_bits = len(planes)
    dots = [f"({plane_dot_sql(vec_expr, signs)})" for signs in planes]
    base = bucket_sql(vec_expr, planes)
    whens = []
    for b in range(n_bits):
        conds = []
        for o in range(n_bits):
            if o == b:
                continue
            op = "<" if o < b else "<="
            conds.append(f"abs({dots[b]}) {op} abs({dots[o]})")
        whens.append(f"WHEN {' AND '.join(conds)} THEN {1 << b}")
    flip = "(CASE " + " ".join(whens) + " END)"
    return f"[{base}, xor({base}, {flip})]"


def ann_sign_multiprobe_topk(
    spark: SparkSession,
    queries: DataFrame,
    corpus: DataFrame,
    path: str,
    k: int = 10,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = SIGN_BITS,
    dim: int = SIGN_DIM,
) -> DataFrame:
    """Multiprobe sign-LSH against the persisted index: each query
    probes its base bucket AND the lowest-margin bit-flip bucket
    (2× candidates, ~2× recall — the X3 ef-style knob on the
    deterministic tier). Same pruned scan / bucket join / exact
    rerank shape as the single-probe search."""
    ensure_sign_index(
        spark, corpus, path, id_col=id_col, vec_col=vec_col, bits=bits, dim=dim
    )
    planes = sign_planes(bits, dim)
    qb = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.explode(sign_bucket_probes(vec_col, planes)).alias("bucket"),
    )
    probed = sorted({r["bucket"] for r in qb.select("bucket").distinct().collect()})
    idx = _index_scan(spark, path, probed)
    cand = qb.join(idx, "bucket").select(
        "query_id", "__qv", F.col("id").alias("doc_id")
    )
    withvec = cand.join(
        corpus.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("__cv")),
        "doc_id",
    )
    return rounded_cosine_topk(withvec, k, "__cv")


def ann_sign_probe_stats(
    spark: SparkSession,
    queries: DataFrame,
    corpus: DataFrame,
    path: str,
    n_probes: int = 1,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = SIGN_BITS,
    dim: int = SIGN_DIM,
) -> DataFrame:
    """The knob-sweep observable (X3/B3, the reference's ef sweep
    ``003-hnswlib_demo.py:408-458`` restated for the LSH tier): for a
    probe setting, the per-query CANDIDATE COUNT (the work the knob
    buys) and the best rounded cosine among candidates (the quality it
    buys). ``n_probes`` ∈ {1, 2}: 1 = base bucket, 2 = base + the
    lowest-|margin| bit flip. Returns (query_id, n_candidates,
    top1_score) — deterministic per-row values, fully SQL-restateable,
    and monotone in ``n_probes`` (probe-2 candidates ⊇ probe-1)."""
    if n_probes not in (1, 2):
        raise ValueError("n_probes must be 1 or 2")
    ensure_sign_index(
        spark, corpus, path, id_col=id_col, vec_col=vec_col, bits=bits, dim=dim
    )
    planes = sign_planes(bits, dim)
    bucket = (
        sign_bucket(vec_col, planes)
        if n_probes == 1
        else F.explode(sign_bucket_probes(vec_col, planes))
    )
    qb = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        bucket.alias("bucket"),
    )
    probed = sorted({r["bucket"] for r in qb.select("bucket").distinct().collect()})
    idx = _index_scan(spark, path, probed)
    cand = qb.join(idx, "bucket").select(
        "query_id", "__qv", F.col("id").alias("doc_id")
    )
    withvec = cand.join(
        corpus.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("__cv")),
        "doc_id",
    )
    return (
        withvec.groupBy("query_id")
        .agg(
            F.count("*").alias("n_candidates"),
            F.max(F.round(cosine_similarity("__qv", "__cv"), 6)).alias(
                "top1_score"
            ),
        )
    )


def ann_sign_probe_sweep(
    spark: SparkSession,
    queries: DataFrame,
    corpus: DataFrame,
    path: str,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = SIGN_BITS,
    dim: int = SIGN_DIM,
) -> DataFrame:
    """Both probe settings of the knob sweep in ONE candidate pass:
    (setting ∈ {probe1, probe2}, query_id, n_candidates, top1_score).

    ``ann_sign_probe_stats`` per setting scans/scores its full
    candidate set, and probe2's candidates are a superset of probe1's
    — two calls score every base-bucket candidate twice and collect
    the probed-bucket list twice. Here each query explodes to its
    (probe_rank, bucket) pairs ONCE (rank 0 = base, 1 = margin flip;
    a doc lives in exactly one bucket, so the two probe sets are
    disjoint), one pruned index scan + one corpus join scores every
    candidate exactly once, and a ROLLUP on (query, rank) produces
    both grains in a single aggregation pass: the (query, rank=0)
    rows are the probe1 setting, the rank-collapsed rows are probe2
    (their count/max over both disjoint probe sets ≡ the two-bucket
    search). No union of re-planned subtrees, no reliance on runtime
    exchange reuse — the plan has exactly one candidate join.
    Candidate scoring work drops ~40% vs the two-call form and the
    driver round-trips halve (one probed-bucket collect)."""
    ensure_sign_index(
        spark, corpus, path, id_col=id_col, vec_col=vec_col, bits=bits, dim=dim
    )
    planes = sign_planes(bits, dim)
    qb = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.posexplode(sign_bucket_probes(vec_col, planes)).alias("__p", "bucket"),
    )
    probed = sorted({r["bucket"] for r in qb.select("bucket").distinct().collect()})
    idx = _index_scan(spark, path, probed)
    withvec = (
        qb.join(idx, "bucket")
        .select("query_id", "__qv", "__p", F.col("id").alias("doc_id"))
        .join(
            corpus.select(
                F.col(id_col).alias("doc_id"), F.col(vec_col).alias("__cv")
            ),
            "doc_id",
        )
    )
    per = withvec.rollup("query_id", "__p").agg(
        F.count("*").alias("n_candidates"),
        F.max(F.round(cosine_similarity("__qv", "__cv"), 6)).alias("top1_score"),
        F.grouping("__p").alias("__gp"),
        F.grouping("query_id").alias("__gq"),
    )
    return per.filter(
        (F.col("__gq") == 0) & ((F.col("__gp") == 1) | (F.col("__p") == 0))
    ).select(
        F.when(F.col("__gp") == 1, F.lit("probe2"))
        .otherwise(F.lit("probe1"))
        .alias("setting"),
        "query_id",
        "n_candidates",
        "top1_score",
    )


def upsert_sign_index(
    spark: SparkSession,
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incremental maintenance of the persisted sign-LSH index — the
    hnswlib batched ``add_items`` loop (``003-hnswlib_demo.py:207-220``)
    as an append-only delta write: only the NEW vectors are bucketed
    (with the planes recorded in meta.json, so a bits=10 index stays a
    bits=10 index), and their rows land in a fresh ``buckets_d<n>``
    relation that the meta commit appends to the bucket relation's
    list — search reads the union and still partition-prunes each
    directory. O(delta) work; the stored fingerprint merges the
    delta so a later ``ensure_sign_index`` over the full corpus
    recognizes the maintained index as current. Because the bucket
    function is deterministic, an upserted index is BIT-IDENTICAL to a
    full rebuild over base ∪ delta — which is why the registered
    upsert query shares the plain search oracle.

    Contract (FAISS ``add``): delta ids disjoint from stored ids —
    ENFORCED (including against tombstones: a re-added deleted id
    would stay permanently masked by the surviving tombstone while
    the merged fingerprint counted it — silently unsearchable).

    Runs under the index commit lock (review r9): the upsert is a
    read-modify-write on the fingerprint and the relation list, and a
    concurrent compaction could otherwise fold a listing that predates
    this delta — silently dropping it while the merged fingerprint
    claims it is present."""
    with mio.commit_lock(path):
        return _upsert_sign_locked(spark, new_vectors, path, id_col, vec_col)


def _upsert_sign_locked(
    spark: SparkSession,
    new_vectors: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
) -> dict:
    from inside_vectordb_spark.operators.ann_index import (
        _assert_disjoint_delta,
        _corpus_fingerprint,
        _merge_fingerprint,
    )

    meta = gen.read_meta(path, "sign_lsh", "sign-LSH")
    stored_ids = gen.read_rel(spark, path, meta, "buckets").select("id")
    dead = gen.tombstones(spark, path, meta)
    if dead is not None:
        stored_ids = stored_ids.unionByName(dead)
    _assert_disjoint_delta(stored_ids, new_vectors.select(id_col), path)
    planes = sign_planes(meta["bits"], meta["dim"])
    rel = gen.delta_rel(path, "buckets")
    new_vectors.select(
        F.col(id_col).alias("id"),
        sign_bucket(vec_col, planes).alias("bucket"),
    ).write.partitionBy("bucket").parquet(mio.join(path, rel))
    meta["corpus"] = _merge_fingerprint(
        meta.get("corpus"), _corpus_fingerprint(new_vectors, id_col)
    )
    return gen.commit_rels(path, meta, {"buckets": rel})


def delete_from_sign_index(
    spark: SparkSession, path: str, ids: list[int]
) -> dict:
    """hnswlib ``mark_deleted`` analogue on the sign-LSH tier:
    tombstone doc ids WITHOUT rewriting the bucket table
    (``_generations.delete``). O(deleted) bytes written; compaction or
    a rebuild removes them physically. Idempotent per id. Runs under
    the index commit lock (review r9): a delete landing between
    compaction's live-row snapshot and its tombstone-dir removal
    would be silently dropped — the compacted index would resurrect
    the id."""
    with mio.commit_lock(path):
        meta = gen.read_meta(path, "sign_lsh", "sign-LSH")
        return gen.delete(spark, path, meta, ids)


def sign_deleted_ids(spark: SparkSession, path: str) -> set[int]:
    return gen.tombstone_ids(path, gen.read_meta(path))


def compact_sign_index(spark: SparkSession, path: str) -> dict:
    """OPTIMIZE for the sign-LSH tier (Delta ``OPTIMIZE`` / FAISS
    rebuild-without-retrain analogue; reference anchor: the index
    caching/rebuild economics of ``003-hnswlib_demo.py:234-251``).
    Upserts add delta relations that every search unions back in and
    deletes accumulate tombstone rows that EVERY search anti-joins —
    both costs grow without bound until a full rebuild. Compaction
    folds them back to the base shape at O(index) sequential I/O and
    ZERO recompute (the bucket assignment is already materialized; no
    re-hashing, unlike a rebuild), as one generation commit:

    1. under the commit lock, write (live buckets ⊖ tombstones) into
       a fresh ``buckets_g<n>``, one file per bucket partition, and
       validate its row count;
    2. commit meta naming it alone, with a fresh, empty tombstone
       relation and the tombstone bookkeeping moved (``n_deleted`` →
       ``n_compacted_away``, plus ``compacted``); the folded relations
       keep their one-commit grace for in-flight readers.

    The corpus fingerprint deliberately stays as-is: it is a LINEAGE
    identity (base ∪ every upsert delta), not a live-row count —
    tombstone-masked deletes never changed it, so compaction (the
    same logical rows, different physical layout) must not either.
    Recomputing it over the live rows broke the search path in
    testing: ``ann_sign_topk_indexed`` auto-ensures against the
    caller's ORIGINAL corpus, and the "shrunk" fingerprint read as a
    changed corpus → silent full rebuild that resurrected every
    deleted id.

    Search results are BIT-IDENTICAL before and after (the anti-join
    masked exactly the rows compaction removed) — pinned against the
    shared oracle in tests and on the driver via
    ``ann_signlsh_compacted``. Idempotent; a compacted index has one
    file per bucket and no tombstone dir. Side effect of physical
    removal: a compacted-away id MAY be re-upserted (the disjointness
    check no longer sees it), which is correct — no tombstone remains
    to mask it."""
    with mio.commit_lock(path):
        meta = gen.read_meta(path, "sign_lsh", "sign-LSH")
        buckets = gen.read_rel(spark, path, meta, "buckets")
        live = gen.drop_deleted(spark, buckets, path, meta, on="id")
        # emptiness guard BEFORE any write: an all-tombstoned index
        # must refuse (and an empty partitioned parquet dir can't even
        # be read back for validation — UNABLE_TO_INFER_SCHEMA)
        n_live = live.count()
        if n_live == 0:
            raise ValueError(
                f"compaction would leave the sign-LSH index at {path} "
                "EMPTY (every row tombstoned) — rebuild over a fresh "
                "corpus instead"
            )
        meta.update(gen.build_rels(path, "buckets"))
        out = gen.rel_dir(path, meta, "buckets")
        # one file per bucket partition (each bucket lands in exactly
        # one shuffle task), same physical shape as a fresh build
        live.repartition("bucket").write.partitionBy("bucket").parquet(out)
        # validate the WRITTEN data before committing it
        if spark.read.parquet(out).count() != n_live:
            raise RuntimeError(
                f"compaction wrote a torn bucket table at {out} — "
                "index left untouched"
            )
        removed = meta.pop("n_deleted", 0)
        if removed:
            meta["n_compacted_away"] = meta.get("n_compacted_away", 0) + removed
        meta["compacted"] = True
        return gen.commit_rels(path, meta)


def _assign_nearest(
    vectors: DataFrame, cents: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(doc_id, cid): each vector's nearest centroid by rounded
    cosine with cid tie-break — argmax expressed as
    min(struct(-score, cid)) so it partial-aggregates map-side. THE
    assignment rule for every IVF tier (det and km, build and
    O(delta) upsert); one implementation so the rounding/tie-break
    can never diverge between the call sites (review r6s2)."""
    ac = F.round(cosine_similarity(vec_col, "__cv"), 6)
    return (
        vectors.select(id_col, vec_col)
        .crossJoin(F.broadcast(cents))
        .select(
            F.col(id_col).alias("doc_id"),
            F.struct((-ac).alias("negs"), F.col("cid").alias("cid")).alias("__s"),
        )
        .groupBy("doc_id")
        .agg(F.min("__s").alias("__best"))
        .select("doc_id", F.col("__best.cid").alias("cid"))
    )


def id_rule(id_col: str, stride: int, cap: int) -> Column:
    """THE id-modulo centroid rule, ``id % stride == 1 AND id <
    stride * cap``: a training-free subsample BOUNDED at ``cap`` rows
    regardless of corpus size, which DuckDB restates literally. The
    det-IVF and det-IVFPQ coarse quantizers, the det-PQ codebooks and
    SemDeDup's clusters select their centroids with it, and the
    frozen-quantizer upserts reject delta ids that match it."""
    return ((F.col(id_col) % stride) == 1) & (F.col(id_col) < stride * cap)


def id_rule_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, stride: int, cap: int
) -> DataFrame:
    """(cid, __cv): the corpus rows ``id_rule`` selects."""
    return corpus.filter(id_rule(id_col, stride, cap)).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("__cv")
    )


def _require_id_rule_hit(cents: DataFrame, stride: int, cap: int) -> None:
    """Fail loudly when the id rule selects nothing: an offset id
    space (snowflake/partition-encoded) misses ``[1, stride*cap)``,
    and an empty quantizer would serve empty top-k forever. A
    ``limit(1)`` early-exit scan — dense ids hit the rule within the
    first ``stride`` rows. Called only where a guard has always run
    (the in-memory search and the build), never inside the shared
    rule, so pinned search plans gain no scan."""
    if cents.limit(1).count() == 0:
        raise ValueError(
            f"ivf_det centroid rule (id % {stride} == 1, id < "
            f"{stride * cap}) selects no corpus rows "
            "— ids don't intersect the rule range; use the km tier or "
            "adjust stride/cap"
        )


def probe_window(qb: DataFrame, cents: DataFrame, n_probe: int) -> DataFrame:
    """Each query's ``n_probe`` nearest centroids — THE probe rule of
    every deterministic IVF tier. ``qb`` carries (query_id, __qv, …),
    ``cents`` (cid, __cv, …); the ranking is cosine ROUNDED to 6 dp
    with cid tie-break, so it is cross-engine stable even at
    float-ulp ties. Keeps every input column plus the probe score
    ``__pc`` and rank ``__rn`` (1 = nearest). The query side is
    small, so a per-query window over ≤ cap broadcast rows is bounded
    work."""
    pw = Window.partitionBy("query_id").orderBy(F.desc("__pc"), F.asc("cid"))
    return (
        qb.crossJoin(F.broadcast(cents))
        .withColumn("__pc", F.round(cosine_similarity("__qv", "__cv"), 6))
        .withColumn("__rn", F.row_number().over(pw))
        .filter(F.col("__rn") <= n_probe)
    )


def _ivf_search(
    queries: DataFrame,
    corpus: DataFrame,
    cents: DataFrame,
    k: int,
    n_probe: int,
    query_id_col: str,
    id_col: str,
    vec_col: str,
    filter_col: str | None = None,
    lists: DataFrame | None = None,
) -> DataFrame:
    """The probe → lists → exact-rerank tail every deterministic IVF
    variant shares, so the id-rule, hash-rule and trained quantizers
    cannot diverge in search semantics. ``cents`` = (cid, __cv), any
    id type — ordering/tie-breaks only require the id to be
    orderable, not numeric.

    The inverted lists are either assigned in-plan (corpus × broadcast
    centroids, ``lists`` None) or a stored index's cid-partitioned
    ``lists`` relation, pruned to the probed cids (``pruned_scan``).
    Deterministic assignment makes both answer identically.

    ``filter_col``: optional metadata predicate — rank only corpus
    rows whose value equals the query's. Same composition as the
    sign-LSH tier: probing/assignment are untouched (the quantizer
    covers the full corpus), the predicate post-filters the rerank
    join, and self-matches are excluded iff a filter is set (the
    engine-wide coupling the registered oracles encode)."""
    qcols = [F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qv")]
    if filter_col is not None:
        qcols.append(F.col(filter_col).alias("__qf"))
    keep = ["query_id", "__qv", "cid"] + (
        ["__qf"] if filter_col is not None else []
    )
    probes = probe_window(queries.select(*qcols), cents, n_probe).select(*keep)
    if lists is None:
        lists = _assign_nearest(corpus, cents, id_col, vec_col)
    else:
        lists = pruned_scan(lists, probes)
    cand = probes.join(lists, "cid").drop("cid")
    ccols = [F.col(id_col).alias("doc_id"), F.col(vec_col).alias("__dv")] + (
        [F.col(filter_col).alias("__cf")] if filter_col is not None else []
    )
    withvec = cand.join(corpus.select(*ccols), "doc_id")
    if filter_col is not None:
        withvec = withvec.filter(F.col("__qf") == F.col("__cf")).filter(
            F.col("query_id") != F.col("doc_id")
        )
    return rounded_cosine_topk(withvec, k, "__dv")


def _ensure_ivf(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    want: dict,
    centroids: Callable[[], DataFrame],
    id_col: str,
    vec_col: str,
) -> str:
    """THE build of a persisted deterministic IVF index (det and km):
    reuse a complete index whose meta matches ``want`` (params +
    corpus fingerprint); otherwise write the centroid table ``cents``
    (``centroids()`` → (cid, __cv)) and assign the corpus against the
    STORED centroids into ``lists`` partitioned by cid (inverted lists
    as directory layout → probing = parquet partition pruning), both
    fresh generations, and commit them through meta. Stored centroids
    let O(delta) upserts assign without the base corpus and without
    retraining."""
    if gen.current(path, want) is not None:
        return path
    with mio.commit_lock(path):
        meta = {**want, **gen.build_rels(path, "cents", "lists")}
        cents_dir = gen.rel_dir(path, meta, "cents")
        centroids().write.parquet(cents_dir)
        assign = _assign_nearest(corpus, spark.read.parquet(cents_dir), id_col, vec_col)
        assign.repartition("cid").write.partitionBy("cid").parquet(
            gen.rel_dir(path, meta, "lists")
        )
        gen.commit_rels(path, meta)
    return path


def _upsert_ivf(
    spark: SparkSession,
    new_vectors: DataFrame,
    path: str,
    kind: str,
    id_col: str,
    vec_col: str,
    check_delta: Callable[[dict], None] | None = None,
) -> dict:
    """THE lists delta writer of the persisted deterministic IVF tiers
    (FAISS ``add``): assign ONLY the delta against the stored, frozen
    centroids into a fresh cid-partitioned ``lists_d<n>`` that the
    meta commit appends to the lists — O(delta) work, and
    deterministic assignment makes the maintained lists bit-identical
    to a build over base ∪ delta against the same centroids.
    ``check_delta(meta)`` runs a tier's own delta contract first. Delta ids must be DISJOINT from the stored ones
    (the append-only contract every upsert shares): a re-added id
    would be served twice in a top-k, so a retried maintenance job
    fails loudly instead.

    Serialized under the commit lock (review r9-4): without it the
    disjointness guard races a concurrent upsert of the same delta
    (both pass, both commit duplicate rows)."""
    from inside_vectordb_spark.operators.ann_index import (
        _assert_disjoint_delta,
        _corpus_fingerprint,
        _merge_fingerprint,
    )

    with mio.commit_lock(path):
        meta = gen.read_meta(path, kind)
        if check_delta is not None:
            check_delta(meta)
        _assert_disjoint_delta(
            gen.read_rel(spark, path, meta, "lists").select("doc_id"),
            new_vectors.select(id_col),
            path,
        )
        cents = gen.read_rel(spark, path, meta, "cents")
        assign = _assign_nearest(new_vectors, cents, id_col, vec_col)
        rel = gen.delta_rel(path, "lists")
        assign.repartition("cid").write.partitionBy("cid").parquet(
            mio.join(path, rel)
        )
        meta["corpus"] = _merge_fingerprint(
            meta.get("corpus"), _corpus_fingerprint(new_vectors, id_col)
        )
        return gen.commit_rels(path, meta, {"lists": rel})


def ann_ivf_det_topk(
    spark: SparkSession,
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    centroid_stride: int = 37,
    n_centroids_cap: int = 16,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    filter_col: str | None = None,
) -> DataFrame:
    """IVF with a DETERMINISTIC coarse quantizer — the FAISS-analogue
    tier made fully hash-verifiable (the np.random k-means IVF in
    ``operators/ann.py`` stays as the stochastic twin, rows-only).
    The centroid set is ``id_rule``'s id-selected corpus subsample —
    BOUNDED at ``n_centroids_cap`` regardless of corpus size, so the
    quantizer broadcast and the per-row assignment cost are O(cap) at
    any scale (FAISS accepts any coarse quantizer; sampled-point
    quantizers are the classic training-free variant).

    Assignment and probing (``_assign_nearest``, ``probe_window``)
    use cosine ROUNDED to 6 dp with centroid-id tie-break, and
    assignment is a map-side-combinable struct-min AGGREGATE (no
    window: corpus vectors never ride a shuffle keyed by row id).

    Scale shape: assignment is corpus × broadcast(centroids) — the
    one-pass index-build cost; probing touches ``n_probe`` inverted
    lists per query; the exact rerank sees only candidates."""
    cents = id_rule_centroids(
        corpus, id_col, vec_col, centroid_stride, n_centroids_cap
    )
    # same loud guard as the build path (review r9-4): with no
    # centroids every downstream join is empty, and the
    # similarity_join auto route would silently return a zero-row
    # "top-k" for any large corpus with non-dense ids
    _require_id_rule_hit(cents, centroid_stride, n_centroids_cap)
    return _ivf_search(
        queries, corpus, cents, k, n_probe, query_id_col, id_col, vec_col,
        filter_col=filter_col,
    )


def hash_centroids(
    corpus: DataFrame,
    centroid_stride: int = 7,
    n_centroids_cap: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hash-derived deterministic coarse quantizer for corpora whose
    ids are STRINGS (BEIR 'MED-10'-style keys, reference
    ``000-get_data.py:141`` — the id-modulo rule is unusable there):
    centroid candidates are rows whose 60-bit md5(id) prefix is ≡ 0
    mod ``stride``, bounded to the ``cap`` SMALLEST matching ids (a
    distributed TakeOrdered, never a single-partition window). Works
    for any orderable id type; restates in DuckDB as
    ``('0x' || substr(md5(id), 1, 15))::BIGINT % stride = 0 …
    ORDER BY id LIMIT cap``."""
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )
    return (
        corpus.filter((h % centroid_stride) == 0)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("__cv"))
        .orderBy("cid")
        .limit(n_centroids_cap)
    )


def ann_ivf_hash_topk(
    spark: SparkSession,
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    centroid_stride: int = 7,
    n_centroids_cap: int = 16,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    filter_col: str | None = None,
) -> DataFrame:
    """``ann_ivf_det_topk``'s string-id-capable sibling: identical
    search semantics (shared ``_ivf_search`` tail — assignment argmax,
    n_probe probing, exact rerank, all rounded-6dp + id tie-break),
    but the coarse quantizer is the md5-derived ``hash_centroids``
    rule, so a corpus keyed by STRING document ids (the reference's
    native key type) gets the same training-free deterministic IVF
    tier. Fully hash-verifiable: md5 arithmetic restates in DuckDB.

    The centroid set is persisted and counted eagerly: an empty
    quantizer (stride too large for the corpus — P(no id matches)
    ≈ (1−1/stride)^N) must FAIL LOUDLY here, exactly like
    ``ensure_ivf_det_index``'s empty-rule guard, never serve empty
    top-k forever; the count also materializes the TakeOrdered once
    for both its consumers (assignment and probing) (review r8).
    The ≤``n_centroids_cap``-row persist is not unpersisted — the
    returned plan reads it lazily; blocks evict LRU and correctness
    never depends on the persist (advisory r9)."""
    from pyspark import StorageLevel

    cents = hash_centroids(
        corpus, centroid_stride, n_centroids_cap, id_col, vec_col
    ).persist(StorageLevel.MEMORY_AND_DISK)
    if cents.count() == 0:
        raise ValueError(
            f"ivf_hash centroid rule (md5({id_col}) prefix % "
            f"{centroid_stride} == 0) selects no corpus rows — an empty "
            "quantizer would serve empty top-k results; lower the stride"
        )
    return _ivf_search(
        queries, corpus, cents, k, n_probe, query_id_col, id_col, vec_col,
        filter_col=filter_col,
    )


def ensure_ivf_det_index(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    centroid_stride: int = 37,
    n_centroids_cap: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Persist the deterministic-IVF index (``_ensure_ivf``): the
    assignment table partitioned by centroid id, so probing n_probe
    lists is genuine partition pruning, plus the centroid vectors
    for O(delta) upserts. Search never needs the stored centroids:
    they re-derive from the corpus by the stored rule (stride/cap in
    meta.json), the same no-shipped-artifact property the sign-plane
    generator has."""
    from inside_vectordb_spark.operators.ann_index import _corpus_fingerprint

    def centroids() -> DataFrame:
        cents = id_rule_centroids(
            corpus, id_col, vec_col, centroid_stride, n_centroids_cap
        )
        # never persist an empty "complete" index that serves empty
        # top-k forever (the one count is build-path-only cost)
        _require_id_rule_hit(cents, centroid_stride, n_centroids_cap)
        return cents

    want = {
        "kind": "ivf_det",
        "stride": centroid_stride,
        "cap": n_centroids_cap,
        "corpus": _corpus_fingerprint(corpus, id_col),
    }
    return _ensure_ivf(spark, corpus, path, want, centroids, id_col, vec_col)


def upsert_ivf_det_index(
    spark: SparkSession,
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """FAISS ``add`` on the deterministic-IVF tier (``_upsert_ivf``):
    the registered upsert query shares the plain search oracle.

    Contract: delta ids disjoint from stored ids AND disjoint from
    the centroid rule (``id % stride == 1 AND id < stride*cap``) — a
    rule-matching delta would change the re-derived quantizer, so it
    is REJECTED (rebuild instead, FAISS retrain semantics)."""

    def reject_rule_ids(meta: dict) -> None:
        stride, cap = int(meta["stride"]), int(meta["cap"])
        bad = new_vectors.filter(id_rule(id_col, stride, cap)).count()
        if bad:
            raise ValueError(
                f"{bad} delta ids match the centroid rule (id % {stride} == 1, "
                f"id < {stride * cap}); rebuild via ensure_ivf_det_index instead"
            )

    return _upsert_ivf(
        spark, new_vectors, path, "ivf_det", id_col, vec_col, reject_rule_ids
    )


def ann_ivf_det_topk_indexed(
    spark: SparkSession,
    queries: DataFrame,
    corpus: DataFrame,
    path: str,
    k: int = 10,
    n_probe: int = 4,
    centroid_stride: int = 37,
    n_centroids_cap: int = 16,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic IVF against the persisted inverted lists: probe
    selection is the same bounded centroid scan; the probed cid list
    (≤ queries × n_probe, collected driver-side) prunes the lists
    scan at the parquet partition level; candidates join raw vectors
    only for the exact rerank. Deterministic assignment makes results
    bit-identical to the in-memory ``ann_ivf_det_topk`` — the
    registered indexed query shares its oracle."""
    ensure_ivf_det_index(
        spark, corpus, path, centroid_stride, n_centroids_cap, id_col, vec_col
    )
    meta = gen.read_meta(path, "ivf_det")
    cents = id_rule_centroids(
        corpus, id_col, vec_col, centroid_stride, n_centroids_cap
    )
    return _ivf_search(
        queries, corpus, cents, k, n_probe, query_id_col, id_col, vec_col,
        lists=gen.read_rel(spark, path, meta, "lists"),
    )


def _km_centroids(
    corpus: DataFrame, km_k: int, km_iters: int, id_col: str, vec_col: str
) -> DataFrame:
    """(cid, __cv): the deterministic Lloyd centroids, one array per
    cluster in ``pos`` order."""
    from inside_vectordb_spark.operators.traindata import kmeans_lloyd

    km = kmeans_lloyd(corpus, k=km_k, iters=km_iters, id_col=id_col, vec_col=vec_col)
    return (
        km.groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "centroid"))),
                lambda s: s["centroid"],
            ).alias("__cv")
        )
        .select(F.col("cluster").alias("cid"), "__cv")
    )


def ann_ivf_km_topk(
    spark: SparkSession,
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    km_k: int = 8,
    km_iters: int = 2,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF with a TRAINED coarse quantizer — Lloyd k-means centroids
    instead of the id-sampled rule, which is how FAISS actually
    builds an IVF (train_coarse via k-means, then assign; reference
    ``004-faiss_demo.py`` nlist/nprobe path). Stays fully
    hash-verifiable because the training runs on the deterministic
    fixed-point ``kmeans_lloyd`` (quantized integer distances,
    rounded centroid updates, id tie-breaks) — the one k-means two
    engines reproduce bit-for-bit.

    A trained quantizer BALANCES the inverted lists (id-sampling makes
    list sizes data-independent luck): at scale, balanced lists mean
    probing n_probe of k lists touches ~n_probe/k of the corpus with
    low variance — the property that keeps IVF latency flat as the
    corpus grows. Assignment/probing use cosine against the quantized
    centroids (cosine is scale-invariant, so the ×quant training
    space needs no un-scaling), rounded at 6 dp with cid tie-breaks;
    rerank is exact cosine on the raw vectors over candidates only.

    Scale shape: training = km_iters broadcast-assignment passes (the
    MLlib KMeans shape); index assignment = one corpus ×
    broadcast(k×dim) pass; probes touch n_probe lists; only
    candidates reach the exact rerank."""
    cents = _km_centroids(corpus, km_k, km_iters, id_col, vec_col)
    return _ivf_search(
        queries, corpus, cents, k, n_probe, query_id_col, id_col, vec_col
    )


def ensure_ivf_km_index(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    km_k: int = 8,
    km_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Persist the TRAINED-quantizer IVF (``_ensure_ivf``): the Lloyd
    centroids (FAISS's trained coarse quantizer — unlike the det-IVF
    rule they cannot be re-derived at serving time without
    re-training, so the k×dim table IS part of the index artifact,
    exactly as FAISS serializes its quantizer) plus the assignment
    table partitioned by cid. Deterministic training makes rebuilds
    bit-identical."""
    from inside_vectordb_spark.operators.ann_index import _corpus_fingerprint

    want = {
        "kind": "ivf_km",
        "km_k": km_k,
        "km_iters": km_iters,
        "corpus": _corpus_fingerprint(corpus, id_col),
    }
    return _ensure_ivf(
        spark, corpus, path, want,
        lambda: _km_centroids(corpus, km_k, km_iters, id_col, vec_col),
        id_col, vec_col,
    )


def ann_ivf_km_topk_indexed(
    spark: SparkSession,
    queries: DataFrame,
    corpus: DataFrame,
    path: str,
    k: int = 10,
    n_probe: int = 4,
    km_k: int = 8,
    km_iters: int = 2,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Trained-quantizer IVF served from the persisted index: the
    stored k×dim centroid table broadcasts into probe selection
    (training never reruns at query time — the FAISS serve path),
    the probed cid set prunes the lists scan at the parquet partition
    level, and only candidates reach the exact rerank. Deterministic
    training + assignment ⇒ bit-identical to the in-memory
    ``ann_ivf_km_topk`` (the registered query shares its oracle)."""
    ensure_ivf_km_index(spark, corpus, path, km_k, km_iters, id_col, vec_col)
    meta = gen.read_meta(path, "ivf_km")
    return _ivf_search(
        queries, corpus, gen.read_rel(spark, path, meta, "cents"), k, n_probe,
        query_id_col, id_col, vec_col, lists=gen.read_rel(spark, path, meta, "lists"),
    )


def upsert_ivf_km_index(
    spark: SparkSession,
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """FAISS ``add`` on the trained-quantizer tier (``_upsert_ivf``):
    the quantizer is frozen by the artifact itself — FAISS never
    retrains on add. Unlike the rule-derived det-IVF the delta needs
    no id RULE, only ids disjoint from the stored ones. Drift stays
    the retrain decision (rebuild via ensure_ivf_km_index), exactly
    FAISS's train/add split."""
    return _upsert_ivf(spark, new_vectors, path, "ivf_km", id_col, vec_col)
