"""Product quantization with a DETERMINISTIC codebook — the FAISS
``IndexPQ`` analogue (reference: ``004-faiss_demo.py:172-220``) made
fully hash-verifiable, the same recipe that made the IVF tier
oracle-checkable (``operators/ann_sign.py:ann_ivf_det_topk``): replace
the trained (np.random k-means) codebook with an id-selected corpus
subsample and make every argmin/argmax a ROUNDED, tie-stable
expression, so the entire encode→ADC→rerank chain restates exactly in
DuckDB SQL. The k-means-trained PQ/IVFPQ in ``operators/pq.py`` stays
registered as the stochastic twin (rows-only + retention tests); this
tier puts PQ SEARCH SEMANTICS on the driver's hard signal.

How it maps to FAISS PQ:

- The vector splits into ``m_sub`` contiguous subspaces
  (``004:178``: ``m=8`` sub-quantizers).
- Codebook per subspace: the sub-slices of the id-sampled corpus rows
  ``id % stride == 1 AND id < stride * cap`` — BOUNDED at ``cap``
  centroids per subspace regardless of corpus size (sampled-point
  codebooks are the classic training-free variant).
- Encode: per (vector, subspace), the code is the centroid with the
  minimum squared L2 distance, ROUNDED to 6 dp, centroid-id
  tie-break — computed as a map-side-combinable struct-min aggregate
  (no window over corpus rows).
- Search is ADC (asymmetric distance computation): the query builds a
  per-subspace distance table against the codebook (Q × m_sub × cap
  partial dot products — broadcast-sized), and each document's
  approximate score is the cosine of the query against the document's
  RECONSTRUCTION, assembled from table lookups:
  ``dot(q, recon) = Σ_m dot(q_m, c[m][code_m])`` and
  ``|recon|² = Σ_m |c[m][code_m]|²``.
- The top ``cand_k`` by rounded approximate score rerank with exact
  cosine on raw vectors (FAISS refine), top ``k`` out.

Scale shape: codes are ``m_sub`` small ints per vector (the 48×
compression that lets a 100 TB corpus's PQ representation fit hot
storage); the ADC scan is O(N·m_sub) integer-keyed lookups against a
broadcast table — the same cost FAISS pays, here as one partial-
aggregated groupBy; nothing O(corpus) shuffles except the compressed
codes themselves, and the exact rerank touches only candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inside_vectordb_spark import _generations as gen
from inside_vectordb_spark import _meta_io as mio
from inside_vectordb_spark.functions.vector import (
    as_double_array,
    cosine_similarity,
    dot_product,
    l2_norm,
)
from inside_vectordb_spark.operators.ann import rounded_cosine_topk
from inside_vectordb_spark.operators.ann_sign import id_rule, id_rule_centroids

PQ_DET_STRIDE = 29
PQ_DET_CAP = 16
PQ_DET_M = 8
PQ_DET_CAND_K = 50


def _sub_explode(df: DataFrame, vec_col: str, out_col: str, m_sub: int, dim: int):
    """(…, m, <out_col>) — the vector sliced into m_sub contiguous
    subspaces (posexplode keeps it one narrow JVM-side projection).
    Indivisible dims are REJECTED like the k-means PQ twin: silently
    dropping the trailing dim % m_sub dimensions would generate codes
    (and ADC scores) from a truncated vector with no error
    (review r8)."""
    if dim % m_sub != 0:
        raise ValueError(
            f"dim={dim} not divisible by m_sub={m_sub} — the trailing "
            f"{dim % m_sub} dimensions would silently never influence "
            "codes or scores"
        )
    dsub = dim // m_sub
    v = as_double_array(F.col(vec_col))
    slices = F.array(*[F.slice(v, m * dsub + 1, dsub) for m in range(m_sub)])
    other = [c for c in df.columns if c != vec_col]
    return df.select(*other, F.posexplode(slices).alias("m", out_col))


def _l2sq(a, b):
    """Squared L2 distance, strict sequential fold (matches the
    DuckDB ``list_sum(list_transform(range…))`` restatement)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _encode(
    corpus: DataFrame,
    cents_sub: DataFrame,
    id_col: str,
    vec_col: str,
    m_sub: int,
    dim: int,
) -> DataFrame:
    """(doc_id, m, cid): per-subspace nearest-centroid codes via a
    partial-aggregating struct-min (rounded distance, cid tie)."""
    corpus_sub = _sub_explode(
        corpus.select(F.col(id_col).alias("doc_id"), vec_col),
        vec_col,
        "__xv",
        m_sub,
        dim,
    )
    d2 = F.round(_l2sq(F.col("__xv"), F.col("__cv")), 6)
    return (
        corpus_sub.join(F.broadcast(cents_sub), "m")
        .select(
            "doc_id",
            "m",
            F.struct(d2.alias("d2"), F.col("cid").alias("cid")).alias("__s"),
        )
        .groupBy("doc_id", "m")
        .agg(F.min("__s").alias("__best"))
        .select("doc_id", "m", F.col("__best.cid").alias("cid"))
    )


def _adc_ranked(
    queries: DataFrame,
    codes: DataFrame,
    cents_sub: DataFrame,
    query_id_col: str,
    vec_col: str,
    m_sub: int,
    dim: int,
):
    """(qb, ranked): the query base and the full ADC approximate
    ranking (query_id, doc_id, __rn) — shared by search (one prefix)
    and the refine-depth sweep (several prefixes of the SAME
    ranking)."""
    qb = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    q_sub = _sub_explode(qb, "__qv", "__qvm", m_sub, dim)
    dtable = q_sub.join(F.broadcast(cents_sub), "m").select(
        "query_id",
        "m",
        "cid",
        dot_product(F.col("__qvm"), F.col("__cv")).alias("pd"),
        dot_product(F.col("__cv"), F.col("__cv")).alias("cn2"),
    )
    approx = (
        codes.join(F.broadcast(dtable), ["m", "cid"])
        .groupBy("query_id", "doc_id")
        .agg(F.sum("pd").alias("dotqr"), F.sum("cn2").alias("rn2"))
    )
    qn = qb.select("query_id", l2_norm(F.col("__qv")).alias("__qn"))
    aw = Window.partitionBy("query_id").orderBy(F.desc("__a"), F.asc("doc_id"))
    ranked = (
        approx.join(F.broadcast(qn), "query_id")
        .withColumn(
            "__a",
            F.round(F.col("dotqr") / (F.col("__qn") * F.sqrt(F.col("rn2"))), 6),
        )
        .withColumn("__rn", F.row_number().over(aw))
        .select("query_id", "doc_id", "__rn")
    )
    return qb, ranked


def _adc_search(
    queries: DataFrame,
    codes: DataFrame,
    corpus: DataFrame,
    cents_sub: DataFrame,
    k: int,
    cand_k: int,
    query_id_col: str,
    id_col: str,
    vec_col: str,
    m_sub: int,
    dim: int,
) -> DataFrame:
    qb, ranked = _adc_ranked(
        queries, codes, cents_sub, query_id_col, vec_col, m_sub, dim
    )
    cand = ranked.filter(F.col("__rn") <= cand_k).select("query_id", "doc_id")
    withq = cand.join(F.broadcast(qb), "query_id")
    withvec = withq.join(
        corpus.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("__dv")),
        "doc_id",
    )
    return rounded_cosine_topk(withvec, k, "__dv")


def ann_pq_det_topk(
    spark: SparkSession,
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    cand_k: int = PQ_DET_CAND_K,
    m_sub: int = PQ_DET_M,
    dim: int = 64,
    centroid_stride: int = PQ_DET_STRIDE,
    n_centroids_cap: int = PQ_DET_CAP,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """In-memory deterministic-PQ search: encode + ADC + exact rerank
    in one plan (the build cost is paid per call; the persisted twin
    amortizes it)."""
    cents = id_rule_centroids(
        corpus, id_col, vec_col, centroid_stride, n_centroids_cap
    )
    cents_sub = _sub_explode(cents, "__cv", "__cv", m_sub, dim)
    codes = _encode(corpus, cents_sub, id_col, vec_col, m_sub, dim)
    return _adc_search(
        queries, codes, corpus, cents_sub, k, cand_k,
        query_id_col, id_col, vec_col, m_sub, dim,
    )


def ensure_pq_det_index(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    m_sub: int = PQ_DET_M,
    dim: int = 64,
    centroid_stride: int = PQ_DET_STRIDE,
    n_centroids_cap: int = PQ_DET_CAP,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Persist the PQ codes table (doc_id, m, cid) — m_sub small ints
    per vector, the compressed representation FAISS keeps in RAM. The
    codebook needs no artifact: centroids re-derive from the corpus
    by the stored rule (stride/cap/m in meta.json — the same
    no-shipped-artifact property the sign-plane generator has). The
    codes and the codebook rows are fresh generations committed
    through meta, with a fresh tombstone relation: a rebuild compacts
    tombstones away (FAISS retrain semantics)."""
    from inside_vectordb_spark.operators.ann_index import _corpus_fingerprint

    want = {
        "kind": "pq_det",
        "m": m_sub,
        "dim": dim,
        "stride": centroid_stride,
        "cap": n_centroids_cap,
        "corpus": _corpus_fingerprint(corpus, id_col),
    }
    if gen.current(path, want) is not None:
        return path
    cents = id_rule_centroids(
        corpus, id_col, vec_col, centroid_stride, n_centroids_cap
    )
    cents_sub = _sub_explode(cents, "__cv", "__cv", m_sub, dim)
    codes = _encode(corpus, cents_sub, id_col, vec_col, m_sub, dim)
    with mio.commit_lock(path):
        meta = {**want, **gen.build_rels(path, "codes", "cents")}
        codes.write.parquet(gen.rel_dir(path, meta, "codes"))
        # the codebook rows persist so O(delta) upserts can encode
        # without the base corpus
        cents_sub.write.parquet(gen.rel_dir(path, meta, "cents"))
        gen.commit_rels(path, meta)
    return path


def upsert_pq_det_index(
    spark: SparkSession,
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incremental maintenance of the persisted PQ codes — FAISS
    ``add`` on an already-trained IndexPQ: the codebook is FROZEN (it
    derives from the stored stride/cap rule), so only the delta is
    encoded, into a fresh ``codes_d<n>`` that the meta commit appends
    to the codes relation. O(delta) work; because encode is
    deterministic, the maintained index is BIT-IDENTICAL to a full
    rebuild over base ∪ delta — the registered upsert query shares the
    plain search oracle.

    Contract: delta ids disjoint from stored ids AND disjoint from
    the centroid-selection rule (``id % stride == 1 AND id <
    stride*cap``) — a delta row matching the rule would change the
    re-derived codebook and silently diverge from a rebuild, so it is
    REJECTED here (the caller rebuilds instead, exactly like FAISS
    retraining)."""
    # serialize maintenance under the commit lock (review r9-4, the
    # hnsw/sign r9-2 rule applied tier-wide): without it the
    # disjointness guard races a concurrent upsert of the same delta
    # (both pass, both commit duplicate rows)
    with mio.commit_lock(path):
        from inside_vectordb_spark.operators.ann_index import (
            _corpus_fingerprint,
            _merge_fingerprint,
        )

        meta = gen.read_meta(path, "pq_det")
        stride, cap = int(meta["stride"]), int(meta["cap"])
        m_sub, dim = int(meta["m"]), int(meta["dim"])
        bad = new_vectors.filter(id_rule(id_col, stride, cap)).count()
        if bad:
            raise ValueError(
                f"{bad} delta ids match the centroid rule (id % {stride} == 1, "
                f"id < {stride * cap}); they would retrain the codebook — "
                "rebuild via ensure_pq_det_index instead"
            )
        from inside_vectordb_spark.operators.ann_index import _assert_disjoint_delta

        _assert_disjoint_delta(
            # distinct: codes carry m rows per doc — without it a single
            # duplicate id reports as m duplicates and the semi-join scans
            # the un-deduplicated relation (review r8; the LSH twin
            # already dedupes)
            gen.read_rel(spark, path, meta, "codes").select("doc_id").distinct(),
            new_vectors.select(id_col),
            path,
        )
        # encode the delta against the FROZEN codebook: the centroid rows
        # live in the stored corpus, which the caller passes as new_vectors'
        # sibling — re-derive them from the codes' source by the rule is
        # impossible from the delta alone, so the codebook rides in from
        # the stored raw vectors at search time; here we only need the
        # centroid VECTORS, which the index stores for exactly this reason.
        cents_sub = gen.read_rel(spark, path, meta, "cents")
        codes = _encode(new_vectors, cents_sub, id_col, vec_col, m_sub, dim)
        rel = gen.delta_rel(path, "codes")
        codes.write.parquet(mio.join(path, rel))
        meta["corpus"] = _merge_fingerprint(
            meta.get("corpus"), _corpus_fingerprint(new_vectors, id_col)
        )
        return gen.commit_rels(path, meta, {"codes": rel})


def delete_from_pq_det_index(
    spark: SparkSession, path: str, ids: "list[int] | DataFrame"
) -> dict:
    """FAISS ``remove_ids`` on the PQ tier: tombstone doc ids WITHOUT
    rewriting codes (``_generations.delete``). The codebook is
    untouched (FAISS never retrains on remove). O(deleted) bytes; a
    rebuild compacts tombstones away. Idempotent per id.

    ``ids`` is a DataFrame with one LONG column (stays on the
    executors end to end — a delete set can be O(corpus) at crawl
    scale and must never round-trip the driver) or a small list."""
    with mio.commit_lock(path):
        meta = gen.read_meta(path, "pq_det")
        return gen.delete(spark, path, meta, ids)


def _live_codes(spark: SparkSession, path: str) -> DataFrame:
    """The stored codes without tombstoned docs, both resolved through
    one meta read."""
    meta = gen.read_meta(path, "pq_det")
    return gen.drop_deleted(spark, gen.read_rel(spark, path, meta, "codes"), path, meta)


def ann_pq_det_topk_indexed(
    spark: SparkSession,
    queries: DataFrame,
    corpus: DataFrame,
    path: str,
    k: int = 10,
    cand_k: int = PQ_DET_CAND_K,
    m_sub: int = PQ_DET_M,
    dim: int = 64,
    centroid_stride: int = PQ_DET_STRIDE,
    n_centroids_cap: int = PQ_DET_CAP,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic PQ against the persisted codes: the ADC scan
    reads the compressed codes parquet (never the raw vectors); raw
    embeddings are touched only by the candidate-keyed exact rerank.
    Deterministic encode makes results bit-identical to the in-memory
    ``ann_pq_det_topk`` — the registered indexed query shares its
    oracle, so the green hash IS the stored==fresh proof."""
    ensure_pq_det_index(
        spark, corpus, path, m_sub, dim, centroid_stride, n_centroids_cap,
        id_col, vec_col,
    )
    cents = id_rule_centroids(
        corpus, id_col, vec_col, centroid_stride, n_centroids_cap
    )
    cents_sub = _sub_explode(cents, "__cv", "__cv", m_sub, dim)
    codes = _live_codes(spark, path)
    return _adc_search(
        queries, codes, corpus, cents_sub, k, cand_k,
        query_id_col, id_col, vec_col, m_sub, dim,
    )


def pq_det_refine_sweep(
    spark: SparkSession,
    queries: DataFrame,
    corpus: DataFrame,
    path: str,
    depths: tuple[int, ...] = (10, PQ_DET_CAND_K),
    m_sub: int = PQ_DET_M,
    dim: int = 64,
    centroid_stride: int = PQ_DET_STRIDE,
    n_centroids_cap: int = PQ_DET_CAP,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The FAISS refine-factor knob on the hard signal: per query and
    rerank depth, the candidate count paid and the best exact cosine
    it buys — deeper prefixes of the SAME ADC ranking contain the
    shallower ones, so top1_score is monotone in depth and the whole
    curve is hash-checkable. Returns (setting, query_id, n_candidates,
    top1_score)."""
    ensure_pq_det_index(
        spark, corpus, path, m_sub, dim, centroid_stride, n_centroids_cap,
        id_col, vec_col,
    )
    cents = id_rule_centroids(
        corpus, id_col, vec_col, centroid_stride, n_centroids_cap
    )
    cents_sub = _sub_explode(cents, "__cv", "__cv", m_sub, dim)
    # the sweep measures the index state SEARCH serves: tombstoned
    # docs must not occupy candidate slots or set top1_score
    # (review r8 — the search path anti-joined, the sweep didn't)
    codes = _live_codes(spark, path)
    qb, ranked = _adc_ranked(
        queries, codes, cents_sub, query_id_col, vec_col, m_sub, dim
    )
    vecs = corpus.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("__dv"))
    pieces = []
    for depth in depths:
        cand = ranked.filter(F.col("__rn") <= depth).select("query_id", "doc_id")
        stats = (
            cand.join(F.broadcast(qb), "query_id")
            .join(vecs, "doc_id")
            .groupBy("query_id")
            .agg(
                F.count("*").alias("n_candidates"),
                F.max(F.round(cosine_similarity("__qv", "__dv"), 6)).alias(
                    "top1_score"
                ),
            )
        )
        pieces.append(
            stats.select(
                F.lit(f"refine{depth}").alias("setting"),
                "query_id",
                "n_candidates",
                "top1_score",
            )
        )
    out = pieces[0]
    for p_ in pieces[1:]:
        out = out.unionByName(p_)
    return out
