"""IVFPQ with deterministic quantizers — FAISS ``IndexIVFPQ``
(reference: ``004-faiss_demo.py:279-320``) made fully hash-verifiable,
completing the det-tier program (sign-LSH → det-IVF → det-PQ →
det-IVFPQ): the trained k-means IVFPQ in ``operators/pq.py`` stays as
the stochastic twin (rows-only + retention tests); this tier puts the
full inverted-file + residual-product-quantization SEARCH SEMANTICS on
the driver's hard signal.

Faithful to the FAISS composition:

- Coarse quantizer: the det-IVF id-sampled centroid set
  (``id % 37 == 1 AND id < 592``), assignment = rounded tie-stable
  cosine argmax — identical rule to ``ann_ivf_det_topk``, so the two
  tiers share inverted-list structure.
- RESIDUAL encoding (the part IVFPQ adds over plain PQ): each vector's
  residual ``r = x − coarse_centroid(x)`` splits into ``m_sub``
  subspaces, and the per-subspace codebook is the id-sampled RESIDUAL
  slice set (``id % 31 == 2 AND id < 496`` — disjoint rule from the
  coarse set). Encode = rounded tie-stable L2² argmin per subspace.
- Search = probe ``n_probe`` nearest coarse lists per query, then ADC
  in residual space: ``‖q − (c + r̂)‖² = Σ_m ‖(q_m − c_m) − r̂_m‖²`` —
  the query-residual distance table is (Q × n_probe × m_sub × ksub)
  partial squared distances, broadcast-sized. Top ``cand_k`` by
  rounded approximate distance rerank with exact cosine.

Scale shape: the at-rest artifact is the codes table PARTITIONED BY
coarse cid — the inverted lists hold COMPRESSED codes (m_sub small
ints/vector), so probing prunes unread partitions AND the scanned
bytes per probe are ~48× smaller than raw vectors; the ADC join is
integer-keyed against a broadcast table; raw embeddings are touched
only by the candidate-keyed exact rerank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inside_vectordb_spark import _generations as gen
from inside_vectordb_spark import _meta_io as mio
from inside_vectordb_spark.functions.vector import as_double_array
from inside_vectordb_spark.operators.ann import rounded_cosine_topk
from inside_vectordb_spark.operators.ann_sign import (
    _assign_nearest,
    id_rule_centroids,
    probe_window,
    pruned_scan,
)
from inside_vectordb_spark.operators.pq_det import _l2sq, _sub_explode

IVFPQ_COARSE_STRIDE = 37
IVFPQ_COARSE_CAP = 16
IVFPQ_RES_STRIDE = 31
IVFPQ_RES_OFFSET = 2
IVFPQ_RES_CAP = 16
IVFPQ_M = 8
IVFPQ_CAND_K = 50


def _residuals(
    corpus: DataFrame, cents: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(doc_id, cid, __rv): x − coarse_centroid(x), in double."""
    assign = _assign_nearest(corpus, cents, id_col, vec_col)
    return (
        corpus.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("__xv"))
        .join(assign, "doc_id")
        .join(F.broadcast(cents), "cid")
        .select(
            "doc_id",
            "cid",
            F.zip_with(
                as_double_array(F.col("__xv")),
                as_double_array(F.col("__cv")),
                lambda a, b: a - b,
            ).alias("__rv"),
        )
    )


def _res_codebook(res: DataFrame, m_sub: int, dim: int) -> DataFrame:
    """(cbid, m, __rcv): id-sampled residual slices — the per-subspace
    codebook, bounded at IVFPQ_RES_CAP rows."""
    rows = res.filter(
        ((F.col("doc_id") % IVFPQ_RES_STRIDE) == IVFPQ_RES_OFFSET)
        & (F.col("doc_id") < IVFPQ_RES_STRIDE * IVFPQ_RES_CAP)
    ).select(F.col("doc_id").alias("cbid"), "__rv")
    return _sub_explode(rows, "__rv", "__rcv", m_sub, dim)


def _encode_res(res: DataFrame, rcb_sub: DataFrame, m_sub: int, dim: int):
    """(doc_id, cid, m, cbid): per-subspace nearest residual-centroid
    codes (rounded L2², cbid tie-break, partial-aggregating)."""
    res_sub = _sub_explode(res, "__rv", "__rsv", m_sub, dim)
    d2 = F.round(_l2sq(F.col("__rsv"), F.col("__rcv")), 6)
    return (
        res_sub.join(F.broadcast(rcb_sub), "m")
        .select(
            "doc_id",
            "cid",
            "m",
            F.struct(d2.alias("d2"), F.col("cbid").alias("cbid")).alias("__s"),
        )
        .groupBy("doc_id", "cid", "m")
        .agg(F.min("__s").alias("__best"))
        .select("doc_id", "cid", "m", F.col("__best.cbid").alias("cbid"))
    )


def ensure_ivfpq_det_index(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    m_sub: int = IVFPQ_M,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Persist the IVFPQ codes PARTITIONED BY coarse cid — inverted
    lists of compressed codes (probe pruning AND 48× scan-volume cut
    in one layout). Both quantizers re-derive from stored rules, so
    meta.json needs only params, the corpus fingerprint and the
    relation map that commits the fresh codes and residual codebook."""
    from inside_vectordb_spark.operators.ann_index import _corpus_fingerprint

    want = {
        "kind": "ivfpq_det",
        "m": m_sub,
        "dim": dim,
        "coarse_stride": IVFPQ_COARSE_STRIDE,
        "coarse_cap": IVFPQ_COARSE_CAP,
        "res_stride": IVFPQ_RES_STRIDE,
        "res_cap": IVFPQ_RES_CAP,
        "corpus": _corpus_fingerprint(corpus, id_col),
    }
    if gen.current(path, want) is not None:
        return path
    cents = id_rule_centroids(
        corpus, id_col, vec_col, IVFPQ_COARSE_STRIDE, IVFPQ_COARSE_CAP
    )
    res = _residuals(corpus, cents, id_col, vec_col)
    rcb_sub = _res_codebook(res, m_sub, dim)
    codes = _encode_res(res, rcb_sub, m_sub, dim)
    with mio.commit_lock(path):
        meta = {**want, **gen.build_rels(path, "codes", "rcb")}
        codes.repartition("cid").write.partitionBy("cid").parquet(
            gen.rel_dir(path, meta, "codes")
        )
        rcb_sub.write.parquet(gen.rel_dir(path, meta, "rcb"))
        gen.commit_rels(path, meta)
    return path


def ann_ivfpq_det_topk(
    spark: SparkSession,
    queries: DataFrame,
    corpus: DataFrame,
    path: str | None = None,
    k: int = 10,
    n_probe: int = 4,
    cand_k: int = IVFPQ_CAND_K,
    m_sub: int = IVFPQ_M,
    dim: int = 64,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic IVFPQ search. With ``path`` the codes come from
    the persisted partition-pruned inverted lists; without, they are
    computed in-plan — identical results either way (deterministic
    encode), so both registered variants share one oracle."""
    cents = id_rule_centroids(
        corpus, id_col, vec_col, IVFPQ_COARSE_STRIDE, IVFPQ_COARSE_CAP
    )
    if path is not None:
        ensure_ivfpq_det_index(
            spark, corpus, path, m_sub, dim, id_col, vec_col
        )
        meta = gen.read_meta(path, "ivfpq_det", "det-IVFPQ")
        rcb_sub = gen.read_rel(spark, path, meta, "rcb")
    else:
        res = _residuals(corpus, cents, id_col, vec_col)
        rcb_sub = _res_codebook(res, m_sub, dim)
    # queries → n_probe nearest coarse centroids (bounded window)
    qb = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    probes = probe_window(qb, cents, n_probe).select(
        "query_id", "__qv", "cid", "__cv"
    )
    # query residual per probed list, sliced into subspaces
    qres = probes.select(
        "query_id",
        "cid",
        F.zip_with(
            as_double_array(F.col("__qv")),
            as_double_array(F.col("__cv")),
            lambda a, b: a - b,
        ).alias("__qr"),
    )
    qres_sub = _sub_explode(qres, "__qr", "__qrm", m_sub, dim)
    dtable = qres_sub.join(F.broadcast(rcb_sub), "m").select(
        "query_id",
        "cid",
        "m",
        "cbid",
        _l2sq(F.col("__qrm"), F.col("__rcv")).alias("pd"),
    )
    if path is not None:
        codes = pruned_scan(gen.read_rel(spark, path, meta, "codes"), probes)
    else:
        codes = _encode_res(res, rcb_sub, m_sub, dim)
    aw = Window.partitionBy("query_id").orderBy(F.asc("__a"), F.asc("doc_id"))
    cand = (
        codes.join(F.broadcast(dtable), ["cid", "m", "cbid"])
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("pd"), 6).alias("__a"))
        .withColumn("__rn", F.row_number().over(aw))
        .filter(F.col("__rn") <= cand_k)
        .select("query_id", "doc_id")
    )
    withq = cand.join(F.broadcast(qb), "query_id")
    withvec = withq.join(
        corpus.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("__dv")),
        "doc_id",
    )
    return rounded_cosine_topk(withvec, k, "__dv")
