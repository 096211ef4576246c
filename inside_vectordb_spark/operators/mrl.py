"""Matryoshka (dimension-sliced) coarse-to-fine ANN search.

MRL embeddings (Kusupati et al. '22) train every prefix of the vector
to be a usable embedding, so a cheap first pass can score only the
first ``prefix_dim`` dimensions and a second pass reranks the
survivors at full width — the adaptive-retrieval recipe the paper's
"funnel retrieval" describes. The reference's quality discipline for
approximate tiers (exact-baseline comparison,
``002-brute_force_similarity.py:133-160``) applies unchanged; this
tier is fully deterministic, so it carries a complete DuckDB
value-hash oracle like the det-IVF/PQ tiers.

Scale shape:
- Stage 1 scans prefix_dim/dim of the vector bytes (32/64 here = 2×
  less flops and memory bandwidth than exact; at a 1536-dim
  production width, 64/1536 = 24×). The window's rank ≤ C rides
  WindowGroupLimit, so each map task forwards at most C rows per
  query — only (query_id, doc_id, pre_score) triples ever shuffle,
  never vectors.
- Stage 2 broadcast-joins the tiny candidate list back into the
  corpus scan (map-side filter) and rescores Q·C rows at full width.

Both stages rank on ROUNDED scores with doc_id tie-breaks — the
repo's cross-engine determinism rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from inside_vectordb_spark import _generations as gen
from inside_vectordb_spark import _meta_io as mio
from inside_vectordb_spark.functions.vector import cosine_similarity
from inside_vectordb_spark.operators.ann import rounded_cosine_topk

# Trained MRL embeddings front-load variance into the prefix; the
# synthetic testdata's dimensions are exchangeable, so the registry
# knobs are conservative (32/64 prefix, 100 candidates -> recall@10
# 0.91 vs exact at sf0.01; a trained checkpoint would take 16/64).
MRL_PREFIX_DIM = 32
MRL_CANDIDATES = 100


def _funnel(
    q: DataFrame,
    prefix_side: DataFrame,
    corpus: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    k: int,
    n_candidates: int,
) -> DataFrame:
    """The shared two-stage funnel: coarse prefix cosine over
    ``prefix_side`` (doc_id, __cpre) with a WindowGroupLimit cut at
    ``n_candidates``, then broadcast-joined full-width exact rerank.
    ONE implementation for the in-memory and persisted-index paths so
    tie-break/rounding semantics can never drift from the shared
    oracle. ``q`` carries (query_id, __qv, __qpre)."""
    coarse = (
        F.broadcast(q.select("query_id", "__qpre"))
        .crossJoin(prefix_side)
        .select(
            "query_id",
            "doc_id",
            F.round(cosine_similarity("__qpre", "__cpre"), 6).alias("__ps"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("__ps"), F.asc("doc_id"))
    cand = (
        coarse.withColumn("__crn", F.row_number().over(wc))
        .filter(F.col("__crn") <= n_candidates)
        .select("query_id", "doc_id")
    )
    pairs = (
        corpus.select(F.col(corpus_id).alias("doc_id"), F.col(corpus_vec).alias("__cv"))
        .join(F.broadcast(cand), "doc_id")
        .join(F.broadcast(q.select("query_id", "__qv")), "query_id")
    )
    return rounded_cosine_topk(pairs, k, "__cv")


def ann_mrl_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    prefix_dim: int = MRL_PREFIX_DIM,
    n_candidates: int = MRL_CANDIDATES,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """(query_id, doc_id, score, rank): top-k by full-width cosine
    among the ``n_candidates`` best prefix-cosine docs per query."""
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv"),
        F.slice(query_vec, 1, prefix_dim).alias("__qpre"),
    )
    c_pre = corpus.select(
        F.col(corpus_id).alias("doc_id"),
        F.slice(corpus_vec, 1, prefix_dim).alias("__cpre"),
    )
    return _funnel(q, c_pre, corpus, corpus_id, corpus_vec, k, n_candidates)


def build_mrl_index(
    corpus: DataFrame,
    path: str,
    prefix_dim: int = MRL_PREFIX_DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Persist the Matryoshka prefix table: (doc_id, prefix) parquet
    holding only the first ``prefix_dim`` dims — the narrow artifact
    stage 1 scans instead of the full-width vectors (prefix_dim/dim of
    the vector bytes; a storage-level column prune the main table
    can't express because the slice is INSIDE the array column).
    Extraction is deterministic, so stored prefixes ≡ fresh slices and
    the indexed search shares the in-memory query's full oracle."""
    from inside_vectordb_spark.operators.ann_index import _corpus_fingerprint

    meta = {
        "kind": "mrl",
        "prefix_dim": prefix_dim,
        "corpus": _corpus_fingerprint(corpus, id_col),
    }
    with mio.commit_lock(path):
        meta.update(gen.build_rels(path, "prefixes"))
        corpus.select(
            F.col(id_col).alias("doc_id"),
            F.slice(vec_col, 1, prefix_dim).alias("prefix"),
        ).write.parquet(gen.rel_dir(path, meta, "prefixes"))
        return gen.commit_rels(path, meta)


def ensure_mrl_index(corpus: DataFrame, path: str, **params) -> dict:
    from inside_vectordb_spark.operators.ann_index import _corpus_fingerprint

    # validate against the RESOLVED params (defaults applied) — a
    # caller relying on the MRL_PREFIX_DIM default must not silently
    # accept an artifact built at another width (review r7)
    want = {
        "kind": "mrl",
        "prefix_dim": int(params.get("prefix_dim", MRL_PREFIX_DIM)),
        **{
            k: v
            for k, v in params.items()
            if k not in ("id_col", "vec_col", "prefix_dim")
        },
        "corpus": _corpus_fingerprint(corpus, params.get("id_col", "vec_id")),
    }
    return gen.current(path, want) or build_mrl_index(corpus, path, **params)


def ann_mrl_topk_indexed(
    queries: DataFrame,
    corpus: DataFrame,
    path: str,
    k: int = 10,
    n_candidates: int = MRL_CANDIDATES,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """MRL funnel against the persisted prefix table: stage 1 scans
    the prefixes parquet (narrow), stage 2 broadcast-joins the
    candidate list into the full-width corpus for the exact rerank —
    vectors never shuffle in either stage."""
    meta = gen.read_meta(path, "mrl", "MRL")
    spark = queries.sparkSession
    prefix_dim = int(meta["prefix_dim"])
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv"),
        F.slice(query_vec, 1, prefix_dim).alias("__qpre"),
    )
    pre_tab = gen.read_rel(spark, path, meta, "prefixes").select(
        "doc_id", F.col("prefix").alias("__cpre")
    )
    return _funnel(q, pre_tab, corpus, corpus_id, corpus_vec, k, n_candidates)


def ann_mrl_sq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    prefix_dim: int = MRL_PREFIX_DIM,
    n_candidates: int = MRL_CANDIDATES,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    stats=None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Matryoshka + SQ8 composition — the recipe real vector stores
    ship for quantized adaptive retrieval (store int8 codes for the
    PREFIX, rerank survivors at full float width): stage 1 scores the
    approximate cosine over DECODED prefix codes (prefix_dim/dim of
    the data, at 1 byte/dim instead of 4 — an 8× byte reduction on
    top of MRL's slice), stage 2 is the funnel's exact full-width
    rerank, which absorbs the quantization error exactly like the SQ
    tier's refine step. Queries stay full-precision (FAISS
    convention: only the corpus side is quantized). Fully
    deterministic → complete DuckDB value-hash oracle.

    ``stats``/``codes`` let the persisted path inject stored
    artifacts; by default both derive from ``corpus``."""
    from inside_vectordb_spark.operators.sq import (
        sq_decode_col,
        sq_encode_col,
        sq_train,
    )

    pre = corpus.select(
        F.col(corpus_id).alias("doc_id"),
        F.slice(corpus_vec, 1, prefix_dim).alias("__pre"),
    )
    mins, spans = stats if stats is not None else sq_train(pre, "__pre")
    if codes is None:
        codes = pre.select(
            "doc_id", sq_encode_col("__pre", mins, spans).alias("codes")
        )
    dec = codes.select(
        "doc_id", sq_decode_col("codes", mins, spans).alias("__cpre")
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv"),
        F.slice(query_vec, 1, prefix_dim).alias("__qpre"),
    )
    return _funnel(q, dec, corpus, corpus_id, corpus_vec, k, n_candidates)


def build_mrl_sq_index(
    corpus: DataFrame,
    path: str,
    prefix_dim: int = MRL_PREFIX_DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Persist the QUANTIZED prefix table: (doc_id, codes) with one
    int code per prefix dimension, plus the per-dimension (min, span)
    quantizer stats in meta.json (2·prefix_dim doubles — the trained
    state, frozen at build time exactly like the SQ tier's). Encoding
    is deterministic given the stats, and the stats ride in the meta,
    so stored codes ≡ fresh codes and the indexed search shares the
    in-memory query's full oracle (the hash match IS the
    stored==fresh proof on the driver's hard signal)."""
    from inside_vectordb_spark.operators.ann_index import _corpus_fingerprint
    from inside_vectordb_spark.operators.sq import sq_encode_col, sq_train

    pre = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.slice(vec_col, 1, prefix_dim).alias("__pre"),
    )
    mins, spans = sq_train(pre, "__pre")
    meta = {
        "kind": "mrl_sq",
        "prefix_dim": prefix_dim,
        "mins": [float(v) for v in mins],
        "spans": [float(v) for v in spans],
        "corpus": _corpus_fingerprint(corpus, id_col),
    }
    with mio.commit_lock(path):
        meta.update(gen.build_rels(path, "prefix_codes"))
        pre.select(
            "doc_id", sq_encode_col("__pre", mins, spans).alias("codes")
        ).write.parquet(gen.rel_dir(path, meta, "prefix_codes"))
        return gen.commit_rels(path, meta)


def ensure_mrl_sq_index(corpus: DataFrame, path: str, **params) -> dict:
    from inside_vectordb_spark.operators.ann_index import _corpus_fingerprint

    # validate RESOLVED defaults (the ensure_* class rule); mins/spans
    # are derived state, not identity — params + corpus fingerprint
    # fully determine them
    want = {
        "kind": "mrl_sq",
        "prefix_dim": int(params.get("prefix_dim", MRL_PREFIX_DIM)),
        "corpus": _corpus_fingerprint(corpus, params.get("id_col", "vec_id")),
    }
    return gen.current(path, want) or build_mrl_sq_index(corpus, path, **params)


def ann_mrl_sq_topk_indexed(
    queries: DataFrame,
    corpus: DataFrame,
    path: str,
    k: int = 10,
    n_candidates: int = MRL_CANDIDATES,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """MRL+SQ funnel against the persisted quantized prefix table:
    stage 1 decodes the stored int8 codes with the stored stats (1
    byte/dim at rest, prefix width only), stage 2 broadcast-joins the
    candidates into the full-width corpus for the exact rerank."""
    import numpy as np

    meta = gen.read_meta(path, "mrl_sq", "MRL-SQ")
    spark = queries.sparkSession
    codes = gen.read_rel(spark, path, meta, "prefix_codes")
    return ann_mrl_sq_topk(
        queries,
        corpus,
        k=k,
        prefix_dim=int(meta["prefix_dim"]),
        n_candidates=n_candidates,
        query_id=query_id,
        query_vec=query_vec,
        corpus_id=corpus_id,
        corpus_vec=corpus_vec,
        stats=(
            np.array(meta["mins"], dtype=np.float64),
            np.array(meta["spans"], dtype=np.float64),
        ),
        codes=codes,
    )


def upsert_mrl_index(corpus_delta: DataFrame, path: str, id_col: str = "vec_id", vec_col: str = "embedding") -> dict:
    """O(delta) maintenance of the prefix table: slice ONLY the new
    vectors at the stored width into a fresh ``prefixes_d<n>`` that
    the meta commit appends to the prefix relation — prefix
    extraction has no trained state, so (unlike a quantizer) an upsert
    can never drift from a rebuild; the merged artifact is
    byte-equivalent to build-from-scratch over the union (pinned in
    tests). Readers keep serving the previous index until the commit."""
    from inside_vectordb_spark.operators.ann_index import (
        _assert_disjoint_delta,
        _corpus_fingerprint,
        _merge_fingerprint,
    )

    # the whole read-meta → write-delta → commit sequence runs under
    # the commit lock (review r9-4): without it two concurrent upserts
    # read-modify-write the same fingerprint and relation list (the
    # loser's rows vanish from meta)
    with mio.commit_lock(path):
        meta = gen.read_meta(path, "mrl", "MRL")
        _assert_disjoint_delta(
            gen.read_rel(corpus_delta.sparkSession, path, meta, "prefixes").select(
                "doc_id"
            ),
            corpus_delta.select(id_col),
            path,
        )
        prefix_dim = int(meta["prefix_dim"])
        rel = gen.delta_rel(path, "prefixes")
        corpus_delta.select(
            F.col(id_col).alias("doc_id"),
            F.slice(vec_col, 1, prefix_dim).alias("prefix"),
        ).write.parquet(mio.join(path, rel))
        meta["corpus"] = _merge_fingerprint(
            meta.get("corpus"), _corpus_fingerprint(corpus_delta, id_col)
        )
        return gen.commit_rels(path, meta, {"prefixes": rel})


def compact_mrl_index(spark, path: str) -> dict:
    """OPTIMIZE for the MRL prefix table (review r9-4): O(delta)
    upserts add delta relations (and small files) without bound, and
    the documented remedy — "rebuild via ensure_mrl_index" — no-ops
    by design (the merged fingerprint matches what a full build would
    record, so ensure correctly sees the index as current). Compaction
    is the real remedy: under the commit lock, rewrite the union of
    the prefix relation into one fresh generation of ~target-size
    files with the engine's zero-shuffle small-file compactor (scan
    bin-packing — pure sequential I/O, no recompute: the prefixes are
    already materialized), validate the row count, then commit it
    alone. Rows and the corpus fingerprint are unchanged — search
    results are bit-identical before and after (the tier has no
    tombstones; compaction is purely physical)."""
    from inside_vectordb_spark.operators.layout import compact_small_files

    with mio.commit_lock(path):
        meta = gen.read_meta(path, "mrl", "MRL")
        prefixes = [mio.join(path, rel) for rel in meta["rels"]["prefixes"]]
        n_before = gen.read_rel(spark, path, meta, "prefixes").count()
        meta.update(gen.build_rels(path, "prefixes"))
        out = gen.rel_dir(path, meta, "prefixes")
        stats = compact_small_files(spark, prefixes, out)
        if spark.read.parquet(out).count() != n_before:
            raise RuntimeError(
                f"compaction wrote a torn prefix table at {out} — "
                "index left untouched"
            )
        meta["compacted"] = True
        gen.commit_rels(path, meta)
        meta["files_before"] = stats.get("files_before")
        meta["files_after"] = stats.get("files_after")
    return meta
