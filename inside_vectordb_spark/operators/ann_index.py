"""Persisted ANN index artifacts (S9) for the LSH, PQ and SQ8 tiers.

The reference serializes its graph indexes to binary files and
reloads them on the next run (hnswlib ``003-hnswlib_demo.py:234-257``
``save_index``/``load_index``; FAISS ``004-faiss_demo.py:223-249``
``write_index``/``read_index``), skipping the expensive rebuild when
the artifact exists (cache check ``003:234-251``).

Spark-native index-at-rest:

- **LSH** (S9 analogue): the capped (id, table_idx, bucket) table as
  parquet partitioned by ``table_idx``. Hyperplanes are derived
  deterministically from the stored seed, so the artifact is
  self-describing via ``meta.json`` alone.
- **PQ** and **SQ8**: tiny codebook/stats tables plus the compressed
  codes table, which is what search scans; raw vectors are read only
  by the candidate-keyed exact re-rank.

The persisted IVF tiers (inverted lists as cid-partitioned parquet,
probing = partition pruning) live in ``ann_sign.py``: the id-rule
``ivf_det`` and the trained ``ivf_km``.

Every write is a generation commit (``inside_vectordb_spark/_generations.py``):
a build writes fresh ``<name>_g<n>`` relations, an upsert a fresh
``<name>_d<n>`` delta that meta appends to the relation's list, and
the atomic ``meta.json`` rewrite publishes them, so a crash at any
point leaves the previous index served. ``ensure_*`` rebuilds when
the stored params or corpus differ from the requested ones.

Search reuse: query batches against a stored index skip the corpus
signature/encoding scan entirely — the only per-batch work is
bucketing/scoring the (small) query side and the candidate re-rank.
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inside_vectordb_spark import _generations as gen
from inside_vectordb_spark import _meta_io as mio
from inside_vectordb_spark.operators.ann import (
    _rerank_candidates,
    lsh_bucket_ids,
)


def _assert_disjoint_delta(
    stored_ids: DataFrame, delta_ids: DataFrame, path: str
) -> None:
    """Enforce the append-only contract every upsert in this repo
    shares (FAISS ``add``): re-adding a stored id would duplicate its
    index row and serve the same doc twice in a top-k. Both inputs
    are single-column id frames; the delta is small by contract →
    broadcast semi-join, one count."""
    a = stored_ids.toDF("__sid")
    b = delta_ids.toDF("__sid")
    _refuse_overlap(a.join(F.broadcast(b), "__sid", "left_semi").count(), path)


def _refuse_overlap(n_dup: int, path: str) -> None:
    """Raise the append-only error when ``n_dup`` stored ids recur in
    an upsert delta."""
    if n_dup:
        raise ValueError(
            f"upsert: {n_dup} delta id(s) already in the index at "
            f"{path} — upserts are append-only (rebuild to replace "
            "existing vectors)"
        )


# (source path, id_col, content_col) → (file stat, fingerprint dict);
# see the memo note inside _corpus_fingerprint. Keyed by PATH with the
# stat tuple in the VALUE (advice r12): a rewritten table replaces its
# entry instead of accreting one per (mtime, size), so the memo is
# bounded by the number of live tables in a long-lived driver.
_FINGERPRINT_MEMO: dict = {}


def _corpus_fingerprint(
    corpus: DataFrame, id_col: str, content_col: str | None = None
) -> dict[str, int]:
    """Cheap corpus identity for the cache check: row count + id
    range. A changed corpus at the same path must NOT silently reuse
    the stale artifact (the reference's hnswlib cache check has this
    gap — ``003:234-251`` keys on params only). Count+min/max is one
    columnar scan of the id column (parquet answers it from
    metadata/stats at rest), so the check stays far cheaper than the
    rebuild it guards.

    For TEXT-bearing tables pass ``content_col``: folds
    ``sum(length(content))`` into the fingerprint so an in-place edit
    of document text at unchanged ids (same count, same id range)
    still invalidates the cached index — closes the round-4 advisory
    gap on the lexical index. Still one cheap columnar aggregate."""
    # Optimization r12: a bare ``io.load_table`` frame carries its
    # source file's (path, mtime_ns, size) tag; the fingerprint of an
    # UNCHANGED file is the same value every time, so recomputing the
    # scalar agg per ensure call (~0.3 s of pure job overhead, paid by
    # every indexed query construction) buys nothing. The memo is
    # keyed by the file stat — any rewrite of the table invalidates
    # it — and only exact load_table frames have the tag, so filtered
    # deltas (upserts) always compute fresh. This is catalog-style
    # metadata validation, not result caching: every query still
    # scans its data in full.
    stat = getattr(corpus, "_sg_source_stat", None)
    memo_key = (stat[0], id_col, content_col) if stat is not None else None
    if memo_key is not None:
        hit = _FINGERPRINT_MEMO.get(memo_key)
        if hit is not None and hit[0] == stat:
            return dict(hit[1])
    aggs = [
        F.count("*").alias("n"),
        F.min(id_col).alias("lo"),
        F.max(id_col).alias("hi"),
    ]
    if content_col is not None:
        aggs.append(F.sum(F.length(F.col(content_col))).alias("chars"))
    row = corpus.agg(*aggs).collect()[0]
    fp = {
        "n": int(row["n"]),
        "lo": int(row["lo"]) if row["lo"] is not None else None,
        "hi": int(row["hi"]) if row["hi"] is not None else None,
    }
    if content_col is not None:
        fp["chars"] = int(row["chars"]) if row["chars"] is not None else 0
    if memo_key is not None:
        _FINGERPRINT_MEMO[memo_key] = (stat, dict(fp))
    return fp


# ---------------------------------------------------------------------------
# LSH
# ---------------------------------------------------------------------------


def build_lsh_index(
    corpus: DataFrame,
    path: str,
    dim: int,
    n_tables: int = 4,
    n_bits: int = 12,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = 2000,
) -> dict[str, Any]:
    """X1-analogue build + S9 sink: signature scan → capped bucket
    table → parquet. One corpus pass, no joins."""
    cb = lsh_bucket_ids(corpus, id_col, vec_col, dim, n_tables, n_bits, seed)
    if max_bucket_size is not None:
        w = Window.partitionBy("table_idx", "bucket").orderBy("id")
        cb = (
            cb.withColumn("__bpos", F.row_number().over(w))
            .filter(F.col("__bpos") <= max_bucket_size)
            .drop("__bpos")
        )
    meta = {
        "kind": "lsh",
        "dim": dim,
        "n_tables": n_tables,
        "n_bits": n_bits,
        "seed": seed,
        "max_bucket_size": max_bucket_size,
        "corpus": _corpus_fingerprint(corpus, id_col),
    }
    with mio.commit_lock(path):
        meta.update(gen.build_rels(path, "buckets"))
        # repartition on the partition key first: one file per table
        # dir instead of (#task-partitions × #tables) tiny files —
        # small-file explosion is a real read-path tax (observed 2.5×
        # slower search)
        cb.repartition("table_idx").write.partitionBy("table_idx").parquet(
            gen.rel_dir(path, meta, "buckets")
        )
        return gen.commit_rels(path, meta)


def ensure_lsh_index(corpus: DataFrame, path: str, **params: Any) -> dict[str, Any]:
    """Build unless a complete index with identical params AND the
    same corpus fingerprint exists (the reference's cache check,
    ``003:234-251``, keys on params only — a changed corpus at the
    same path would silently serve stale buckets)."""
    want = {
        "kind": "lsh",
        # RESOLVED defaults included (review r8, the ensure_mrl_index
        # r7 fix applied to this tier): a caller relying on the
        # documented defaults must not silently accept an artifact
        # built at different knobs.
        "n_tables": params.get("n_tables", 4),
        "n_bits": params.get("n_bits", 12),
        "seed": params.get("seed", 42),
        "max_bucket_size": params.get("max_bucket_size", 2000),
        # id_col/vec_col are caller-side names, never stored in meta —
        # including them would fail the compare and force a silent
        # full rebuild on EVERY call (the ensure_sq_index fix, applied
        # to all tiers in r6s2)
        **{k: v for k, v in params.items() if k not in ("id_col", "vec_col")},
        "corpus": _corpus_fingerprint(corpus, params.get("id_col", "vec_id")),
    }
    return gen.current(path, want) or build_lsh_index(corpus, path, **params)


def _merge_fingerprint(
    old: dict[str, int] | None, new: dict[str, int]
) -> dict[str, int]:
    """Fingerprint of (old corpus ∪ delta), assuming disjoint ids —
    the append-only contract. Keeping it identical to what
    ``_corpus_fingerprint`` would compute over the full corpus means
    a later ``ensure_*`` call with the full corpus recognizes the
    upserted index as current and skips the rebuild."""
    if old is None or old.get("n") in (None, 0):
        return new
    merged = {
        "n": old["n"] + new["n"],
        "lo": min(x for x in (old["lo"], new["lo"]) if x is not None),
        "hi": max(x for x in (old["hi"], new["hi"]) if x is not None),
    }
    if "chars" in old or "chars" in new:
        merged["chars"] = old.get("chars", 0) + new.get("chars", 0)
    return merged


def upsert_lsh_index(
    new_vectors: DataFrame, path: str, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict[str, Any]:
    """Incremental index maintenance — the reference's batched
    ``add_items`` loop (``003-hnswlib_demo.py:207-220`` adds 1000
    vectors at a time to the live index) re-expressed as an
    append-only delta write. Only the NEW vectors are signature-
    hashed; their bucket rows land in a fresh ``buckets_d<n>`` relation
    that the meta commit appends to the bucket relation's list, and
    search reads the union. At 100 TB this is the difference between
    a full rebuild (scan + rewrite everything) and work proportional
    to the delta.

    The per-bucket cap is enforced against EXISTING occupancy by
    reading only the touched buckets (a broadcast semi-join prunes
    the stored table); like hnswlib, earlier inserts are never
    evicted — a full bucket rejects late arrivals, and recall for
    them rides the other tables.

    Contract: delta ids must be disjoint from stored ids (FAISS
    ``add`` appends; it never replaces). A crash before the meta
    commit leaves the previous index served, and its retry passes the
    disjointness check, which reads only committed relations.
    """
    # serialize maintenance under the commit lock (review r9-4, the
    # hnsw/sign r9-2 rule applied tier-wide): without it the
    # disjointness guard races a concurrent upsert of the same delta
    # (both pass, both commit), and GC would sweep the other writer's
    # uncommitted delta
    with mio.commit_lock(path):
        meta = gen.read_meta(path, "lsh", "LSH")
        spark = new_vectors.sparkSession
        stored = gen.read_rel(spark, path, meta, "buckets")
        _assert_disjoint_delta(
            stored.select("id").distinct(),
            new_vectors.select(id_col),
            path,
        )
        nb = lsh_bucket_ids(
            new_vectors, id_col, vec_col,
            meta["dim"], meta["n_tables"], meta["n_bits"], meta["seed"],
        )
        cap = meta.get("max_bucket_size")
        if cap is not None:
            touched = nb.select("table_idx", "bucket").distinct()
            occupancy = (
                stored.join(F.broadcast(touched), ["table_idx", "bucket"], "left_semi")
                .groupBy("table_idx", "bucket")
                .agg(F.count("*").alias("__occ"))
            )
            w = Window.partitionBy("table_idx", "bucket").orderBy("id")
            nb = (
                nb.withColumn("__pos", F.row_number().over(w))
                .join(F.broadcast(occupancy), ["table_idx", "bucket"], "left")
                .filter(F.coalesce(F.col("__occ"), F.lit(0)) + F.col("__pos") <= cap)
                .drop("__pos", "__occ")
            )
        rel = gen.delta_rel(path, "buckets")
        nb.repartition("table_idx").write.partitionBy("table_idx").parquet(
            mio.join(path, rel)
        )
        meta["corpus"] = _merge_fingerprint(
            meta.get("corpus"), _corpus_fingerprint(new_vectors, id_col)
        )
        return gen.commit_rels(path, meta, {"buckets": rel})


def ann_lsh_topk_indexed(
    queries: DataFrame,
    corpus: DataFrame,
    path: str,
    k: int = 10,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """T3 search against a STORED index: only the query side is
    signature-hashed per batch; the corpus bucket table is a parquet
    scan (and the candidate join broadcasts the query buckets, so the
    stored table never shuffles)."""
    meta = gen.read_meta(path, "lsh", "LSH")
    spark = queries.sparkSession
    cb = gen.read_rel(spark, path, meta, "buckets")
    qb = lsh_bucket_ids(
        queries, query_id, query_vec,
        meta["dim"], meta["n_tables"], meta["n_bits"], meta["seed"],
    )
    cand = (
        F.broadcast(qb.select(F.col("id").alias("query_id"), "table_idx", "bucket"))
        .join(
            cb.select(F.col("id").alias("doc_id"), "table_idx", "bucket"),
            ["table_idx", "bucket"],
        )
        .select("query_id", "doc_id")
        .distinct()
    )
    return _rerank_candidates(
        cand, queries, corpus, query_id, query_vec, corpus_id, corpus_vec, k, round_to
    )


# ---------------------------------------------------------------------------
# PQ
# ---------------------------------------------------------------------------


def build_pq_index(
    corpus: DataFrame,
    path: str,
    dim: int,
    m: int = 8,
    ks: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict[str, Any]:
    """PQ build + sink: train per-subspace codebooks, encode the
    corpus, land codebooks (tiny) + the codes table as parquet. The
    codes table is the compressed corpus — ``m`` small ints per
    vector instead of ``dim`` floats — and is what ADC search scans;
    the raw vectors are only touched by the final exact re-rank on
    refined candidates."""
    from inside_vectordb_spark.operators.pq import pq_encode, pq_train

    spark = corpus.sparkSession
    books = pq_train(corpus, vec_col, dim, m, ks, seed, id_col=id_col)
    books_pdf = pd.DataFrame(
        {
            "subspace": np.repeat(np.arange(m, dtype=np.int32), ks),
            "code": np.tile(np.arange(ks, dtype=np.int32), m),
            "vector": [row.tolist() for row in books.reshape(m * ks, -1)],
        }
    )
    meta = {
        "kind": "pq",
        "dim": dim,
        "m": m,
        "ks": ks,
        "seed": seed,
        "corpus": _corpus_fingerprint(corpus, id_col),
    }
    with mio.commit_lock(path):
        meta.update(gen.build_rels(path, "codebooks", "codes"))
        spark.createDataFrame(books_pdf).write.parquet(
            gen.rel_dir(path, meta, "codebooks")
        )
        pq_encode(corpus, id_col, vec_col, books).write.parquet(
            gen.rel_dir(path, meta, "codes")
        )
        return gen.commit_rels(path, meta)


def ensure_pq_index(corpus: DataFrame, path: str, **params: Any) -> dict[str, Any]:
    want = {
        "kind": "pq",
        # RESOLVED defaults included (review r8, the ensure_mrl_index
        # r7 fix applied to this tier): a caller relying on the
        # documented defaults must not silently accept an artifact
        # built at different knobs.
        "m": params.get("m", 8),
        "ks": params.get("ks", 16),
        "seed": params.get("seed", 42),
        # id_col/vec_col are caller-side names, never stored in meta —
        # including them would fail the compare and force a silent
        # full rebuild on EVERY call (the ensure_sq_index fix, applied
        # to all tiers in r6s2)
        **{k: v for k, v in params.items() if k not in ("id_col", "vec_col")},
        "corpus": _corpus_fingerprint(corpus, params.get("id_col", "vec_id")),
    }
    return gen.current(path, want) or build_pq_index(corpus, path, **params)


def _load_pq_codebooks(path: str, meta: dict[str, Any]) -> np.ndarray:
    rows = mio.read_parquet_rows(
        gen.rel_dir(path, meta, "codebooks"), order_by=("subspace", "code")
    )
    books = np.array([r["vector"] for r in rows], dtype=np.float64)
    return books.reshape(meta["m"], meta["ks"], -1)


def ann_pq_topk_indexed(
    queries: DataFrame,
    corpus: DataFrame,
    path: str,
    k: int = 10,
    refine: int = 5,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """PQ-ADC search against a STORED index: codebooks load
    driver-side (m·ks·dsub floats), the compressed codes table is the
    only corpus-wide scan, and the raw-vector table is touched only
    by the candidate-keyed exact re-rank."""
    from inside_vectordb_spark.operators.pq import ann_pq_topk

    meta = gen.read_meta(path, "pq", "PQ")
    spark = queries.sparkSession
    books = _load_pq_codebooks(path, meta)
    codes = gen.read_rel(spark, path, meta, "codes")
    return ann_pq_topk(
        queries,
        corpus,
        dim=meta["dim"],
        k=k,
        m=meta["m"],
        ks=meta["ks"],
        refine=refine,
        query_id=query_id,
        query_vec=query_vec,
        corpus_id=corpus_id,
        corpus_vec=corpus_vec,
        round_to=round_to,
        codes=codes,
        codebooks=books,
    )


# ---------------------------------------------------------------------------
# SQ8 (scalar quantization)
# ---------------------------------------------------------------------------


def build_sq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict[str, Any]:
    """SQ8 build + sink: per-dimension (min, span) stats (tiny) plus
    the int8-codes table — the compressed corpus that search scans at
    1 byte/dim instead of 4. Training is deterministic (corpus-wide
    extrema, no seed), so stored codes ≡ fresh codes and the indexed
    search shares the in-memory path's FULL DuckDB oracle."""
    from inside_vectordb_spark.operators.sq import sq_encode_col, sq_train

    spark = corpus.sparkSession
    mins, spans = sq_train(corpus, vec_col)
    stats = pd.DataFrame(
        {"pos": np.arange(len(mins), dtype=np.int32), "mn": mins, "span": spans}
    )
    meta = {
        "kind": "sq",
        "dim": len(mins),
        "corpus": _corpus_fingerprint(corpus, id_col),
    }
    # a rebuild starts a fresh index lifecycle with a fresh tombstone
    # relation: tombstones from the previous index would silently
    # exclude ids from the NEW corpus (deletes are "compacted away by
    # a rebuild")
    with mio.commit_lock(path):
        meta.update(gen.build_rels(path, "stats", "codes"))
        spark.createDataFrame(stats).write.parquet(gen.rel_dir(path, meta, "stats"))
        corpus.select(
            F.col(id_col).alias("doc_id"),
            sq_encode_col(vec_col, mins, spans).alias("codes"),
        ).write.parquet(gen.rel_dir(path, meta, "codes"))
        return gen.commit_rels(path, meta)


def delete_from_sq_index(
    spark: SparkSession, path: str, ids: list[int]
) -> dict[str, Any]:
    """FAISS ``remove_ids`` / hnswlib ``mark_deleted`` analogue:
    tombstone a set of doc ids in the persisted SQ index WITHOUT
    rewriting the codes table (``_generations.delete``; this tier's
    tombstone column is ``doc_id``). A delete touches O(deleted)
    bytes, and the codes table is compacted away lazily by a rebuild,
    not eagerly. Idempotent per id."""
    with mio.commit_lock(path):
        meta = gen.read_meta(path, "sq", "SQ")
        return gen.delete(spark, path, meta, ids, col="doc_id", indent=2)


def deleted_ids(spark: SparkSession, path: str) -> set[int]:
    """The current tombstone set (empty if none ever deleted)."""
    return gen.tombstone_ids(path, gen.read_meta(path), col="doc_id")


def ensure_sq_index(corpus: DataFrame, path: str, **params: Any) -> dict[str, Any]:
    want = {
        "kind": "sq",
        **{k: v for k, v in params.items() if k not in ("id_col", "vec_col")},
        "corpus": _corpus_fingerprint(corpus, params.get("id_col", "vec_id")),
    }
    return gen.current(path, want) or build_sq_index(corpus, path, **params)


def _load_sq_stats(path: str, meta: dict[str, Any]) -> tuple[np.ndarray, np.ndarray]:
    rows = mio.read_parquet_rows(gen.rel_dir(path, meta, "stats"), order_by=("pos",))
    mins = np.array([r["mn"] for r in rows], dtype=np.float64)
    spans = np.array([r["span"] for r in rows], dtype=np.float64)
    return mins, spans


def ann_sq_topk_indexed(
    queries: DataFrame,
    corpus: DataFrame,
    path: str,
    k: int = 10,
    refine: int = 5,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """SQ8 search against the persisted index: the approximate scan
    reads the codes parquet (4× less I/O than raw float32 vectors);
    raw vectors are only read by the candidate-keyed exact rerank.

    Tombstoned ids (``delete_from_sq_index``) are excluded from
    candidate generation via a broadcast anti join on the codes scan —
    deleted vectors can therefore never reach the rerank either."""
    from inside_vectordb_spark.operators.sq import ann_sq_topk

    meta = gen.read_meta(path, "sq", "SQ")
    spark = queries.sparkSession
    stats = _load_sq_stats(path, meta)
    codes = gen.drop_deleted(
        spark, gen.read_rel(spark, path, meta, "codes"), path, meta, col="doc_id"
    )
    return ann_sq_topk(
        queries,
        corpus,
        k=k,
        refine=refine,
        query_id=query_id,
        query_vec=query_vec,
        corpus_id=corpus_id,
        corpus_vec=corpus_vec,
        round_to=round_to,
        stats=stats,
        codes=codes,
    )
