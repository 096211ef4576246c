"""Persisted vendored-HNSW graph index (operators/hnsw_index.py).

Pins the contracts the rows-only driver check can't see:
- kernel save/load is bit-exact (search AND continued add_items)
- the stored graph serves the SAME results a fresh same-order build
  would (stored==fresh)
- load-then-add equals never-saved add (hnswlib load_index→add_items
  parity, reference 003-hnswlib_demo.py:234-257)
- upserts are O(delta)-routed, append-only, and crash-safe (marker
  protocol)
- recall vs exact stays above a pinned floor
"""

from __future__ import annotations

import os
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import inside_vectordb_spark.io as eio
import inside_vectordb_spark.operators.hnsw_index as hnsw_mod
from inside_vectordb_spark import _meta_io as mio
from inside_vectordb_spark.operators.ann import _normalize_rows
from inside_vectordb_spark.operators.hnsw_index import (
    _part_expr,
    ann_hnsw_topk_indexed,
    build_hnsw_index,
    ensure_hnsw_index,
    upsert_hnsw_index,
)
from inside_vectordb_spark.operators.hnsw_kernel import HnswIndex
from inside_vectordb_spark.operators.topk import exact_cosine_topk
from tests.conftest import SF_DIR

DIM = 64
N_PARTS = 4
M = 16
EFC = 100
EF_SEARCH = 128
K = 10


def _art(tmp_path, name="hnsw"):
    return str(tmp_path / name)


def _corpus(spark):
    return eio.load_table(spark, SF_DIR, "embeddings")


def _queries(spark):
    return eio.query_vectors(spark, SF_DIR)


def _twin_search(parts: dict[int, pd.DataFrame], qids, qmat, k, base_only_ids=None):
    """In-memory twin of the indexed search: one kernel per routed
    partition (id-ASC insertion), beam search, global merge with the
    (score DESC, doc_id ASC) tie-break. ``base_only_ids`` splits each
    partition into a base batch and a delta batch (same-order upsert
    twin)."""
    partials = []
    for part, pdf in sorted(parts.items()):
        pdf = pdf.sort_values("vec_id")
        index = HnswIndex(dim=DIM, m=M, ef_construction=EFC, seed=42)
        if base_only_ids is None:
            ids = pdf["vec_id"].to_numpy(np.int64)
            mat = _normalize_rows(np.array(list(pdf["embedding"]), dtype=np.float64))
            index.add_items(mat, ids)
        else:
            base = pdf[pdf["vec_id"].isin(base_only_ids)]
            delta = pdf[~pdf["vec_id"].isin(base_only_ids)]
            for chunk in (base, delta):
                if len(chunk):
                    ids = chunk["vec_id"].to_numpy(np.int64)
                    mat = _normalize_rows(
                        np.array(list(chunk["embedding"]), dtype=np.float64)
                    )
                    index.add_items(mat, ids)
        kk = min(k, len(index))
        index.set_ef(max(EF_SEARCH, kk))
        labels, dists = index.knn_query(qmat, k=kk)
        rows = np.repeat(np.arange(len(qids)), labels.shape[1])
        out = pd.DataFrame(
            {
                "query_id": qids[rows],
                "doc_id": labels.ravel(),
                "score": 1.0 - dists.ravel(),
            }
        )
        partials.append(out[np.isfinite(dists).ravel()])
    allp = pd.concat(partials, ignore_index=True)
    allp = allp.sort_values(
        ["query_id", "score", "doc_id"], ascending=[True, False, True]
    )
    allp["rank"] = allp.groupby("query_id").cumcount() + 1
    top = allp[allp["rank"] <= k].reset_index(drop=True)
    top["score"] = top["score"].round(6)
    return top


def _routed_parts(spark, corpus) -> dict[int, pd.DataFrame]:
    pdf = (
        corpus.withColumn("part", _part_expr("vec_id", N_PARTS))
        .select("part", "vec_id", "embedding")
        .toPandas()
    )
    return {int(p): g.drop(columns=["part"]) for p, g in pdf.groupby("part")}


def _qarrays(spark):
    qpdf = _queries(spark).toPandas()
    qids = qpdf["query_id"].to_numpy(np.int64)
    qmat = _normalize_rows(np.array(list(qpdf["embedding"]), dtype=np.float64))
    return qids, qmat


def _sorted_frame(df):
    return (
        df.toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
        .astype({"query_id": np.int64, "doc_id": np.int64, "rank": np.int64})
    )


# -- kernel save/load bit-parity ------------------------------------------


def test_kernel_state_roundtrip_bit_exact():
    rng = np.random.default_rng(7)
    mat = _normalize_rows(rng.normal(size=(200, 16)))
    ids = np.arange(1000, 1200)
    a = HnswIndex(dim=16, m=8, ef_construction=50, seed=1)
    a.add_items(mat, ids)
    b = HnswIndex.from_state(a.get_state())
    q = _normalize_rows(rng.normal(size=(5, 16)))
    a.set_ef(40)
    b.set_ef(40)
    la, da = a.knn_query(q, k=7)
    lb, db = b.knn_query(q, k=7)
    assert np.array_equal(la, lb)
    assert np.array_equal(da, db)


def test_kernel_add_after_restore_matches_never_saved():
    """RNG-stream continuation: save/load then add_items builds the
    IDENTICAL graph a never-saved index would — hnswlib's
    load_index→add_items contract."""
    rng = np.random.default_rng(11)
    base = _normalize_rows(rng.normal(size=(120, 16)))
    delta = _normalize_rows(rng.normal(size=(40, 16)))
    bids, dids = np.arange(120), np.arange(500, 540)

    never_saved = HnswIndex(dim=16, m=8, ef_construction=50, seed=3)
    never_saved.add_items(base, bids)
    restored = HnswIndex.from_state(never_saved.get_state())

    never_saved.add_items(delta, dids)
    restored.add_items(delta, dids)

    sa, sb = never_saved.get_state(), restored.get_state()
    assert sa["links"] == sb["links"]
    assert sa["entry"] == sb["entry"]
    assert sa["ids"] == sb["ids"]
    assert sa["rng_state_json"] == sb["rng_state_json"]


# -- stored == fresh -------------------------------------------------------


def test_indexed_search_matches_in_memory_twin(spark, tmp_path):
    art = _art(tmp_path)
    corpus = _corpus(spark)
    build_hnsw_index(
        corpus, art, dim=DIM, m=M, ef_construction=EFC, n_parts=N_PARTS, seed=42
    )
    got = _sorted_frame(
        ann_hnsw_topk_indexed(spark, _queries(spark), art, k=K, ef_search=EF_SEARCH)
    )
    qids, qmat = _qarrays(spark)
    want = _twin_search(_routed_parts(spark, corpus), qids, qmat, K)
    pd.testing.assert_frame_equal(
        got, want[got.columns.tolist()].astype(got.dtypes.to_dict()),
        check_exact=False, rtol=0, atol=1e-9,
    )


def test_search_without_rebuild_and_ensure_cache(spark, tmp_path):
    art = _art(tmp_path)
    corpus = _corpus(spark)
    params = dict(dim=DIM, m=M, ef_construction=EFC, n_parts=N_PARTS, seed=42)
    ensure_hnsw_index(corpus, art, **params)
    meta_path = os.path.join(art, "meta.json")
    m1 = os.path.getmtime(meta_path)
    r1 = _sorted_frame(ann_hnsw_topk_indexed(spark, _queries(spark), art, k=K))
    # second ensure: params+fingerprint match → NO rebuild
    ensure_hnsw_index(corpus, art, **params)
    assert os.path.getmtime(meta_path) == m1
    r2 = _sorted_frame(ann_hnsw_topk_indexed(spark, _queries(spark), art, k=K))
    pd.testing.assert_frame_equal(r1, r2)
    # changed params → rebuild
    ensure_hnsw_index(corpus, art, **{**params, "m": 8})
    assert mio.read_json(meta_path)["m"] == 8


def test_recall_floor_vs_exact(spark, tmp_path):
    art = _art(tmp_path)
    corpus = _corpus(spark)
    build_hnsw_index(
        corpus, art, dim=DIM, m=M, ef_construction=EFC, n_parts=N_PARTS, seed=42
    )
    approx = ann_hnsw_topk_indexed(
        spark, _queries(spark), art, k=K, ef_search=EF_SEARCH
    ).toPandas()
    exact = exact_cosine_topk(_queries(spark), corpus, k=K).toPandas()
    hits = 0
    for qid, g in exact.groupby("query_id"):
        truth = set(g["doc_id"])
        found = set(approx[approx["query_id"] == qid]["doc_id"])
        hits += len(truth & found) / len(truth)
    recall = hits / exact["query_id"].nunique()
    # scatter-gather over 4 partition-local graphs at ef=128: every
    # partition's beam is near-exhaustive at sf0.001 scale
    assert recall >= 0.95, f"recall@10 {recall:.3f} under floor"


# -- upsert ----------------------------------------------------------------


def test_upsert_matches_same_order_twin(spark, tmp_path):
    art = _art(tmp_path)
    corpus = _corpus(spark)
    base = corpus.filter(F.col("vec_id") % 5 != 0)
    delta = corpus.filter(F.col("vec_id") % 5 == 0)
    build_hnsw_index(
        base, art, dim=DIM, m=M, ef_construction=EFC, n_parts=N_PARTS, seed=42
    )
    upsert_hnsw_index(spark, delta, art)
    meta = mio.read_json(os.path.join(art, "meta.json"))
    n_all = corpus.count()
    assert meta["corpus"]["n"] == n_all

    got = _sorted_frame(
        ann_hnsw_topk_indexed(spark, _queries(spark), art, k=K, ef_search=EF_SEARCH)
    )
    qids, qmat = _qarrays(spark)
    base_ids = set(r["vec_id"] for r in base.select("vec_id").collect())
    want = _twin_search(
        _routed_parts(spark, corpus), qids, qmat, K, base_only_ids=base_ids
    )
    pd.testing.assert_frame_equal(
        got, want[got.columns.tolist()].astype(got.dtypes.to_dict()),
        check_exact=False, rtol=0, atol=1e-9,
    )


def test_upsert_to_previously_empty_partition(spark, tmp_path):
    """A delta routing to a partition with no stored graph builds a
    fresh kernel there (review r9: this case crashed executor-side,
    and the crash landed after the old marker removal — destroying a
    valid index). The meta must survive even if anything goes wrong
    before the commit."""
    art = _art(tmp_path, "empty_part")
    corpus = _corpus(spark)
    routed = corpus.withColumn("part", _part_expr("vec_id", N_PARTS))
    # base excludes every row of ONE partition; the delta is exactly
    # that partition's rows
    hole = routed.select("part").distinct().collect()[0]["part"]
    base = routed.filter(F.col("part") != hole).drop("part")
    delta = routed.filter(F.col("part") == hole).drop("part")
    assert delta.count() > 0
    build_hnsw_index(
        base, art, dim=DIM, m=M, ef_construction=EFC, n_parts=N_PARTS, seed=42
    )
    upsert_hnsw_index(spark, delta, art)
    meta = mio.read_json(os.path.join(art, "meta.json"))
    assert meta is not None and meta["corpus"]["n"] == corpus.count()
    got = _sorted_frame(
        ann_hnsw_topk_indexed(spark, _queries(spark), art, k=K, ef_search=EF_SEARCH)
    )
    qids, qmat = _qarrays(spark)
    base_ids = set(r["vec_id"] for r in base.select("vec_id").collect())
    want = _twin_search(
        _routed_parts(spark, corpus), qids, qmat, K, base_only_ids=base_ids
    )
    pd.testing.assert_frame_equal(
        got, want[got.columns.tolist()].astype(got.dtypes.to_dict()),
        check_exact=False, rtol=0, atol=1e-9,
    )


def test_upsert_generation_grace_and_gc(spark, tmp_path):
    """Upserts write fresh generation dirs and never delete a dir the
    PREVIOUS commit's readers could hold; the superseded (rel, part)
    dirs go at the NEXT commit."""
    art = _art(tmp_path, "grace")
    corpus = _corpus(spark)
    d1 = corpus.filter(F.col("vec_id") % 7 == 0)
    d2 = corpus.filter(F.col("vec_id") % 7 == 1)
    rest = corpus.filter(F.col("vec_id") % 7 > 1)
    build_hnsw_index(
        rest, art, dim=DIM, m=M, ef_construction=EFC, n_parts=N_PARTS, seed=42
    )
    upsert_hnsw_index(spark, d1, art)
    meta1 = mio.read_json(os.path.join(art, "meta.json"))
    assert any(rel.startswith("graph_u") for rel in meta1["part_rels"].values())
    # base part dirs superseded by commit 1 survive it (grace)…
    for rel, p in meta1["gc_pending"]:
        assert os.path.isdir(os.path.join(art, rel, f"part={p}")), (rel, p)
    upsert_hnsw_index(spark, d2, art)
    # …and are removed by commit 2
    for rel, p in meta1["gc_pending"]:
        assert not os.path.isdir(os.path.join(art, rel, f"part={p}")), (rel, p)
    # the maintained index still answers like the same-order twin
    got = _sorted_frame(
        ann_hnsw_topk_indexed(spark, _queries(spark), art, k=K, ef_search=EF_SEARCH)
    )
    assert got["query_id"].nunique() == 20


def test_upsert_rejects_duplicate_delta_ids(spark, tmp_path):
    art = _art(tmp_path, "dupdelta")
    corpus = _corpus(spark)
    build_hnsw_index(
        corpus.filter(F.col("vec_id") >= 10), art, dim=DIM, m=M,
        ef_construction=EFC, n_parts=N_PARTS, seed=42,
    )
    delta = corpus.filter(F.col("vec_id") < 2)
    with pytest.raises(ValueError, match="duplicate ids"):
        upsert_hnsw_index(spark, delta.unionByName(delta), art)


def test_upsert_rejects_existing_ids(spark, tmp_path):
    art = _art(tmp_path)
    corpus = _corpus(spark)
    build_hnsw_index(
        corpus, art, dim=DIM, m=M, ef_construction=EFC, n_parts=N_PARTS, seed=42
    )
    with pytest.raises(ValueError, match="append-only"):
        upsert_hnsw_index(spark, corpus.limit(3), art)


def test_crash_mid_rebuild_leaves_no_marker(spark, tmp_path):
    art = _art(tmp_path)
    corpus = _corpus(spark)
    build_hnsw_index(
        corpus, art, dim=DIM, m=M, ef_construction=EFC, n_parts=N_PARTS, seed=42
    )
    # simulate a crash between marker removal and data rewrite
    mio.remove_file(os.path.join(art, "meta.json"))
    with pytest.raises(FileNotFoundError):
        ann_hnsw_topk_indexed(spark, _queries(spark), art, k=K)
    with pytest.raises(FileNotFoundError):
        upsert_hnsw_index(spark, corpus.limit(1), art)
    # ensure recovers with a clean rebuild
    ensure_hnsw_index(
        corpus, art, dim=DIM, m=M, ef_construction=EFC, n_parts=N_PARTS, seed=42
    )
    assert ann_hnsw_topk_indexed(spark, _queries(spark), art, k=K).count() > 0


def test_delete_masks_and_compact_removes(spark, tmp_path):
    from inside_vectordb_spark.operators.hnsw_index import (
        compact_hnsw_index,
        delete_from_hnsw_index,
    )

    art = _art(tmp_path, "del")
    corpus = _corpus(spark)
    build_hnsw_index(
        corpus, art, dim=DIM, m=M, ef_construction=EFC, n_parts=N_PARTS, seed=42
    )
    deleted = [0, 3, 7]
    delete_from_hnsw_index(spark, art, deleted)
    delete_from_hnsw_index(spark, art, deleted)  # idempotent
    meta = mio.read_json(os.path.join(art, "meta.json"))
    assert meta["n_deleted"] == len(deleted)
    res = ann_hnsw_topk_indexed(
        spark, _queries(spark), art, k=K, ef_search=EF_SEARCH
    ).toPandas()
    assert not set(res["doc_id"]) & set(deleted)
    # queries 0/3/7 lose their self-match — the delete shows in the
    # RESULT
    assert res[res["query_id"] == 0]["rank"].min() == 1
    assert 0 not in set(res[res["query_id"] == 0]["doc_id"])

    compact_hnsw_index(spark, art)
    meta2 = mio.read_json(os.path.join(art, "meta.json"))
    assert not os.path.isdir(os.path.join(art, "tombstones"))
    assert meta2["n_compacted_away"] == len(deleted)
    assert meta2["corpus"] == meta["corpus"]  # lineage identity kept
    # compacted == a fresh build over the live rows
    live = corpus.filter(~F.col("vec_id").isin(deleted))
    art2 = _art(tmp_path, "del_twin")
    build_hnsw_index(
        live, art2, dim=DIM, m=M, ef_construction=EFC, n_parts=N_PARTS, seed=42
    )
    a = _sorted_frame(
        ann_hnsw_topk_indexed(spark, _queries(spark), art, k=K, ef_search=EF_SEARCH)
    )
    b = _sorted_frame(
        ann_hnsw_topk_indexed(spark, _queries(spark), art2, k=K, ef_search=EF_SEARCH)
    )
    pd.testing.assert_frame_equal(a, b)


def test_compact_noop_on_clean_index(spark, tmp_path):
    from inside_vectordb_spark.operators.hnsw_index import compact_hnsw_index

    art = _art(tmp_path, "noopc")
    build_hnsw_index(
        _corpus(spark), art, dim=DIM, m=M, ef_construction=EFC,
        n_parts=N_PARTS, seed=42,
    )
    m1 = os.path.getmtime(os.path.join(art, "meta.json"))
    compact_hnsw_index(spark, art)
    assert os.path.getmtime(os.path.join(art, "meta.json")) == m1


def test_compact_folds_upsert_generations(spark, tmp_path):
    from inside_vectordb_spark.operators.hnsw_index import compact_hnsw_index

    art = _art(tmp_path, "fold")
    corpus = _corpus(spark)
    build_hnsw_index(
        corpus.filter(F.col("vec_id") % 3 != 0), art, dim=DIM, m=M,
        ef_construction=EFC, n_parts=N_PARTS, seed=42,
    )
    upsert_hnsw_index(spark, corpus.filter(F.col("vec_id") % 3 == 0), art)
    compact_hnsw_index(spark, art)
    meta = mio.read_json(os.path.join(art, "meta.json"))
    assert meta["part_rels"] == {} and meta["base_rel"].startswith("graph_c")
    # compacted == fresh build over the FULL corpus (canonical form)
    art2 = _art(tmp_path, "fold_twin")
    build_hnsw_index(
        corpus, art2, dim=DIM, m=M, ef_construction=EFC, n_parts=N_PARTS, seed=42
    )
    a = _sorted_frame(
        ann_hnsw_topk_indexed(spark, _queries(spark), art, k=K, ef_search=EF_SEARCH)
    )
    b = _sorted_frame(
        ann_hnsw_topk_indexed(spark, _queries(spark), art2, k=K, ef_search=EF_SEARCH)
    )
    pd.testing.assert_frame_equal(a, b)


def test_streaming_maintenance_matches_sequential_upserts(spark, tmp_path):
    """The generalized streaming harness (run_index_maintenance) feeds
    micro-batches into the graph tier's commit-locked upsert; the
    maintained index answers exactly like the same batches applied
    sequentially (file order == batch order under
    maxFilesPerTrigger=1)."""
    from inside_vectordb_spark.streaming.events import run_index_maintenance
    from inside_vectordb_spark.operators.hnsw_index import upsert_hnsw_index

    corpus = _corpus(spark)
    base = corpus.filter(~((F.col("vec_id") % 10).isin(3, 7)))
    b1 = corpus.filter(F.col("vec_id") % 10 == 3)
    b2 = corpus.filter(F.col("vec_id") % 10 == 7)

    art_s = _art(tmp_path, "stream")
    art_t = _art(tmp_path, "stream_twin")
    for art in (art_s, art_t):
        build_hnsw_index(
            base, art, dim=DIM, m=M, ef_construction=EFC,
            n_parts=N_PARTS, seed=42,
        )
    # twin: sequential upserts
    upsert_hnsw_index(spark, b1, art_t)
    upsert_hnsw_index(spark, b2, art_t)
    # stream: one file per micro-batch
    inbox = str(tmp_path / "inbox")
    b1.coalesce(1).write.mode("append").parquet(inbox)
    b2.coalesce(1).write.mode("append").parquet(inbox)
    changes = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inbox)
    )
    run_index_maintenance(
        changes, art_s,
        upsert_fn=lambda s, batch, path: upsert_hnsw_index(s, batch, path),
    )
    meta_s = mio.read_json(os.path.join(art_s, "meta.json"))
    assert meta_s["corpus"]["n"] == corpus.count()
    a = _sorted_frame(
        ann_hnsw_topk_indexed(spark, _queries(spark), art_s, k=K,
                              ef_search=EF_SEARCH)
    )
    b = _sorted_frame(
        ann_hnsw_topk_indexed(spark, _queries(spark), art_t, k=K,
                              ef_search=EF_SEARCH)
    )
    pd.testing.assert_frame_equal(a, b)


def test_ef_knob_monotone_recall(spark, tmp_path):
    """X3 on the graph tier: a deeper beam can only help recall vs
    exact (the ef trade-off the reference sweeps, 003:156-160)."""
    art = _art(tmp_path, "ef")
    corpus = _corpus(spark)
    build_hnsw_index(
        corpus, art, dim=DIM, m=M, ef_construction=EFC, n_parts=N_PARTS, seed=42
    )
    exact = exact_cosine_topk(_queries(spark), corpus, k=K).toPandas()

    def recall(ef: int) -> float:
        res = ann_hnsw_topk_indexed(
            spark, _queries(spark), art, k=K, ef_search=ef
        ).toPandas()
        hit = 0.0
        for qid, g in exact.groupby("query_id"):
            truth = set(g["doc_id"])
            hit += len(truth & set(res[res["query_id"] == qid]["doc_id"])) / len(truth)
        return hit / exact["query_id"].nunique()

    assert recall(16) <= recall(128) + 1e-9
    assert recall(128) >= 0.95


def test_empty_corpus_build_refused(spark, tmp_path):
    art = _art(tmp_path)
    corpus = _corpus(spark).filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="EMPTY corpus"):
        build_hnsw_index(corpus, art, dim=DIM, n_parts=N_PARTS)


def _dir_snapshot(root):
    """(relpath, size, mtime_ns) for every file under root — byte-level
    'untouched' evidence without hashing."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def test_partial_compact_rebuilds_only_dirty_partitions(spark, tmp_path):
    """Incremental OPTIMIZE (round-10): with min_dead_fraction set,
    only partitions whose dead fraction exceeds the threshold rebuild;
    clean partitions' generation dirs are byte-untouched; tombstones
    routed to uncompacted partitions survive (versioned tomb_rel) and
    keep masking; served results are unchanged; a second pass under
    the same threshold is a no-op; a final full compact reaches the
    same canonical form as ever."""
    from inside_vectordb_spark.operators.hnsw_index import (
        compact_hnsw_index,
        delete_from_hnsw_index,
    )

    art = _art(tmp_path, "partial")
    corpus = _corpus(spark)
    build_hnsw_index(
        corpus, art, dim=DIM, m=M, ef_construction=EFC, n_parts=N_PARTS, seed=42
    )
    routed = corpus.select(
        "vec_id", _part_expr("vec_id", N_PARTS).alias("part")
    ).toPandas()
    by_part = {
        p: sorted(g["vec_id"]) for p, g in routed.groupby("part")
    }
    # make partition 1 heavily dead (40%) and partition 2 lightly dead
    heavy = by_part[1][: max(2, int(0.4 * len(by_part[1])))]
    light = by_part[2][:1]
    delete_from_hnsw_index(spark, art, heavy + light)
    pre = _sorted_frame(
        ann_hnsw_topk_indexed(spark, _queries(spark), art, k=K, ef_search=EF_SEARCH)
    )
    base_rel = mio.read_json(os.path.join(art, "meta.json"))["base_rel"]
    snap_before = {
        p: _dir_snapshot(os.path.join(art, base_rel, f"part={p}"))
        for p in range(N_PARTS)
    }

    meta = compact_hnsw_index(spark, art, min_dead_fraction=0.2)
    # only partition 1 crossed the threshold
    assert set(meta["part_rels"]) == {"1"}
    assert meta["part_rels"]["1"].startswith("graph_c")
    assert meta["base_rel"] == base_rel
    assert meta["n_compacted_away"] == len(heavy)
    assert meta["n_deleted"] == len(light)
    assert meta["tomb_rel"].startswith("tombstones_g")
    assert mio.is_dir(os.path.join(art, meta["tomb_rel"]))
    # clean partitions byte-untouched
    for p in (0, 2, 3):
        assert (
            _dir_snapshot(os.path.join(art, base_rel, f"part={p}"))
            == snap_before[p]
        ), f"clean partition {p} was touched"
    # served results unchanged; every deleted id still absent
    post = _sorted_frame(
        ann_hnsw_topk_indexed(spark, _queries(spark), art, k=K, ef_search=EF_SEARCH)
    )
    pd.testing.assert_frame_equal(pre, post)
    assert not set(post["doc_id"]) & set(heavy + light)

    # same threshold again: no shard qualifies -> no-op commit
    meta2 = compact_hnsw_index(spark, art, min_dead_fraction=0.2)
    assert meta2["part_rels"] == meta["part_rels"]
    assert meta2["tomb_rel"] == meta["tomb_rel"]

    # full compact folds the rest to canonical form == fresh build
    compact_hnsw_index(spark, art)
    meta3 = mio.read_json(os.path.join(art, "meta.json"))
    assert meta3["part_rels"] == {} and meta3["base_rel"].startswith("graph_c")
    assert "tomb_rel" not in meta3 and "n_deleted" not in meta3
    assert meta3["n_compacted_away"] == len(heavy) + len(light)
    live = corpus.filter(~F.col("vec_id").isin(heavy + light))
    twin = _art(tmp_path, "partial_twin")
    build_hnsw_index(
        live, twin, dim=DIM, m=M, ef_construction=EFC, n_parts=N_PARTS, seed=42
    )
    a = _sorted_frame(
        ann_hnsw_topk_indexed(spark, _queries(spark), art, k=K, ef_search=EF_SEARCH)
    )
    b = _sorted_frame(
        ann_hnsw_topk_indexed(spark, _queries(spark), twin, k=K, ef_search=EF_SEARCH)
    )
    pd.testing.assert_frame_equal(a, b)


def test_part_counts_ride_meta_across_the_lifecycle(spark, tmp_path):
    """Incremental OPTIMIZE's dirty-shard decision is metadata-only
    (round-10): build/upsert/compact maintain per-partition node
    counts in meta, so finding dirty shards costs zero graph I/O. A
    pre-r10 meta (no part_counts) still compacts via the graph-scan
    fallback."""
    from inside_vectordb_spark.operators.hnsw_index import (
        compact_hnsw_index,
        delete_from_hnsw_index,
    )

    art = _art(tmp_path, "counts")
    corpus = _corpus(spark)
    base = corpus.filter(F.col("vec_id") % 4 != 0)
    delta = corpus.filter(F.col("vec_id") % 4 == 0)
    meta = build_hnsw_index(
        base, art, dim=DIM, m=M, ef_construction=EFC, n_parts=N_PARTS, seed=42
    )
    truth = {
        str(r["part"]): r["count"]
        for r in base.select(_part_expr("vec_id", N_PARTS).alias("part"))
        .groupBy("part").count().collect()
    }
    assert meta["part_counts"] == truth
    assert sum(meta["part_counts"].values()) == base.count()

    meta = upsert_hnsw_index(spark, delta, art)
    assert sum(meta["part_counts"].values()) == corpus.count()

    # partial compact: only dirty shards' counts change, to live sizes
    victims = [int(r["vec_id"]) for r in corpus.limit(3).collect()]
    delete_from_hnsw_index(spark, art, victims)
    pre_counts = dict(meta["part_counts"])
    meta = compact_hnsw_index(spark, art, min_dead_fraction=0.0)
    assert sum(meta["part_counts"].values()) == corpus.count() - len(victims)
    dirty = set(meta["part_rels"])
    for p, n in meta["part_counts"].items():
        if p not in dirty:
            assert n == pre_counts[p], f"clean shard {p} count changed"

    # full compact: census equals the live corpus
    meta = compact_hnsw_index(spark, art)
    assert sum(meta["part_counts"].values()) == corpus.count() - len(victims)


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_P_N = 60  # property-test corpus size (3 shards of ~20)
_P_PARTS = 3


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    deleted=st.sets(st.integers(min_value=0, max_value=_P_N - 1), max_size=20),
    threshold=st.floats(min_value=0.0, max_value=0.5),
)
def test_partial_compact_invariants_hold_for_arbitrary_deletes(
    spark, tmp_path_factory, deleted, threshold
):
    """Property pin for incremental OPTIMIZE: for ANY delete set and
    threshold, (a) exactly the shards whose dead fraction exceeds the
    threshold move to a fresh generation, (b) untouched shards keep
    their relation, (c) the served top-k equals exact cosine over the
    live rows (ef covers every shard, so the beam is exhaustive),
    (d) meta's node census equals the live count plus surviving
    masked rows."""
    from inside_vectordb_spark.operators.hnsw_index import (
        compact_hnsw_index,
        delete_from_hnsw_index,
    )

    rng = np.random.default_rng(7)
    mat = rng.normal(size=(_P_N, 8))
    mat = _normalize_rows(mat)
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(_P_N, dtype=np.int64), "embedding": list(mat)}
        )
    )
    art = str(tmp_path_factory.mktemp("hprop") / "idx")
    build_hnsw_index(
        corpus, art, dim=8, m=4, ef_construction=24, n_parts=_P_PARTS, seed=1
    )
    deleted = sorted(deleted)
    if deleted:
        delete_from_hnsw_index(spark, art, deleted)
    routed = {
        int(r["vec_id"]): int(r["part"])
        for r in corpus.select(
            "vec_id", _part_expr("vec_id", _P_PARTS).alias("part")
        ).collect()
    }
    sizes: dict[int, int] = {}
    for p in routed.values():
        sizes[p] = sizes.get(p, 0) + 1
    dead: dict[int, int] = {}
    for i in deleted:
        dead[routed[i]] = dead.get(routed[i], 0) + 1
    expect_dirty = {
        p for p, d in dead.items() if d / sizes[p] > threshold
    }

    meta = compact_hnsw_index(spark, art, min_dead_fraction=threshold)
    assert {int(p) for p in meta.get("part_rels", {})} == expect_dirty
    for p, rel in meta.get("part_rels", {}).items():
        assert rel.startswith("graph_c")
    surviving = [i for i in deleted if routed[i] not in expect_dirty]
    assert meta.get("n_deleted", 0) == len(surviving)
    assert sum(meta["part_counts"].values()) == _P_N - (
        len(deleted) - len(surviving)
    )

    live_ids = set(range(_P_N)) - set(deleted)
    if not live_ids:
        return  # fully-deleted corpora serve nothing; delete-guard tested elsewhere
    qs = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ann_hnsw_topk_indexed(
        spark, qs, art, k=5, ef_search=128
    ).toPandas()
    assert not set(got["doc_id"]) & set(deleted)
    live = corpus.filter(F.col("vec_id").isin(list(live_ids)))
    exact = exact_cosine_topk(
        qs, live, k=5, corpus_id="vec_id", corpus_vec="embedding"
    ).toPandas()
    key = ["query_id", "rank"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True)[["query_id", "doc_id", "rank"]],
        exact.sort_values(key).reset_index(drop=True)[["query_id", "doc_id", "rank"]],
    )


def test_heuristic_build_persists_and_maintains(spark, tmp_path):
    """Alg. 4 through the persisted tier (r11): the flag lands in meta
    and the graph header, search serves, an upsert's continued inserts
    keep the selection rule (stored==fresh twin at heuristic=True),
    and ensure treats the flag as identity (flips rebuild)."""
    from inside_vectordb_spark.operators.hnsw_index import compact_hnsw_index

    art = _art(tmp_path, "heur")
    corpus = _corpus(spark)
    base = corpus.filter(F.col("vec_id") % 5 != 0)
    delta = corpus.filter(F.col("vec_id") % 5 == 0)
    meta = build_hnsw_index(
        base, art, dim=DIM, m=M, ef_construction=EFC, n_parts=N_PARTS,
        seed=42, heuristic=True,
    )
    assert meta["heuristic"] is True
    upsert_hnsw_index(spark, delta, art)
    # full compact rebuilds with the stored flag; the result must equal
    # a fresh heuristic build over the full corpus
    compact_hnsw_index(spark, art)
    twin = _art(tmp_path, "heur_twin")
    build_hnsw_index(
        corpus, twin, dim=DIM, m=M, ef_construction=EFC, n_parts=N_PARTS,
        seed=42, heuristic=True,
    )
    a = (
        ann_hnsw_topk_indexed(spark, _queries(spark), art, k=K, ef_search=EF_SEARCH)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    b = (
        ann_hnsw_topk_indexed(spark, _queries(spark), twin, k=K, ef_search=EF_SEARCH)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)
    # ensure identity: same params reuse, flag flip rebuilds
    m1 = ensure_hnsw_index(
        corpus, twin, dim=DIM, m=M, ef_construction=EFC, n_parts=N_PARTS,
        seed=42, heuristic=True,
    )
    assert m1["corpus"] == mio.read_json(os.path.join(twin, "meta.json"))["corpus"]
    m2 = ensure_hnsw_index(
        corpus, twin, dim=DIM, m=M, ef_construction=EFC, n_parts=N_PARTS,
        seed=42,  # heuristic defaults False -> identity mismatch
    )
    assert m2["heuristic"] is False


def test_filtered_graph_search(spark, tmp_path):
    """Filter-during-search on the graph tier (r11): results satisfy
    the predicate; at saturating ef the filtered search equals exact
    cosine top-k over the filtered corpus (post-filter equivalence);
    at moderate ef recall vs exact-filtered stays above the tier
    floor."""
    art = _art(tmp_path, "filtered")
    corpus = _corpus(spark)
    build_hnsw_index(
        corpus, art, dim=DIM, m=M, ef_construction=EFC, n_parts=N_PARTS, seed=42
    )
    allowed = corpus.filter(F.col("label") % 3 == 0).select("vec_id")
    allowed_ids = {r["vec_id"] for r in allowed.collect()}
    q = _queries(spark)

    got = ann_hnsw_topk_indexed(
        spark, q, art, k=K, ef_search=4096, filter_df=allowed
    ).toPandas()
    assert set(got["doc_id"]) <= allowed_ids, "predicate violated"

    exact = (
        exact_cosine_topk(
            q, corpus.filter(F.col("label") % 3 == 0), k=K
        )
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    got = got.sort_values(["query_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["query_id", "doc_id"]], exact[["query_id", "doc_id"]]
    )

    # moderate ef: recall floor vs exact-filtered
    mod = ann_hnsw_topk_indexed(
        spark, q, art, k=K, ef_search=EF_SEARCH, filter_df=allowed
    ).toPandas()
    hits = mod.merge(exact, on=["query_id", "doc_id"], how="inner")
    recall = len(hits) / len(exact)
    assert recall >= 0.95, f"filtered recall {recall:.3f} < 0.95"

    # no filter -> byte-identical to the unfiltered contract
    a = ann_hnsw_topk_indexed(spark, q, art, k=K, ef_search=EF_SEARCH).toPandas()
    b = ann_hnsw_topk_indexed(
        spark, q, art, k=K, ef_search=EF_SEARCH, filter_df=None
    ).toPandas()
    pd.testing.assert_frame_equal(a, b)


# -- resident serving: parity with scatter-gather and invalidation ---------


def _search_both(spark, art, queries, monkeypatch, loads=None, **kw):
    """(resident frame, forced scatter-gather frame) for one request;
    the budget constant at 0 sends the same call down the scatter
    path. ``loads`` counts the resident call's kernel loads."""
    from inside_vectordb_spark.plans import count_nodes

    if loads is None:
        res = ann_hnsw_topk_indexed(spark, queries, art, **kw)
    else:
        with loads.counting(monkeypatch):
            res = ann_hnsw_topk_indexed(spark, queries, art, **kw)
    assert count_nodes(res, "LocalTableScanExec") == 1, "resident path not taken"
    with monkeypatch.context() as mp:
        mp.setattr(hnsw_mod, "_RESIDENT_MAX_BYTES", 0)
        sg = ann_hnsw_topk_indexed(spark, queries, art, **kw)
    assert count_nodes(sg, "LocalTableScanExec") == 0, "scatter path not taken"
    return res, sg


def _assert_parity(spark, art, queries, monkeypatch, dead=(), loads=None, **kw):
    """The resident answer equals scatter-gather row for row: ids,
    rank, rounded score, column names and types; no deleted id."""
    res, sg = _search_both(spark, art, queries, monkeypatch, loads, **kw)
    assert res.dtypes == sg.dtypes
    a, b = _sorted_frame(res), _sorted_frame(sg)
    pd.testing.assert_frame_equal(a, b, check_exact=True)
    assert not set(a["doc_id"]) & set(dead)
    return a


class _LoadCounter:
    """Counts kernel reconstructions while ``counting`` and reports
    which partitions of one index were reloaded since the last
    ``take``. The wrapper is installed only around resident calls:
    the upsert and scatter paths ship ``_index_from_rows`` to Python
    workers, which cannot import a test module."""

    def __init__(self, art):
        self.art = art
        self.calls = 0
        self._seen = self._kernels()

    @contextmanager
    def counting(self, monkeypatch):
        orig = hnsw_mod._index_from_rows

        def counted(*a, **kw):
            self.calls += 1
            return orig(*a, **kw)

        with monkeypatch.context() as mp:
            mp.setattr(hnsw_mod, "_index_from_rows", counted)
            yield

    def _kernels(self):
        return {
            key[1]: id(entry[2])
            for key, entry in hnsw_mod._KERNELS._entries.items()
            if key[0] == self.art
        }

    def take(self):
        now = self._kernels()
        reloaded = {p for p, k in now.items() if self._seen.get(p) != k}
        calls, self.calls, self._seen = self.calls, 0, now
        return calls, reloaded


def test_resident_parity_and_invalidation_across_commits(
    spark, tmp_path, monkeypatch
):
    """Every commit kind changes the answer the resident path serves
    exactly as it changes scatter-gather's, replacing only the cached
    kernels of the partitions the commit rewrote: a full rebuild's by
    a reload, a driver-placed upsert's or compaction's by the kernels
    the write built, with no load. A repeat search reloads nothing."""
    _resident_across_commits(spark, tmp_path, monkeypatch, "driver")


def test_resident_invalidation_after_executor_writes(spark, tmp_path, monkeypatch):
    """The same commits with every upsert and compaction forced onto
    the executors (a zero byte budget around the write alone; reads
    stay resident): the read after each reloads exactly the
    partitions that write rewrote."""
    _resident_across_commits(spark, tmp_path, monkeypatch, "executors")


def _resident_across_commits(spark, tmp_path, monkeypatch, placement):
    from inside_vectordb_spark import _generations as gen
    from inside_vectordb_spark.operators.hnsw_index import (
        compact_hnsw_index,
        delete_from_hnsw_index,
    )

    monkeypatch.setattr(
        hnsw_mod, "_KERNELS", hnsw_mod._KernelCache(hnsw_mod._CACHE_MAX_BYTES)
    )
    art = _art(tmp_path, "resident")
    corpus = _corpus(spark)
    q = _queries(spark)
    routed = corpus.withColumn("part", _part_expr("vec_id", N_PARTS))
    by_part = {
        int(p): sorted(g["vec_id"])
        for p, g in routed.select("vec_id", "part").toPandas().groupby("part")
    }
    hole = 3
    base = routed.filter((F.col("part") != hole) & (F.col("vec_id") % 5 != 0))
    fill = routed.filter(F.col("part") == hole)
    spread = routed.filter((F.col("part") != hole) & (F.col("vec_id") % 5 == 0))
    params = dict(dim=DIM, ef_construction=EFC, n_parts=N_PARTS, seed=42)
    loads = _LoadCounter(art)
    kw = dict(k=K, ef_search=EF_SEARCH, loads=loads)

    def write(op, *args, **kwargs):
        with monkeypatch.context() as mp:
            if placement == "executors":
                mp.setattr(hnsw_mod, "_RESIDENT_MAX_BYTES", 0)
            return op(*args, **kwargs)

    def replaced(parts):
        # a driver write hands its kernels over; the read after an
        # executor write loads each rewritten partition
        return (0 if placement == "driver" else len(parts), parts)

    # a full rebuild rewrites graph/part=<p> in place under the same
    # relation name: only the directory stamp tells the two apart
    build_hnsw_index(corpus.drop("part"), art, m=8, **params)
    _assert_parity(spark, art, q, monkeypatch, **kw)
    assert loads.take() == (4, {0, 1, 2, 3})
    build_hnsw_index(base.drop("part"), art, m=M, **params)
    _assert_parity(spark, art, q, monkeypatch, **kw)
    assert loads.take() == (3, {0, 1, 2})
    _assert_parity(spark, art, q, monkeypatch, **kw)
    assert loads.take() == (0, set())

    # upsert into the previously empty partition: it alone is replaced
    write(upsert_hnsw_index, spark, fill.drop("part"), art)
    _assert_parity(spark, art, q, monkeypatch, **kw)
    assert loads.take() == replaced({hole})

    # delete: tombstones only, no graph partition reloads
    heavy = [i for i in by_part[1] if i % 5 != 0][:40]
    dead = heavy + by_part[hole][:2]
    delete_from_hnsw_index(spark, art, dead)
    _assert_parity(spark, art, q, monkeypatch, dead=dead, **kw)
    assert loads.take() == (0, set())

    # upsert spread over the other three partitions
    write(upsert_hnsw_index, spark, spread.drop("part"), art)
    _assert_parity(spark, art, q, monkeypatch, dead=dead, **kw)
    assert loads.take() == replaced({0, 1, 2})

    # the delete's in-between window: tombstone rows land in the
    # relation before (or without) a meta write; the very next
    # request masks them
    meta = mio.read_json(os.path.join(art, "meta.json"))
    top = _sorted_frame(ann_hnsw_topk_indexed(spark, q, art, k=K))
    raw = [int(i) for i in top[top["rank"] == 1]["doc_id"][:3]]
    spark.createDataFrame(pd.DataFrame({"id": np.array(raw, np.int64)})).write.mode(
        "append"
    ).parquet(gen.tomb_dir(art, meta))
    dead += raw
    _assert_parity(spark, art, q, monkeypatch, dead=dead, **kw)
    assert loads.take() == (0, set())

    # partial compaction rebuilds only the dirty partition
    meta = write(compact_hnsw_index, spark, art, min_dead_fraction=0.2)
    assert set(meta["part_rels"]) >= {"1"}
    dirty = {int(p) for p, rel in meta["part_rels"].items() if rel.startswith("graph_c")}
    assert dirty == {1}
    _assert_parity(spark, art, q, monkeypatch, dead=dead, **kw)
    assert loads.take() == replaced({1})

    # full compaction rewrites every partition
    write(compact_hnsw_index, spark, art)
    a = _assert_parity(spark, art, q, monkeypatch, dead=dead, **kw)
    assert loads.take() == replaced({0, 1, 2, 3})
    assert a["query_id"].nunique() == 20


def test_resident_parity_ef_round_and_k(spark, tmp_path, monkeypatch):
    """Per-request knobs reach the resident kernels without mutating
    them: two beams over one cached index each equal scatter-gather
    at that beam, the cached kernels keep their ef; unrounded scores
    and k larger than a partition match too."""
    art = _art(tmp_path, "knobs")
    build_hnsw_index(
        _corpus(spark), art, dim=DIM, m=M, ef_construction=EFC,
        n_parts=N_PARTS, seed=42,
    )
    q = _queries(spark)
    _assert_parity(spark, art, q, monkeypatch, k=K, ef_search=200)
    kernels = [
        e[2] for key, e in hnsw_mod._KERNELS._entries.items() if key[0] == art
    ]
    assert len(kernels) == N_PARTS
    efs = [kern.ef for kern in kernels]
    _assert_parity(spark, art, q, monkeypatch, k=K, ef_search=64)
    assert [kern.ef for kern in kernels] == efs
    _assert_parity(spark, art, q, monkeypatch, k=K, round_to=None)
    big = _assert_parity(spark, art, q, monkeypatch, k=200)
    assert big.groupby("query_id").size().max() > max(
        len(kern) for kern in kernels
    )


def test_resident_parity_when_the_beam_reaches_fewer_than_k(
    spark, tmp_path, monkeypatch
):
    """m=2 over two tight clusters disconnects nodes, so some rows
    come back with fewer than k answers: both paths drop the same
    pads."""
    rng = np.random.default_rng(0)
    pts = np.concatenate(
        [c + 0.05 * rng.normal(size=(40, 16)) for c in (0.0, 10.0)]
    )
    pdf = pd.DataFrame(
        {"vec_id": np.arange(len(pts), dtype=np.int64), "embedding": list(pts)}
    )
    corpus = spark.createDataFrame(pdf, "vec_id bigint, embedding array<double>")
    art = _art(tmp_path, "pads")
    build_hnsw_index(
        corpus, art, dim=16, m=2, ef_construction=4, n_parts=2, seed=3
    )
    q = spark.createDataFrame(
        pdf.rename(columns={"vec_id": "query_id"}).head(10),
        "query_id bigint, embedding array<double>",
    )
    got = _assert_parity(spark, art, q, monkeypatch, k=40, ef_search=2)
    assert got.groupby("query_id").size().min() < 40


def test_resident_cache_evicts_least_recently_used(spark, tmp_path, monkeypatch):
    """More indexes than the byte bound holds: the least recently used
    kernels go, resident bytes stay under the bound, and an evicted
    index reloads on its next search."""
    import shutil

    src = _art(tmp_path, "lru_src")
    build_hnsw_index(
        _corpus(spark), src, dim=DIM, m=M, ef_construction=EFC,
        n_parts=N_PARTS, seed=42,
    )
    arts = [_art(tmp_path, f"lru{i}") for i in range(3)]
    for a in arts:
        shutil.copytree(src, a)
    q = _queries(spark)
    probe = hnsw_mod._KernelCache(1 << 40)
    monkeypatch.setattr(hnsw_mod, "_KERNELS", probe)
    want = _sorted_frame(ann_hnsw_topk_indexed(spark, q, arts[0], k=K))
    one_index = probe.resident_bytes
    # room for one and a half indexes
    cache = hnsw_mod._KernelCache(one_index * 3 // 2)
    monkeypatch.setattr(hnsw_mod, "_KERNELS", cache)
    for a in arts:
        got = _sorted_frame(ann_hnsw_topk_indexed(spark, q, a, k=K))
        pd.testing.assert_frame_equal(got, want)
        assert cache.resident_bytes <= cache.max_bytes
    held = {key[0] for key in cache._entries}
    assert held <= set(arts[1:]) and arts[2] in held
    assert sum(1 for key in cache._entries if key[0] == arts[2]) == N_PARTS
    loads = _LoadCounter(arts[0])
    with loads.counting(monkeypatch):
        ann_hnsw_topk_indexed(spark, q, arts[0], k=K).collect()
    assert loads.take() == (N_PARTS, set(range(N_PARTS)))
    assert cache.resident_bytes <= cache.max_bytes


def test_kernel_cache_accounting_under_threads():
    """Concurrent puts and gets on one cache never lose a byte count
    and never leave it over its bound."""
    import sys
    import threading

    cache = hnsw_mod._KernelCache(10_000)
    errors = []

    def worker(seed):
        rng = np.random.default_rng(seed)
        try:
            for _ in range(2000):
                key = ("idx", int(rng.integers(0, 40)))
                stamp = int(rng.integers(0, 3))
                if cache.get(key, "graph", stamp) is None:
                    cache.put(key, "graph", stamp, object(), int(rng.integers(1, 900)))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(s,)) for s in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    held = sum(e[3] for e in cache._entries.values())
    assert cache.resident_bytes == held <= cache.max_bytes
