"""Regression pins for review batch r9-4 (similarity facade routing,
ranks descending NULLs, maintenance locking, artifact pairing guards,
MRL compaction)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

import inside_vectordb_spark.io as eio
from inside_vectordb_spark import _generations as gen
from tests.conftest import SF_DIR


def _prefix_files(art: str) -> list[str]:
    """The data files of the MRL prefix relation, resolved through meta."""
    return [
        f
        for rel in gen.read_meta(art)["rels"]["prefixes"]
        for f in glob.glob(os.path.join(art, rel, "*.parquet"))
    ]


def _emb(spark):
    return eio.load_table(spark, SF_DIR, "embeddings")


def _queries(spark):
    return eio.query_vectors(spark, SF_DIR)


def test_ivf_det_route_offset_ids_fails_loudly(spark):
    """The facade's scale route must never silently return an empty
    top-k: a corpus whose ids miss the deterministic centroid rule
    (offset/snowflake id spaces) raises instead (review r9-4)."""
    from inside_vectordb_spark.operators.similarity import similarity_join

    offset = _emb(spark).withColumn("vec_id", F.col("vec_id") + 1_000_000)
    q = _queries(spark)
    with pytest.raises(ValueError, match="selects no corpus rows"):
        similarity_join(spark, q, offset, k=5, method="ivf_det").collect()


def test_similarity_default_sign_path_keyed_by_corpus(spark, tmp_path):
    """Two different corpora served through the facade WITHOUT an
    explicit index_path must not thrash one shared artifact dir
    (review r9-4): each corpus gets its own fingerprint-keyed dir, so
    alternating calls reuse their own index instead of rebuilding."""
    from inside_vectordb_spark import _meta_io as mio
    from inside_vectordb_spark.operators.similarity import similarity_join

    emb = _emb(spark)
    other = emb.withColumn("vec_id", F.col("vec_id") + 10_000)
    q = _queries(spark)
    qo = q.withColumn("query_id", F.col("query_id") + 10_000)
    root = os.path.join(mio.artifacts_root(), "similarity_join")
    similarity_join(spark, q, emb, k=5, method="signlsh").collect()
    similarity_join(spark, qo, other, k=5, method="signlsh",
                    query_id_col="query_id").collect()
    dirs = {os.path.basename(d) for d in glob.glob(os.path.join(root, "sign_*"))}
    assert len(dirs) >= 2, dirs
    # and alternating back must NOT rebuild: meta mtime stays put
    metas = sorted(glob.glob(os.path.join(root, "sign_*", "meta.json")))
    stamps = {m: os.path.getmtime(m) for m in metas}
    similarity_join(spark, q, emb, k=5, method="signlsh").collect()
    for m, t in stamps.items():
        assert os.path.getmtime(m) == t, f"{m} was rebuilt on alternation"


def test_descending_range_ids_put_nulls_last(spark):
    """DESC NULLS LAST (review r9-4): a NULL key must land in the
    LAST bucket under ascending=False — next to the smallest keys,
    after which the in-bucket DESC window sorts it last globally —
    not in bucket 0 beside the top keys."""
    from inside_vectordb_spark.operators.ranks import deterministic_range_ids

    rows = [(i, float(i)) for i in range(100)] + [(100, None), (101, None)]
    df = spark.createDataFrame(rows, "id long, quality double")
    got = deterministic_range_ids(df, "quality", 4, ascending=False)
    pids = {r["id"]: r["__pid"] for r in got.collect()}
    max_pid = max(pids.values())
    assert pids[100] == max_pid and pids[101] == max_pid
    # top-quality rows stay in bucket 0
    assert pids[99] == 0
    # ascending unchanged: NULLs in bucket 0 (ASC NULLS FIRST)
    got_asc = deterministic_range_ids(df, "quality", 4, ascending=True)
    pids_asc = {r["id"]: r["__pid"] for r in got_asc.collect()}
    assert pids_asc[100] == 0 and pids_asc[101] == 0


def test_pq_codes_without_codebooks_rejected(spark):
    """Stored codes looked up in freshly trained codebooks are noise;
    frozen codebooks with a fresh encode stay LEGAL (self-consistent,
    the delete-twin frozen-at-build semantics)."""
    from inside_vectordb_spark.operators.pq import ann_pq_topk

    emb = _emb(spark)
    q = _queries(spark)
    codes_stub = emb.select(F.col("vec_id").alias("doc_id"))
    with pytest.raises(ValueError, match="codes and codebooks together"):
        ann_pq_topk(q, emb, dim=64, codes=codes_stub)


def test_sq_codes_without_stats_rejected(spark):
    """Same rule as PQ: stored codes require their stats; stats alone
    stay legal (frozen-at-build + fresh encode)."""
    from inside_vectordb_spark.operators.sq import ann_sq_topk, sq_train

    emb = _emb(spark)
    q = _queries(spark)
    codes_stub = emb.select(F.col("vec_id").alias("doc_id"))
    with pytest.raises(ValueError, match="codes and stats together"):
        ann_sq_topk(q, emb, codes=codes_stub)
    # legal: frozen stats, fresh encode
    got = ann_sq_topk(q, emb, k=5, stats=sq_train(emb, "embedding"))
    assert got.count() > 0


def test_mrl_compaction_folds_files_results_identical(spark, tmp_path):
    """compact_mrl_index (review r9-4): upsert-appended prefix files
    fold into fewer files; search results are bit-identical; the
    fingerprint/lineage stays; idempotent; routed by compact_index."""
    from inside_vectordb_spark.operators.maintenance import compact_index
    from inside_vectordb_spark.operators.mrl import (
        ann_mrl_topk_indexed,
        build_mrl_index,
        upsert_mrl_index,
    )

    emb = _emb(spark)
    q = _queries(spark)
    art = str(tmp_path / "mrl")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    build_mrl_index(base, art)
    # two delta appends -> extra small files
    upsert_mrl_index(emb.filter(F.col("vec_id") % 6 == 0), art)
    upsert_mrl_index(emb.filter(F.col("vec_id") % 6 == 3), art)
    files_before = _prefix_files(art)
    before = ann_mrl_topk_indexed(q, emb, art, k=10).collect()
    meta = compact_index(spark, art)  # facade routes kind="mrl"
    assert meta.get("compacted") is True
    files_after = _prefix_files(art)
    assert len(files_after) < len(files_before)
    after = ann_mrl_topk_indexed(q, emb, art, k=10).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    # fingerprint/lineage untouched -> ensure still sees it current
    from inside_vectordb_spark.operators.mrl import ensure_mrl_index

    meta2 = ensure_mrl_index(emb, art)
    assert meta2.get("compacted") is True  # not rebuilt
    # idempotent
    compact_index(spark, art)
    again = ann_mrl_topk_indexed(q, emb, art, k=10).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, again))


def test_maintenance_paths_take_the_commit_lock(spark, tmp_path, monkeypatch):
    """Review r9-4: every O(delta) maintenance path serializes under
    the commit lock (mrl upsert; pq_det/ivf_det/ivf_km/lsh/ivf
    upserts; pq_det/sq deletes) — without it the disjointness guard
    races a concurrent identical upsert and the second appends
    duplicate rows. Structural pin: the upsert must acquire
    mio.commit_lock on its artifact path."""
    import contextlib

    from inside_vectordb_spark import _meta_io as mio
    from inside_vectordb_spark.operators import mrl as mrl_mod
    from inside_vectordb_spark.operators.mrl import (
        build_mrl_index,
        upsert_mrl_index,
    )

    emb = _emb(spark)
    art = str(tmp_path / "mrl")
    build_mrl_index(emb.filter(F.col("vec_id") % 2 == 0), art)
    acquired = []
    real = mio.commit_lock

    @contextlib.contextmanager
    def recording(base, *a, **kw):
        acquired.append(base)
        with real(base, *a, **kw):
            yield

    monkeypatch.setattr(mio, "commit_lock", recording)
    upsert_mrl_index(emb.filter(F.col("vec_id") % 2 == 1), art)
    assert art in acquired


def test_compact_index_unknown_kind_message_names_build(spark, tmp_path):
    """The NotImplementedError remedy must say build_*, not ensure_*
    (ensure fingerprint-matches a maintained index and no-ops)."""
    from inside_vectordb_spark import _meta_io as mio
    from inside_vectordb_spark.operators.maintenance import compact_index

    art = str(tmp_path / "x")
    mio.makedirs(art)
    mio.write_json(mio.join(art, "meta.json"), {"kind": "ivf_det"})
    with pytest.raises(NotImplementedError, match="direct build_"):
        compact_index(spark, art)
