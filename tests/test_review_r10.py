"""Round-10 adversarial review pins: concurrent-maintenance
interleavings on the graph/MRL tiers (the r8/r9 bug class) and the
advisory fixes.

Findings fixed this round:
- build_hnsw_index ran UNLOCKED: racing a locked upsert, its cleanup
  deleted graph_u* generation dirs while the upsert was writing them,
  and the upsert's meta commit then named destroyed relations. Build
  now serializes on the same commit lock as every maintenance op.
- ensure_mrl_index / ensure_mrl_sq_index rebuilt UNLOCKED on a stale
  read: an ensure racing a locked MRL upsert (which removes the
  marker mid-append by design) saw meta=None and started a full
  overwrite interleaved with the append. The rebuild branch now takes
  the lock and re-checks meta after acquisition.
- partial compaction's fully-folded tombstone dir had a crash window
  (meta committed, removal not yet run) that left a stale dir the
  DEFAULT tomb_rel name resolves to; the dir now also enters
  gc_pending so the next commit reclaims it.
- doc_chunks_udtf leaked one UDTF registration per call.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import inside_vectordb_spark.io as eio
from inside_vectordb_spark import _meta_io as mio
from tests.conftest import SF_DIR

DIM = 64


def _emb(spark):
    return eio.load_table(spark, SF_DIR, "embeddings")


def _patch_lock_recorder(monkeypatch):
    """Record every commit_lock acquisition while delegating to the
    real lock."""
    calls: list[str] = []
    real = mio.commit_lock

    def recording(base, *a, **kw):
        calls.append(os.path.abspath(base))
        return real(base, *a, **kw)

    monkeypatch.setattr(mio, "commit_lock", recording)
    return calls


def test_build_hnsw_takes_commit_lock(spark, tmp_path, monkeypatch):
    from inside_vectordb_spark.operators.hnsw_index import build_hnsw_index

    calls = _patch_lock_recorder(monkeypatch)
    art = str(tmp_path / "locked_build")
    build_hnsw_index(_emb(spark), art, dim=DIM, n_parts=2)
    assert os.path.abspath(art) in calls, "full rebuild must serialize"


def test_ensure_mrl_rebuild_takes_lock_and_rechecks(
    spark, tmp_path, monkeypatch
):
    from inside_vectordb_spark.operators.mrl import (
        build_mrl_index,
        ensure_mrl_index,
    )

    art = str(tmp_path / "mrl_locked")
    emb = _emb(spark)
    build_mrl_index(emb, art)
    calls = _patch_lock_recorder(monkeypatch)
    # current index: ensure must NOT take the lock (fast path)
    ensure_mrl_index(emb, art)
    assert os.path.abspath(art) not in calls
    # stale index: the rebuild branch must serialize
    mio.remove_file(mio.join(art, "meta.json"))
    ensure_mrl_index(emb, art)
    assert os.path.abspath(art) in calls


def test_partial_compact_tomb_dir_crash_window_reclaimed(spark, tmp_path):
    """Simulate the crash between the partial-compact meta commit and
    the immediate tombstone-dir removal: the stale dir must be listed
    in gc_pending so the NEXT commit reclaims it."""
    from inside_vectordb_spark.operators.hnsw_index import (
        build_hnsw_index,
        compact_hnsw_index,
        delete_from_hnsw_index,
        upsert_hnsw_index,
    )

    art = str(tmp_path / "crashwin")
    corpus = _emb(spark)
    base = corpus.filter(F.col("vec_id") % 10 != 0)
    delta = corpus.filter(F.col("vec_id") % 10 == 0)
    build_hnsw_index(base, art, dim=DIM, n_parts=2)
    delete_from_hnsw_index(spark, art, [1, 2, 3])
    tomb = mio.read_json(mio.join(art, "meta.json"))["tomb_rel"]
    meta = compact_hnsw_index(spark, art, min_dead_fraction=0.0)
    assert [tomb, None] in meta["gc_pending"]
    assert not mio.is_dir(os.path.join(art, tomb))
    # crash simulation: the dir reappears (removal "didn't happen") —
    # a real crash leaves it with its pre-compact content
    spark.createDataFrame([(1,), (2,), (3,)], "id long").write.parquet(
        os.path.join(art, tomb)
    )
    upsert_hnsw_index(spark, delta, art)  # next commit
    assert not mio.is_dir(os.path.join(art, tomb)), (
        "gc_pending must reclaim the stale tombstone dir"
    )


def test_compact_index_facade_routes_incremental_knob(spark, tmp_path):
    from inside_vectordb_spark.operators.hnsw_index import (
        build_hnsw_index,
        delete_from_hnsw_index,
    )
    from inside_vectordb_spark.operators.maintenance import compact_index

    art = str(tmp_path / "facade_inc")
    build_hnsw_index(_emb(spark), art, dim=DIM, n_parts=2)
    delete_from_hnsw_index(spark, art, [1])
    meta = compact_index(spark, art, min_dead_fraction=0.0)
    assert meta["n_compacted_away"] == 1
    # a tier without the knob rejects it loudly instead of ignoring it
    from inside_vectordb_spark.operators.mrl import build_mrl_index

    mart = str(tmp_path / "facade_mrl")
    build_mrl_index(_emb(spark), mart)
    with pytest.raises(TypeError):
        compact_index(spark, mart, min_dead_fraction=0.0)


def test_udtf_registration_does_not_leak(spark):
    from inside_vectordb_spark.operators.pyfuncs import doc_chunks_udtf

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y")], "doc_id long, text string"
    )
    before = {
        f.name
        for f in spark.catalog.listFunctions()
        if f.name.startswith("word_chunks_")
    }
    for _ in range(3):
        assert doc_chunks_udtf(spark, docs, width=2).count() == 4
    after = {
        f.name
        for f in spark.catalog.listFunctions()
        if f.name.startswith("word_chunks_")
    }
    assert after == before, f"leaked UDTF registrations: {after - before}"
