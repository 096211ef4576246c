"""The metadata I/O seam: atomic control-file writes (a crashed or
concurrent commit never exposes a partial log/meta) and the snapshot
log's behavior through it."""

from __future__ import annotations

import json
import os

from inside_vectordb_spark import _meta_io as mio


def test_write_json_atomic_and_clean(tmp_path):
    p = str(tmp_path / "sub" / "meta.json")
    assert mio.read_json(p) is None
    for i in range(20):
        mio.write_json(p, {"versions": list(range(i + 1))})
    assert mio.read_json(p) == {"versions": list(range(20))}
    # no temp droppings: the rename consumed every staged file
    leftovers = [f for f in os.listdir(tmp_path / "sub") if f != "meta.json"]
    assert leftovers == []
    # the on-disk bytes are always complete JSON
    with open(p) as f:
        assert json.load(f)["versions"][-1] == 19


def test_remove_file_through_seam(tmp_path):
    """Control-file removal goes through the seam (advice r6): a
    marker invalidation must be swappable for an object-store delete,
    and removing a missing marker is a no-op, not an error."""
    p = str(tmp_path / "meta.json")
    mio.remove_file(p)  # missing → no-op
    mio.write_json(p, {"kind": "x"})
    mio.remove_file(p)
    assert mio.read_json(p) is None


def test_snapshot_log_roundtrip_through_seam(spark, tmp_path):
    from inside_vectordb_spark.operators.merge import (
        read_snapshot,
        snapshot_versions,
        vacuum_snapshots,
        write_snapshot,
    )

    df = spark.range(10).withColumnRenamed("id", "doc_id")
    path = str(tmp_path / "snap")
    write_snapshot(df, path, 1)
    write_snapshot(df.filter("doc_id < 5"), path, 2)
    assert snapshot_versions(path) == [1, 2]
    assert read_snapshot(spark, path, 1).count() == 10
    assert read_snapshot(spark, path).count() == 5
    assert vacuum_snapshots(path, keep_last=1) == [1]
    assert snapshot_versions(path) == [2]
    # log file is valid standalone JSON (atomic replace, no truncation)
    with open(os.path.join(path, "_log.json")) as f:
        assert json.load(f) == {"versions": [2]}


def test_snapshot_fixture_reused_across_invocations(spark):
    """The snapshot queries' v1→v2→v3 fixture is built ONCE per
    (sf_dir, corpus fingerprint) and reused — re-invoking a registered
    snapshot query must not rewrite the fixture (the bench number then
    measures the operator, not O(base) fixture I/O) and must return
    identical results."""
    from inside_vectordb_spark.registry import QUERIES
    from inside_vectordb_spark.registry.pipeline import _ensure_snapshot_history
    from tests.conftest import SF_DIR

    art = _ensure_snapshot_history(spark, SF_DIR)
    log = os.path.join(art, "_log.json")
    first = {
        tuple(r) for r in QUERIES["snapshot_change_feed"](spark, SF_DIR).collect()
    }
    mtime = os.path.getmtime(log)
    second = {
        tuple(r) for r in QUERIES["snapshot_change_feed"](spark, SF_DIR).collect()
    }
    assert first == second and len(first) > 0
    assert os.path.getmtime(log) == mtime  # fixture untouched on re-run
    # corrupting the marker forces a rebuild (self-healing cache)
    mio.write_json(os.path.join(art, "_fixture.json"), {"recipe": "stale"})
    art2 = _ensure_snapshot_history(spark, SF_DIR)
    assert art2 == art
    assert os.path.getmtime(log) > mtime


def test_merge_upsert_null_or_unknown_op_upserts_not_deletes(spark):
    """Op semantics: only exactly 'delete' deletes. A NULL op (torn
    CDC record) or a case-drifted 'UPDATE' must apply the row — the
    old `op != 'delete'` filter evaluated NULL to NULL and silently
    hard-deleted the key (anti-joined out of base, never re-inserted)."""
    from inside_vectordb_spark.operators.merge import merge_upsert

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    changes = spark.createDataFrame(
        [(1, "a2", None), (2, "b2", "UPDATE"), (3, None, "delete"), (4, "d", "insert")],
        "doc_id long, text string, op string",
    )
    got = {r["doc_id"]: r["text"] for r in merge_upsert(base, changes).collect()}
    assert got == {1: "a2", 2: "b2", 4: "d"}


def test_read_json_absent_race_returns_none(tmp_path, monkeypatch):
    """Review r8: a control file removed between any exists() check
    and the open must read as absent (None), not crash the prober —
    the open itself is the existence test now."""
    from inside_vectordb_spark import _meta_io as mio

    assert mio.read_json(str(tmp_path / "never_written.json")) is None


def test_commit_lock_excludes_and_releases(tmp_path):
    from inside_vectordb_spark import _meta_io as mio

    base = str(tmp_path / "snap")
    with mio.commit_lock(base):
        import pytest as _pytest

        with _pytest.raises(TimeoutError, match="commit lock"):
            with mio.commit_lock(base, timeout_sec=0.2):
                pass
    # released: a fresh acquisition succeeds
    with mio.commit_lock(base, timeout_sec=0.2):
        pass
