"""One maintenance entry point for every persisted index.

The engine ships per-tier lifecycle operators (build/ensure, O(delta)
upsert, tombstone delete, compaction); this module is the thin facade
a user points at an artifact PATH without knowing its tier — the
``OPTIMIZE <table>`` ergonomics, resolved through the committed
meta.json (``_generations.read_meta``). Reference anchor: the index caching/rebuild
economics of ``003-hnswlib_demo.py:234-251``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from inside_vectordb_spark import _generations as gen

# meta["kind"] -> compaction implementation
_COMPACTORS = {
    "sign_lsh": "inside_vectordb_spark.operators.ann_sign:compact_sign_index",
    "lexical": "inside_vectordb_spark.operators.lexical_index:compact_lexical_index",
    "hnsw_vendored": "inside_vectordb_spark.operators.hnsw_index:compact_hnsw_index",
    "mrl": "inside_vectordb_spark.operators.mrl:compact_mrl_index",
}


def compact_index(spark: SparkSession, path: str, **kwargs) -> dict:
    """Fold upsert generations into one and apply tombstones for the
    index at ``path``, whatever its tier. Raises FileNotFoundError
    when no complete index exists there and NotImplementedError for
    tiers without a compactor. The det-IVF / det-PQ / km-IVF / LSH
    upserts add delta relations that each search unions back in,
    pruned on the same cid/bucket partitions; their remedy when the
    delta count matters is a full rebuild — note that means a DIRECT
    ``build_*`` call, NOT ``ensure_*`` (review r9-4: ensure
    fingerprint-matches a maintained index and correctly no-ops).
    The sign-LSH, MRL, HNSW and lexical tiers have compactors.

    Tier-specific knobs pass through ``**kwargs`` verbatim — e.g. the
    graph tier's incremental ``min_dead_fraction`` (round-10); a tier
    that doesn't support a knob rejects it loudly (TypeError), which
    is the accurate failure."""
    meta = gen.read_meta(path)
    if meta is None:
        raise FileNotFoundError(f"no complete index at {path}")
    kind = meta.get("kind")
    target = _COMPACTORS.get(kind)
    if target is None:
        raise NotImplementedError(
            f"index kind {kind!r} has no delta compaction — its upsert "
            "deltas are partition-aligned (no tombstone debt); when the "
            "delta count matters, rebuild via a direct build_* call "
            "(ensure_* fingerprint-matches a maintained index and "
            "no-ops by design)"
        )
    mod_name, fn_name = target.split(":")
    import importlib

    fn = getattr(importlib.import_module(mod_name), fn_name)
    return fn(spark, path, **kwargs)
