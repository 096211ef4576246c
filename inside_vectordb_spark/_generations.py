"""The commit protocol every persisted index shares.

An index lives in one directory: parquet DATA relations (one or more
subdirectories each) plus ``meta.json``, the CONTROL file that names
which directories are live. This module is the one place that protocol
is written down and implemented; every tier (``hnsw_index``,
``lexical_index``, the LSH, PQ and SQ tiers in ``ann_index``, the
sign-LSH and IVF tiers in ``ann_sign``, ``pq_det``, ``ivfpq_det`` and
``mrl``) calls into it instead of restating it.

Relation map. Meta names every relation an index serves as one map
from relation name to a list of directories (``rels``; the lexical
index keeps its own ``postings_rels``/``doclen_rels`` lists, and the
partitioned HNSW graph its ``base_rel``/``part_rels``). A reader
resolves every relation from the one meta read it makes and unions a
relation's directories (``read_rel``; one ``spark.read.parquet`` per
directory, since two partitioned roots cannot share one read). The
writes follow one rule:
  - a build, rebuild or compaction writes a fresh ``<name>_g<n>`` for
    each relation it rewrites (``build_rels``) and names it alone;
  - an upsert writes its delta to a fresh ``<name>_d<n>``
    (``delta_rel``) and appends it to that relation's list;
  - nothing ever writes into a directory that meta already names.

Generation naming. A write never goes into a directory a reader could
resolve. Each new relation takes the smallest ``<prefix><n>`` with no
directory on disk (``fresh_gen``) — on disk, not merely unnamed by the
current meta, because a directory the PREVIOUS meta named may still be
read by an in-flight query (the grace below). A crashed write leaves
its directory behind, so its retry takes the next number.

Meta is the commit point. Data relations are written first; the
atomic ``meta.json`` rewrite (``_meta_io.write_json``: temp file +
rename) then publishes them. Readers resolve every relation through
meta — a partitioned index maps each partition to the relation that
serves it (``part_map``: meta's ``part_rels``, else ``base_rel``, and a
partition whose ``part=<p>`` directory is absent is simply empty) — so
a crash before the meta write leaves the previous index fully
readable, and a reader never sees a relation that was not committed.
Every write runs under ``_meta_io.commit_lock``: GC is a sweep, and
would otherwise delete another writer's generation while it is still
being written.

One-commit grace and GC. A commit supersedes relations (a partition
repointed at a new generation, a rebuilt relation, an old dictionary,
a folded tombstone set). A reader that resolved the previous meta may
still hold lazy frames over them, so they survive exactly one commit
and are reclaimed by the next (``commit`` → ``gc``). GC is a sweep:
every directory of the index's families that the new meta does not
serve and does not hold in grace goes. A partitioned index records its
grace list in meta (``gc_pending``: ``[rel, part]`` for one partition
directory, ``[rel, null]`` for a whole relation); the other indexes
pass the previous meta's relations as the grace set (``commit_rels``
reads it from disk, under the lock). Because GC is a sweep and not a
replay of a list, it is self-healing: directories left by a crash — an
uncommitted generation, or relations a crashed GC never reached — go
at the next successful commit.

Tombstones. Deletes are hnswlib ``mark_deleted`` / FAISS
``remove_ids``: ids are appended to a tombstone relation (meta's
``tomb_rel``, default ``tombstones``) that every search anti-joins;
the data relations are untouched until a compaction or rebuild
removes the rows physically and names a fresh, still absent
``tombstones_g<n>``. A reader holding the previous meta keeps its
tombstones through the grace, and the new lifecycle never sees them.
The relation is read as a directory, so an append is visible the
moment it lands: the append IS a delete's commit. A delete of a list
of ids runs no Spark job: the set difference against the stored
tombstones is taken on the driver and the new ids are appended as one
parquet file written with pyarrow (``write_ids``;
``_meta_io.write_parquet`` renames it into place whole). A delete
given as a DataFrame stays on the executors. A partial compaction
writes its surviving ids to a fresh ``tombstones_g<n>`` relation the
same way. Meta carries ``n_deleted``, the count search uses to
over-fetch past masked rows; it is written BEFORE the append, as the
size of (existing ∪ new) tombstones, so a crash between the two only
over-counts (more over-fetch, never fewer than k live rows) and the
next delete recounts it exactly.

Crash behaviour, per step of a write:
  - before or during the meta write: the previous index is served;
    the new generation is an orphan, swept by the next commit;
  - after the meta write, before or during GC: the new index is
    served; superseded relations linger until the next commit's sweep;
  - a delete: before its meta write nothing changed; after it, the
    ids are masked once the append lands.

An index whose meta lacks its tier's layout keys (``_LAYOUT``: the
relation map, or the graph's generation map and counts) predates this
protocol: ``current`` reports it stale, so ``ensure_*`` rebuilds it,
and ``read_meta`` with a kind refuses it.
"""

from __future__ import annotations

import os
from typing import Any, Iterable

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inside_vectordb_spark import _meta_io as mio

META = "meta.json"
TOMBSTONES = "tombstones"
# keys a meta of this protocol carries, per kind (default: the
# relation map); the lexical index validates its own ``layout``
_LAYOUT = {
    "hnsw_vendored": ("base_rel", "part_rels", "part_counts", "heuristic"),
    "lexical": (),
}


def _has_layout(meta: dict[str, Any] | None) -> bool:
    return meta is not None and all(
        k in meta for k in _LAYOUT.get(meta.get("kind"), ("rels",))
    )


def read_meta(
    path: str, kind: str | None = None, tier: str | None = None
) -> dict[str, Any] | None:
    """The committed ``meta.json``, or None when there is none. With
    ``kind``, a missing meta, one of another kind or one without the
    kind's layout keys raises ``FileNotFoundError`` naming the
    ``tier`` (default: the kind)."""
    meta = mio.read_json(mio.join(path, META))
    if kind is not None and (
        meta is None or meta.get("kind") != kind or not _has_layout(meta)
    ):
        raise FileNotFoundError(f"no complete {tier or kind} index at {path}")
    return meta


def current(path: str, want: dict[str, Any]) -> dict[str, Any] | None:
    """The committed meta when it has its kind's layout and agrees with
    ``want`` on every key (lifecycle bookkeeping such as ``n_deleted``
    is not compared); None tells an ``ensure_*`` to rebuild."""
    meta = read_meta(path)
    if _has_layout(meta) and all(meta.get(k) == v for k, v in want.items()):
        return meta
    return None


def write_meta(path: str, meta: dict[str, Any], indent: int | None = None) -> None:
    """The commit point: one atomic rewrite of ``meta.json``."""
    mio.write_json(mio.join(path, META), meta, indent=indent)


def _subdirs(path: str) -> list[str]:
    try:
        return sorted(n for n in os.listdir(path) if mio.is_dir(mio.join(path, n)))
    except FileNotFoundError:
        return []


def fresh_gen(
    path: str, *prefixes: str, start: int = 1, taken: Iterable[str] = ()
) -> int:
    """Smallest ``n >= start`` for which no ``<prefix><n>`` directory
    exists for ANY of ``prefixes`` (one number names a set of sibling
    relations written together) and none is ``taken`` — a name still
    held in grace is reclaimed by the next commit even when its
    directory is already gone."""
    taken = set(taken)
    n = start
    while any(
        f"{p}{n}" in taken or mio.is_dir(mio.join(path, f"{p}{n}")) for p in prefixes
    ):
        n += 1
    return n


def part_map(path: str, meta: dict[str, Any]) -> dict[int, str]:
    """Partition → the relation that serves it. A partition whose
    ``part=<p>`` directory is absent under its relation is empty — never
    populated, or rebuilt to zero rows by a compaction — and is left
    out; falling back to an older relation would resurrect rows."""
    part_rels = meta["part_rels"]
    base_rel = meta["base_rel"]
    out = {}
    for p in range(int(meta["n_parts"])):
        rel = part_rels.get(str(p), base_rel)
        if mio.is_dir(mio.join(path, rel, f"part={p}")):
            out[p] = rel
    return out


def read_rels(spark: SparkSession, path: str, rels: Iterable[str]) -> DataFrame:
    """Union the parquet relations a meta rel list names."""
    out = None
    for rel in rels:
        d = spark.read.parquet(mio.join(path, rel))
        out = d if out is None else out.unionByName(d)
    return out


def read_rel(
    spark: SparkSession, path: str, meta: dict[str, Any], name: str
) -> DataFrame:
    """Relation ``name`` as meta serves it: the union of its
    directories. Filters on partition columns prune within each."""
    return read_rels(spark, path, meta["rels"][name])


def rel_dir(path: str, meta: dict[str, Any], name: str) -> str:
    """The one directory of a relation that is only ever rewritten
    whole (a codebook, the centroids)."""
    (rel,) = meta["rels"][name]
    return mio.join(path, rel)


def build_rels(path: str, *names: str) -> dict[str, Any]:
    """Meta's ``rels`` and ``tomb_rel`` for a build, rebuild or
    compaction that rewrites ``names``: one fresh ``<name>_g<n>`` each
    and a fresh, absent ``tombstones_g<n>``, all sharing one ``n``."""
    n = fresh_gen(path, *(f"{name}_g" for name in names), f"{TOMBSTONES}_g")
    return {
        "rels": {name: [f"{name}_g{n}"] for name in names},
        "tomb_rel": f"{TOMBSTONES}_g{n}",
    }


def delta_rel(path: str, name: str) -> str:
    """A fresh directory name for an upsert's delta of ``name``."""
    return f"{name}_d{fresh_gen(path, f'{name}_d')}"


def _served(meta: dict[str, Any] | None) -> set[str]:
    meta = meta or {}
    rels = {rel for dirs in meta.get("rels", {}).values() for rel in dirs}
    return rels | {meta.get("tomb_rel", TOMBSTONES)}


def commit_rels(
    path: str, meta: dict[str, Any], deltas: dict[str, str] | None = None
) -> dict[str, Any]:
    """Commit a meta whose ``rels`` names every served relation, after
    appending each written ``deltas`` directory (relation name →
    directory) to its relation's list — one that holds no data file
    is dropped, since Spark cannot read a relation from it. The
    relations the committed meta on disk names keep their one-commit
    grace. Call under the commit lock."""
    for name, rel in (deltas or {}).items():
        if _holds_data(mio.join(path, rel)):
            meta["rels"][name] = [*meta["rels"][name], rel]
    keep = _served(meta) | _served(read_meta(path))
    return commit(path, meta, keep, (*meta["rels"], TOMBSTONES))


def _holds_data(rel_dir: str) -> bool:
    return any(
        f.endswith(".parquet") and not f.startswith((".", "_"))
        for _root, _dirs, files in os.walk(rel_dir)
        for f in files
    )


def _entry(rel: str, part: int | None) -> str:
    return rel if part is None else f"{rel}/part={part}"


def gc(
    path: str, keep: set[str], families: tuple[str, ...], part_level: tuple[str, ...] = ()
) -> None:
    """Remove every directory of ``families`` that ``keep`` does not
    name. Relations of ``part_level`` families are reclaimed one
    ``part=<p>`` directory at a time (``keep`` names them as
    ``rel/part=<p>``) and the relation directory itself stays."""
    for name in _subdirs(path):
        if not name.startswith(families) or name in keep:
            continue
        if name.startswith(part_level):
            for sub in _subdirs(mio.join(path, name)):
                if sub.startswith("part=") and f"{name}/{sub}" not in keep:
                    mio.remove_tree(mio.join(path, name, sub))
        else:
            mio.remove_tree(mio.join(path, name))


def commit(
    path: str,
    meta: dict[str, Any],
    keep: set[str],
    families: tuple[str, ...],
    part_level: tuple[str, ...] = (),
    indent: int | None = None,
) -> dict[str, Any]:
    """Publish ``meta``, then reclaim what it neither serves nor holds
    in grace (``keep``)."""
    write_meta(path, meta, indent)
    gc(path, keep, families, part_level)
    return meta


def commit_parts(
    path: str,
    meta: dict[str, Any],
    superseded: list,
    families: tuple[str, ...],
    part_level: tuple[str, ...],
    drop: Iterable[str] = (),
) -> dict[str, Any]:
    """``commit`` for a partitioned index with a ``gc_pending`` grace
    list: ``superseded`` (this commit's ``[rel, part]`` /
    ``[rel, None]`` entries) replaces the previous list, whose entries
    are reclaimed now. ``drop`` names whole relations to reclaim now
    although they are listed in grace."""
    prev = {_entry(r, p) for r, p in meta.get("gc_pending", [])}
    meta["gc_pending"] = superseded
    keep = {f"{rel}/part={p}" for p, rel in part_map(path, meta).items()}
    keep.add(meta.get("tomb_rel", TOMBSTONES))
    keep |= {_entry(r, p) for r, p in superseded}
    return commit(path, meta, keep - prev - set(drop), families, part_level, indent=2)


# --- tombstones -------------------------------------------------------


def tomb_dir(path: str, meta: dict[str, Any] | None = None) -> str:
    """The live tombstone relation (versioned through ``tomb_rel`` when
    a partial compaction shrinks the set)."""
    return mio.join(path, (meta or {}).get("tomb_rel", TOMBSTONES))


def has_tombstones(path: str, meta: dict[str, Any] | None = None) -> bool:
    return mio.is_dir(tomb_dir(path, meta))


def tombstone_ids(path: str, meta: dict[str, Any] | None = None, col: str = "id") -> set[int]:
    """The tombstoned ids (a bounded driver-side read)."""
    tomb = tomb_dir(path, meta)
    if not mio.is_dir(tomb):
        return set()
    return {int(r[col]) for r in mio.read_parquet_rows(tomb, columns=[col])}


def tombstones(
    spark: SparkSession,
    path: str,
    meta: dict[str, Any] | None = None,
    col: str = "id",
    as_col: str | None = None,
) -> DataFrame | None:
    """The tombstone relation as a one-column frame (``col`` renamed to
    ``as_col``), or None when nothing is deleted."""
    tomb = tomb_dir(path, meta)
    if not mio.is_dir(tomb):
        return None
    return spark.read.parquet(tomb).select(F.col(col).alias(as_col or col))


def drop_deleted(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    meta: dict[str, Any] | None = None,
    on: str = "doc_id",
    col: str = "id",
) -> DataFrame:
    """Anti-join the tombstoned ids out of ``df`` (keyed by ``on``). No
    broadcast hint: the set grows until the next compaction, so AQE
    broadcasts it only while it is small."""
    dead = tombstones(spark, path, meta, col, on)
    return df if dead is None else df.join(dead, on, "left_anti")


def delete(
    spark: SparkSession,
    path: str,
    meta: dict[str, Any],
    ids: "list[int] | DataFrame",
    col: str = "id",
    indent: int | None = None,
) -> dict[str, Any]:
    """Tombstone ``ids`` (idempotent per id); call under the commit
    lock. A list is set-differenced on the driver against the bounded
    tombstone set; a DataFrame stays on the executors end to end (a
    crawl-scale delete set must never round-trip the driver)."""
    tomb = tomb_dir(path, meta)
    stale = [meta.get("tomb_rel", TOMBSTONES), None]
    if stale in meta.get("gc_pending", []):
        # a compaction folded this relation away and left it in grace:
        # whatever the directory still holds is superseded, and the
        # next GC would take this delete's append along with it
        mio.remove_tree(tomb)
        meta["gc_pending"] = [e for e in meta["gc_pending"] if e != stale]
    if isinstance(ids, DataFrame):
        fresh = ids.select(ids.columns[0]).toDF(col).distinct()
        fresh = drop_deleted(spark, fresh, path, meta, on=col, col=col).persist()
        n_fresh = fresh.count()
        n_total = n_fresh + (spark.read.parquet(tomb).count() if n_fresh and mio.is_dir(tomb) else 0)
    else:
        existing = tombstone_ids(path, meta, col)
        new = np.array(sorted({int(i) for i in ids} - existing), dtype=np.int64)
        n_fresh, n_total = len(new), len(existing) + len(new)
    if n_fresh:
        meta["n_deleted"] = n_total
        write_meta(path, meta, indent)
        if isinstance(ids, DataFrame):
            fresh.write.mode("append").parquet(tomb)
        else:
            write_ids(tomb, new, col)
    if isinstance(ids, DataFrame):
        fresh.unpersist()
    return meta


def write_ids(rel_dir: str, ids: np.ndarray, col: str = "id") -> None:
    """Write a driver-held tombstone id set as one parquet file under
    ``rel_dir`` (appending when the relation exists) — no Spark job."""
    mio.write_parquet(rel_dir, pa.table({col: pa.array(ids, pa.int64())}))
