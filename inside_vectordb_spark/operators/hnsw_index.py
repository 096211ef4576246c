"""Persisted vendored-HNSW graph index: save/load the proximity graph.

The reference's actual hnswlib artifact is a serialized graph —
``003-hnswlib_demo.py:234-257`` builds once, ``save_index``es to disk,
``load_index``s without rebuild, and ``add_items`` appends to the
loaded index. Every other persisted tier in this engine (LSH / IVF /
PQ / SQ / MRL) stores derived tables; this module rounds out S9 by
persisting the GRAPH itself for the vendored NumPy kernel
(``operators/hnsw_kernel.py``), so repeated queries skip the
per-partition graph build the scatter-gather tier
(``operators/partitioned_ann.py``) pays per job.

Layout (all data parquet, control files via the ``_meta_io`` seam):

    <path>/graph_g<N>/part=<p>/…  build generations (``base_rel``):
                              one row per (node, level) — internal
                              insertion index (``ord``), external id,
                              neighbor ``ord`` list; the level-0 row
                              carries the L2-NORMALIZED vector; one
                              header row per partition (level = −1)
                              carries entry point / max level / RNG
                              state
    <path>/graph_u<N>/…       upsert generations; meta's
                              ``part_rels`` names which generation
                              serves each partition
    <path>/graph_c<N>/…       compaction generations (``base_rel``)
    <path>/tombstones_g<N>/   mark_deleted ids (``tomb_rel``; search
                              filters them, compaction removes them
                              physically)
    <path>/meta.json          params + fingerprint + the generation
                              map, the commit point of every write

Generation naming, meta as the commit point, the one-commit GC grace
(``gc_pending``) and tombstones follow ``inside_vectordb_spark/_generations.py``.

Scale shape: vectors are routed to ``n_parts`` graph partitions by
``pmod(xxhash64(id), n_parts)`` — deterministic, so a delta upsert
routes to the same partition its full-rebuild twin would. Search has
two paths that return the same rows:

- Resident (point lookups): an unfiltered batch of at most
  ``_RESIDENT_MAX_QUERIES`` queries over an index whose live
  partitions hold at most ``_RESIDENT_MAX_BYTES`` on disk is answered
  on the driver. Each partition's kernel is read once through pyarrow
  and kept in a process-level LRU (``_KERNELS``, bounded by estimated
  bytes) keyed by (index path, partition) and valid only for the
  relation meta names and the ``part=<p>`` directory stamp (file
  names, sizes, mtimes) it was read from (every write takes a fresh
  generation, so the stamp only guards a directory replaced from
  outside the engine). A delete writes meta before its tombstone
  append, so the tombstones are read on every request instead. Only index structure
  is cached, never answers. The result is a local frame (one
  ``LocalTableScan``), so collecting it runs no Spark job.
- Scatter-gather (filtered searches, large batches, large indexes):
  ZERO graph-row shuffles: each partition gets its own
  PartitionFilters-pruned scan coalesced into one task, whose
  mapInPandas reconstructs the kernel and answers the broadcast query
  batch with the ef beam; only Q×k partial rows reach the global merge
  exchange (plan-pinned in ``tests/test_plans.py``).

Both share ``_result_frame`` (the ``k + n_deleted`` over-fetch and the
per-call beam), the tombstone mask and the (score DESC, doc_id ASC)
rank, and ``tests/test_hnsw_index.py`` pins them equal row for row
after every kind of commit. Upserts rebuild
ONLY the receiving partitions into a fresh generation dir (same
no-shuffle shape) with O(delta) graph inserts — base nodes are never
re-inserted; the stored RNG state continues the level-draw stream, so
load-then-add builds the identical graph an unsaved index would.
Deletes tombstone (nodes keep ROUTING the beam, hnswlib
semantics); compaction rebuilds partitions from live rows — the
compacted index is bit-identical to a fresh build over them.

Writes have two placements too, chosen like the reads. An upsert of
at most ``_DRIVER_UPSERT_MAX_VECTORS`` (8,000) delta rows, or a
compaction whose rebuilt partitions store at most
``_DRIVER_REBUILD_MAX_VECTORS`` (3,500) rows, into an index whose
live partitions hold at most ``_RESIDENT_MAX_BYTES`` runs on the
driver: the upsert collects its routed delta with one ``toArrow``
job, reads only the touched partitions through pyarrow and runs its
pre-checks in NumPy; the compaction runs no job at all. Larger writes
keep the executor plan (one task per partition). Both placements call
``extend_one`` and write the same graph rows and meta
(``tests/test_hnsw_write_placement.py``); the driver writes with
``_meta_io.write_parquet`` and, after its commit, hands each new
kernel to ``_KERNELS`` under its new relation and stamp, so the next
read loads nothing. A write always reads its partitions fresh from
disk, so a kernel a reader holds is never mutated. The bounds are
where the driver's serial inserts stop paying, measured on a 4-vCPU
host at ``local[2]`` (64-dim, m=16, ef_construction=64, 4
partitions): a full compaction over 2,000 / 3,000 / 3,500 / 4,000 /
8,000 live vectors took 1.7–1.9 / 3.3–3.5 / 4.0–4.5 / 5.2–5.3 /
10.3–11.1 s on the driver against 3.2–4.0 / 4.7–5.5 / 4.6–5.3 /
3.8–4.6 / 5.6–7.2 s on the executors, while an upsert of that many
vectors into a 2,000-vector index won on the driver at every size
(8,000: 10.9–13.4 s against 15.2–15.3 s). Sizes past 8,000 were not
measured, and the compaction crossover falls as task slots grow.

Graph builds are insertion-order dependent (true of hnswlib too), so
this tier is rows-only at the driver; determinism (same corpus, same
params → same graph → same results), stored==fresh,
load-then-add==never-saved, compacted==rebuild, and the maintenance
contracts are pinned in ``tests/test_hnsw_index.py``, and recall vs
exact is floor-asserted.
"""

from __future__ import annotations

import json
import os
import threading
from collections import Counter, OrderedDict
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from inside_vectordb_spark import _generations as gen
from inside_vectordb_spark import _meta_io as mio
from inside_vectordb_spark.operators.ann import _normalize_rows, rank_topk
from inside_vectordb_spark.operators.ann_index import (
    _assert_disjoint_delta,
    _corpus_fingerprint,
    _merge_fingerprint,
    _refuse_overlap,
)
from inside_vectordb_spark.operators.hnsw_kernel import HnswIndex
from inside_vectordb_spark.operators.topk import (
    _PARTIAL_SCHEMA,
    _RESIDENT_MAX_BYTES,
    _RESIDENT_MAX_QUERIES,
    _local_topk,
)

GRAPH_SCHEMA = StructType(
    [
        StructField("part", LongType()),
        StructField("ord", LongType()),
        StructField("node_id", LongType()),
        StructField("level", IntegerType()),
        StructField("neighbors", ArrayType(LongType())),
        StructField("vector", ArrayType(DoubleType())),
        StructField("meta_json", StringType()),
    ]
)
# a partition file's columns (``part`` lives in the directory name),
# typed as Spark writes them
_GRAPH_COLS = ["ord", "node_id", "level", "neighbors", "vector", "meta_json"]
_GRAPH_FILE_SCHEMA = pa.schema(
    [
        ("ord", pa.int64()),
        ("node_id", pa.int64()),
        ("level", pa.int32()),
        ("neighbors", pa.list_(pa.int64())),
        ("vector", pa.list_(pa.float64())),
        ("meta_json", pa.string()),
    ]
)

# the relation families this index owns; graph relations are
# superseded (and reclaimed) one partition dir at a time
_FAMILIES = ("graph", gen.TOMBSTONES)
_PART_LEVEL = ("graph",)


def _commit(path: str, meta: dict, superseded: list, drop=()) -> dict[str, Any]:
    return gen.commit_parts(path, meta, superseded, _FAMILIES, _PART_LEVEL, drop)


def _part_expr(id_col: str, n_parts: int):
    """THE partition-routing rule. xxhash64 is seed-stable across
    sessions, so deltas route to the same graph partition their
    full-rebuild twin would — the property the O(delta) upsert's
    bit-compat contract rests on."""
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_parts)).cast("long")


def _route_ids(spark: SparkSession, ids: np.ndarray, n_parts: int) -> np.ndarray:
    """``_part_expr`` over driver-held ids, with no Spark job: the
    optimizer folds the projection into the local relation, whose
    ``collect`` schedules no task."""
    if not len(ids):
        return np.empty(0, dtype=np.int64)
    rows = (
        spark.createDataFrame(pa.table({"doc_id": pa.array(ids, pa.int64())}))
        .select(_part_expr("doc_id", n_parts))
        .collect()
    )
    return np.array([r[0] for r in rows], dtype=np.int64)


def _index_to_rows(part: int, index: HnswIndex) -> pd.DataFrame:
    """Serialize a kernel to GRAPH_SCHEMA rows: one row per
    (node, level) plus one header row (level = −1) carrying the
    scalars and RNG state."""
    state = index.get_state()
    ords, node_ids, levels, neighbors, vectors = [], [], [], [], []
    ids = state["ids"]
    vecs = state["vecs"]
    for lv, links in enumerate(state["links"]):
        for o, nbrs in links.items():
            ords.append(o)
            node_ids.append(ids[o])
            levels.append(lv)
            neighbors.append(list(nbrs))
            vectors.append(list(map(float, vecs[o])) if lv == 0 else None)
    header = {
        "entry": state["entry"],
        "max_level": state["max_level"],
        "rng_state_json": state["rng_state_json"],
        "n": len(ids),
        # Alg. 4 flags ride the header so a reconstructed kernel keeps
        # the build's selection rule for continued inserts (r11)
        "heuristic": bool(state.get("heuristic", False)),
        "extend_candidates": bool(state.get("extend_candidates", False)),
        "keep_pruned_connections": bool(
            state.get("keep_pruned_connections", False)
        ),
    }
    body = pd.DataFrame(
        {
            "part": np.full(len(ords), part, dtype=np.int64),
            "ord": np.asarray(ords, dtype=np.int64),
            "node_id": np.asarray(node_ids, dtype=np.int64),
            "level": np.asarray(levels, dtype=np.int32),
            "neighbors": neighbors,
            "vector": vectors,
            "meta_json": None,
        }
    )
    hdr = pd.DataFrame(
        {
            "part": [part],
            "ord": [-1],
            "node_id": [-1],
            "level": [-1],
            "neighbors": [None],
            "vector": [None],
            "meta_json": [json.dumps(header)],
        }
    )
    return pd.concat([body, hdr], ignore_index=True)


def _index_from_rows(pdf: pd.DataFrame, m: int, ef_construction: int, dim: int) -> HnswIndex:
    """Rebuild a kernel from one partition's GRAPH_SCHEMA rows without
    re-inserting any vector. ``ord`` IS the internal insertion index
    (0..n−1 contiguous by construction), so heap tie-breaks — and
    therefore search results — are bit-identical to the pre-save
    index."""
    hdr = json.loads(pdf.loc[pdf["level"] < 0, "meta_json"].iloc[0])
    body = pdf[pdf["level"] >= 0]
    lvl0 = body[body["level"] == 0].sort_values("ord")
    n = int(hdr["n"])
    if len(lvl0) != n:
        raise ValueError(
            f"torn HNSW graph partition: header says {n} nodes, "
            f"found {len(lvl0)} level-0 rows"
        )
    vecs = np.array(list(lvl0["vector"]), dtype=np.float64).reshape(n, dim)
    ids = lvl0["node_id"].to_numpy(dtype=np.int64)
    links: list[dict[int, list[int]]] = [
        {} for _ in range(int(body["level"].max()) + 1)
    ]
    for lv, o, nbrs in zip(body["level"], body["ord"], body["neighbors"]):
        links[int(lv)][int(o)] = [int(x) for x in nbrs]
    return HnswIndex.from_state(
        {
            "dim": dim,
            "m": m,
            "ef_construction": ef_construction,
            "entry": int(hdr["entry"]),
            "max_level": int(hdr["max_level"]),
            "rng_state_json": hdr["rng_state_json"],
            "heuristic": bool(hdr.get("heuristic", False)),
            "extend_candidates": bool(hdr.get("extend_candidates", False)),
            "keep_pruned_connections": bool(
                hdr.get("keep_pruned_connections", False)
            ),
            "ids": ids,
            "vecs": vecs,
            "links": links,
        }
    )


def _kernel_params(meta: dict) -> dict[str, Any]:
    """``HnswIndex`` arguments of a fresh partition kernel. The
    heuristic flag rides meta: every maintenance op that builds a
    kernel (an upsert into an empty partition, a compaction's
    rebuild) must reproduce the build's selection rule or
    stored==fresh breaks."""
    return {
        "dim": meta["dim"],
        "m": meta["m"],
        "ef_construction": meta["ef_construction"],
        "seed": meta.get("seed", 42),
        "heuristic": bool(meta["heuristic"]),
    }


def extend_one(
    stored: pd.DataFrame | None, ids: np.ndarray, vecs: np.ndarray, kp: dict
) -> HnswIndex:
    """THE graph write of every placement: the kernel of one
    partition's ``stored`` graph rows, or a fresh kernel when there are
    none (a build, a compaction's rebuild, an upsert into an empty
    partition), with ``(ids, vecs)`` inserted. Insertion is id-ASC, so
    the graph is a pure function of (stored graph, vector set, params)
    and stored==fresh and the upsert's same-order twin are
    well-defined."""
    if stored is not None and len(stored):
        index = _index_from_rows(stored, kp["m"], kp["ef_construction"], kp["dim"])
    else:
        index = HnswIndex(**kp)
    order = np.argsort(ids, kind="stable")
    index.add_items(
        _normalize_rows(np.asarray(vecs, dtype=np.float64)[order]), ids[order]
    )
    return index


def _build_partition_udf(kp: dict):
    def build_one(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame(columns=[f.name for f in GRAPH_SCHEMA.fields])
        index = extend_one(
            None,
            pdf["doc_id"].to_numpy(dtype=np.int64),
            np.array(list(pdf["v"]), dtype=np.float64),
            kp,
        )
        return _index_to_rows(int(pdf["part"].iloc[0]), index)

    return build_one


def build_hnsw_index(
    corpus: DataFrame,
    path: str,
    dim: int,
    m: int = 16,
    ef_construction: int = 100,
    n_parts: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    heuristic: bool = False,
) -> dict[str, Any]:
    """Build and persist the partitioned HNSW graph (hnswlib
    ``save_index`` analogue, ``003-hnswlib_demo.py:234-243``). One
    corpus pass: route by the partition rule, build one graph per
    partition inside its task, write the serialized rows partitioned
    by ``part`` into a fresh ``graph_g<n>``, and commit it through
    meta with a fresh tombstone relation; the previous index's
    relations keep their one-commit grace (``gc_pending``)."""
    fp = _corpus_fingerprint(corpus, id_col)
    if fp["n"] == 0:
        raise ValueError(
            "refusing to persist an HNSW index over an EMPTY corpus — "
            "it would serve empty top-k forever under a committed meta"
        )
    # the full rebuild runs under the commit lock (review r10): its GC
    # sweep would otherwise delete the generation a concurrent upsert
    # is still writing. A maintenance op waiting on this lock re-reads
    # meta after acquisition and sees the rebuilt index.
    with mio.commit_lock(path):
        return _build_hnsw_locked(
            corpus, path, fp, dim, m, ef_construction, n_parts, seed,
            id_col, vec_col, heuristic,
        )


def _build_hnsw_locked(
    corpus, path, fp, dim, m, ef_construction, n_parts, seed, id_col,
    vec_col, heuristic=False,
) -> dict[str, Any]:
    c = corpus.select(
        F.col(id_col).alias("doc_id"), F.col(vec_col).alias("v")
    ).withColumn("part", _part_expr("doc_id", n_parts))
    kp = {
        "dim": dim, "m": m, "ef_construction": ef_construction, "seed": seed,
        "heuristic": bool(heuristic),
    }
    rows = c.groupBy("part").applyInPandas(_build_partition_udf(kp), GRAPH_SCHEMA)
    n = gen.fresh_gen(path, "graph_g", f"{gen.TOMBSTONES}_g")
    rows.write.partitionBy("part").parquet(os.path.join(path, f"graph_g{n}"))
    # per-partition node counts ride the meta (round-10): incremental
    # OPTIMIZE's dirty-shard decision then reads metadata + the
    # bounded tombstone set instead of scanning the whole graph — at
    # 100 TB the "which shards to compact" question must not cost a
    # full index pass. One narrow agg over the corpus the build is
    # already scanning; ≤ n_parts rows collected.
    part_counts = {
        str(r["part"]): r["count"]
        for r in c.groupBy("part").count().collect()
    }
    # fresh lifecycle: the previous index's generations and
    # tombstones stay readable for one commit, then GC reclaims them
    prev = gen.current(path, {"kind": "hnsw_vendored"})
    served = set() if prev is None else {
        prev["base_rel"],
        *prev["part_rels"].values(),
        prev.get("tomb_rel", gen.TOMBSTONES),
    }
    meta = {
        "kind": "hnsw_vendored",
        "dim": dim,
        "m": m,
        "ef_construction": ef_construction,
        "n_parts": n_parts,
        "seed": seed,
        # Alg. 4 selection flag: every later maintenance op (upsert
        # fresh-partition kernels, compaction rebuilds) must reproduce
        # the build's selection rule or stored==fresh breaks (r11)
        "heuristic": bool(heuristic),
        # per-partition relation map: upserts repoint a partition at a
        # fresh generation dir instead of rewriting the live one in
        # place (review r9 — dynamic overwrite deleted files under
        # in-flight readers)
        "base_rel": f"graph_g{n}",
        "part_rels": {},  # part -> rel; absent parts resolve to base_rel
        "tomb_rel": f"{gen.TOMBSTONES}_g{n}",
        "part_counts": part_counts,  # stored nodes per partition
        "corpus": fp,
    }
    return _commit(path, meta, [[rel, None] for rel in sorted(served)])


def ensure_hnsw_index(corpus: DataFrame, path: str, **params: Any) -> dict[str, Any]:
    """Reuse the stored graph when params AND the corpus fingerprint
    match; rebuild otherwise. The compare validates RESOLVED defaults,
    not just passed params (the r8 batch-6 ensure_* class).
    ``id_col``/``vec_col`` are deliberately NOT part of the identity —
    they are caller-side column NAMES, and including them would force
    a silent full rebuild whenever two callers alias the same data
    differently (the engine-wide convention, see
    ``ann_index.ensure_pq_index``); the corollary, as there, is
    that pointing ``vec_col`` at a DIFFERENT vector column over the
    same ids requires a distinct ``path``."""
    want = {
        "kind": "hnsw_vendored",
        "dim": params["dim"],
        "m": params.get("m", 16),
        "ef_construction": params.get("ef_construction", 100),
        "n_parts": params.get("n_parts", 4),
        "seed": params.get("seed", 42),
        "heuristic": bool(params.get("heuristic", False)),
        "corpus": _corpus_fingerprint(corpus, params.get("id_col", "vec_id")),
    }
    return gen.current(path, want) or build_hnsw_index(corpus, path, **params)


def _read_graph(spark: SparkSession, path: str, meta: dict) -> DataFrame:
    """Union the live graph rows across generation dirs, each
    partition read from the relation meta names for it (``base_rel``
    = the build or compaction generation; "graph_u<N>" = the upsert
    generation that last rewrote it)."""
    by_rel: dict[str, list[int]] = {}
    for p, rel in gen.part_map(path, meta).items():
        by_rel.setdefault(rel, []).append(p)
    out = None
    for rel, parts in sorted(by_rel.items()):
        g = (
            spark.read.parquet(os.path.join(path, rel))
            .withColumn("part", F.col("part").cast("long"))
            .filter(F.col("part").isin(parts))
        )
        out = g if out is None else out.unionByName(g)
    if out is None:
        raise FileNotFoundError(f"no graph relations at {path}")
    return out


# -- resident serving ------------------------------------------------------
#
# The selection bounds (_RESIDENT_MAX_QUERIES, _RESIDENT_MAX_BYTES) are
# shared with the exact GEMM's driver placement and documented in
# ``operators/topk.py``; they are bound here as module attributes so a
# test can force scatter-gather alone. A 57.7 MB index loads cold in
# 2.3 s, less than one 2.8 s scatter-gather request over it.

# estimated in-memory bytes of every cached kernel in the process: a
# loaded kernel takes about 2.6x its partition's on-disk bytes, so
# this holds three indexes at the byte budget
_CACHE_MAX_BYTES = 512 << 20
# per-element costs of a loaded kernel beyond its float64 vectors:
# one neighbor entry (list slot + int object) and one (node, level)
# adjacency entry (dict slot + list header); within 2 % of tracemalloc
# on a 2,000-node partition
_EDGE_BYTES = 36
_NODE_BYTES = 130


class _KernelCache:
    """Process-level LRU of loaded partition kernels, bounded by
    estimated bytes. Entries are keyed by (index path, partition) and
    hold the relation and the ``part=<p>`` directory stamp they were
    read from; a lookup with any other relation or stamp misses.
    Cached kernels are only ever queried with a per-call ``ef``, so
    concurrent requests can share one."""

    def __init__(self, max_bytes: int) -> None:
        self.max_bytes = max_bytes
        self.resident_bytes = 0
        self._entries: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def get(self, key, rel: str, stamp) -> HnswIndex | None:
        with self._lock:
            entry = self._entries.get(key)
            if entry is None or entry[:2] != (rel, stamp):
                return None
            self._entries.move_to_end(key)
            return entry[2]

    def put(self, key, rel: str, stamp, index: HnswIndex, nbytes: int) -> None:
        with self._lock:
            old = self._entries.pop(key, None)
            if old is not None:
                self.resident_bytes -= old[3]
            self._entries[key] = (rel, stamp, index, nbytes)
            self.resident_bytes += nbytes
            while self.resident_bytes > self.max_bytes:
                _, evicted = self._entries.popitem(last=False)
                self.resident_bytes -= evicted[3]


_KERNELS = _KernelCache(_CACHE_MAX_BYTES)


def _stamps(path: str, parts: dict[int, str]) -> dict[int, tuple]:
    """Each live partition's ``part=<p>`` directory stamp."""
    return {p: mio.list_files(mio.join(path, rel, f"part={p}")) for p, rel in parts.items()}


def _stamped_bytes(stamps: dict[int, tuple]) -> int:
    return sum(f[1] for st in stamps.values() for f in st)


def _read_part(path: str, p: int, rel: str, stamp, columns=_GRAPH_COLS) -> pd.DataFrame:
    """Partition ``p``'s graph rows, read on the driver from exactly
    the files ``stamp`` lists."""
    pdir = mio.join(path, rel, f"part={p}")
    files = [mio.join(pdir, n) for n, _, _ in stamp if not n.startswith((".", "_"))]
    if not files:
        # removed since meta was read: answering without the
        # partition would silently drop its rows
        raise FileNotFoundError(f"no graph files under {pdir}")
    return mio.read_parquet_frame(files, columns=columns)


def _kernel_nbytes(index: HnswIndex, rows: pd.DataFrame, dim: int) -> int:
    """The cache's size estimate of a kernel and its graph rows."""
    edges = int(rows["neighbors"].map(lambda x: 0 if x is None else len(x)).sum())
    return len(index) * dim * 8 + edges * _EDGE_BYTES + len(rows) * _NODE_BYTES


def _resident_kernel(
    path: str, p: int, rel: str, stamp, m: int, efc: int, dim: int
) -> HnswIndex:
    """Partition ``p``'s kernel, from the cache or read on the driver
    from exactly the files ``stamp`` lists."""
    index = _KERNELS.get((path, p), rel, stamp)
    if index is not None:
        return index
    pdf = _read_part(path, p, rel, stamp)
    index = _index_from_rows(pdf, m, efc, dim)
    _KERNELS.put((path, p), rel, stamp, index, _kernel_nbytes(index, pdf, dim))
    return index


def _result_frame(
    index: HnswIndex,
    qids: np.ndarray,
    qmat: np.ndarray,
    k: int,
    n_deleted: int,
    ef_search: int,
    allow: np.ndarray | None = None,
) -> pd.DataFrame:
    """One partition's partial top-k as (query_id, doc_id, score) rows,
    for both search paths. hnswlib mark_deleted semantics: tombstoned
    nodes stay in the graph (they still ROUTE the beam) and are
    filtered from results afterwards, so each partition over-fetches
    by the global tombstone count and a masked neighbor can't starve
    the local top-k. The beam is passed per call, never set on the
    index, so a shared resident kernel stays read-only."""
    kk = min(k + n_deleted, len(index))
    labels, dists = index.knn_query(qmat, k=kk, allow=allow, ef=max(ef_search, kk))
    rows = np.repeat(np.arange(len(qids)), labels.shape[1])
    out = pd.DataFrame(
        {
            "query_id": qids[rows],
            "doc_id": labels.ravel(),
            "score": 1.0 - dists.ravel(),
        }
    )
    # non-finite distances are fewer-than-k-reachable pads
    return out[np.isfinite(dists).ravel()]


def _resident_topk(
    spark: SparkSession,
    path: str,
    meta: dict,
    parts: dict[int, str],
    stamps: dict[int, tuple],
    qids: np.ndarray,
    qmat: np.ndarray,
    k: int,
    ef_search: int,
    round_to: int | None,
) -> DataFrame:
    """The scatter-gather answer computed on the driver from resident
    kernels: same over-fetch, tombstone mask and (score DESC,
    doc_id ASC) rank, as a local frame whose collect runs no job."""
    m, efc, dim = meta["m"], meta["ef_construction"], meta["dim"]
    n_deleted = int(meta.get("n_deleted", 0))
    allp = pd.concat(
        [
            _result_frame(
                _resident_kernel(path, p, rel, stamps[p], m, efc, dim),
                qids, qmat, k, n_deleted, ef_search,
            )
            for p, rel in parts.items()
        ],
        ignore_index=True,
    )
    # read on every request, not cached: the tombstone append is a
    # delete's commit and lands after its meta write
    dead = gen.tombstone_ids(path, meta)
    if dead:
        allp = allp[~allp["doc_id"].isin(list(dead))]
    return _local_topk(
        spark,
        allp["query_id"].to_numpy(np.int64),
        allp["doc_id"].to_numpy(np.int64),
        allp["score"].to_numpy(np.float64),
        k,
        round_to,
    )


def ann_hnsw_topk_indexed(
    spark: SparkSession,
    queries: DataFrame,
    path: str,
    k: int = 10,
    ef_search: int = 64,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    round_to: int | None = 6,
    filter_df: DataFrame | None = None,
    filter_id_col: str = "vec_id",
    query_filter_col: str | None = None,
    corpus_filter_df: DataFrame | None = None,
) -> DataFrame:
    """Search the stored graph without rebuilding (hnswlib
    ``load_index`` analogue, ``003:245-257``). Output contract matches
    ``exact_cosine_topk``; the path is chosen from the input alone,
    after the query batch is collected:

    - resident, when no filter is passed, the batch has at most
      ``_RESIDENT_MAX_QUERIES`` queries and the live partitions hold
      at most ``_RESIDENT_MAX_BYTES`` on disk: each partition's kernel
      comes from the process-level cache, or is read once through
      pyarrow, and is searched on the driver. A cached kernel is
      reused only while meta names the same relation for its partition
      and the ``part=<p>`` directory keeps the same file names, sizes
      and mtimes — meta alone misses a full rebuild in place. The
      tombstones are read on every request, since a delete's append
      lands after its meta write. The merged rows come back as a local
      frame whose score rounding is Spark's own ``round``; it plans as
      one ``LocalTableScan`` and its collect runs no job;
    - scatter-gather otherwise: per stored partition, reconstruct the
      kernel from its own rows inside one task, answer the broadcast
      query batch with the ef beam, merge partition-local top-k
      through one global (score DESC, doc_id ASC) window.

    Both over-fetch ``k + n_deleted`` per partition, mask tombstones
    and rank alike, so they return the same rows.

    ``filter_df`` (r10 verdict #7) enables FILTER-DURING-SEARCH: its
    ``filter_id_col`` values are the allowed doc ids; disallowed nodes
    still route the beam but never enter results (hnswlib
    filter-function semantics), so a selective predicate keeps its
    recall instead of paying the post-filter loss. The allowed set
    joins each partition's pruned scan broadcast-side — right for the
    selective predicates filtered search exists for; a broad predicate
    at 100 TB belongs in metadata columns co-partitioned with the
    graph (and is cheaper as post-filtering anyway, since it barely
    cuts the candidate pool).

    ``query_filter_col`` + ``corpus_filter_df`` (r12, the facade's
    per-query-EQUALITY contract pushed down): each query ranks only
    corpus rows whose ``corpus_filter_df`` value equals the query's
    ``query_filter_col`` value — ONE grouped pass instead of one
    search per distinct value. The (id, value) mapping broadcasts
    with the partition scan exactly like ``filter_df``; inside each
    task the kernel is reconstructed ONCE and the per-value boolean
    masks are cut from the attached value column, so the cost is
    V-independent: one graph scan, one broadcast, one reconstruct per
    partition regardless of how many distinct values the batch
    carries. NULL-valued queries match nothing (SQL equality).
    Mutually exclusive with ``filter_df``."""
    meta = gen.read_meta(path, "hnsw_vendored", "vendored-HNSW")
    if filter_df is not None and query_filter_col is not None:
        raise ValueError(
            "filter_df (global allow-list) and query_filter_col (per-query "
            "equality) are mutually exclusive"
        )
    if (query_filter_col is None) != (corpus_filter_df is None):
        raise ValueError(
            "query_filter_col and corpus_filter_df must be passed together"
        )
    m, efc, dim = meta["m"], meta["ef_construction"], meta["dim"]
    allowed = (
        None
        if filter_df is None
        else filter_df.select(
            F.col(filter_id_col).cast("long").alias("__fid")
        )
        .distinct()
        # materialize ONCE before fanning out: each partition branch
        # broadcast-joins this set, and without pinning it the plan
        # re-runs the predicate scan + distinct per branch (measured:
        # n_parts BroadcastExchanges, zero reuse — at 1000 shards
        # that's 1000 duplicate subtree executions). localCheckpoint
        # keeps the set executor-side (no driver collect).
        .localCheckpoint(eager=True)
    )
    fvalues = (
        None
        if corpus_filter_df is None
        else corpus_filter_df.select(
            F.col(filter_id_col).cast("long").alias("__fid"),
            F.col(query_filter_col).alias("__fval"),
        )
        # dedupe like `allowed`: a duplicated (id, value) row would
        # duplicate the joined graph rows and MISALIGN the task-side
        # ord→mask index space (silent wrong results, not an error).
        # An id mapped to two DIFFERENT values remains the caller's
        # contract violation — corpus ids are unique engine-wide.
        .dropDuplicates(["__fid", "__fval"])
        # same pin rationale as `allowed` above
        .localCheckpoint(eager=True)
    )

    qcols = [F.col(query_id).alias("qid"), F.col(query_vec).alias("v")]
    if query_filter_col is not None:
        qcols.append(F.col(query_filter_col).alias("fv"))
    qrows = queries.select(*qcols).collect()
    if not qrows:
        raise ValueError("empty query set")
    qids_l = np.array([r["qid"] for r in qrows], dtype=np.int64)
    qmat_l = _normalize_rows(np.array([r["v"] for r in qrows], dtype=np.float64))
    parts = gen.part_map(path, meta)
    if not parts:
        raise FileNotFoundError(f"no graph relations at {path}")
    if (
        filter_df is None
        and query_filter_col is None
        and len(qrows) <= _RESIDENT_MAX_QUERIES
    ):
        stamps = _stamps(path, parts)
        if _stamped_bytes(stamps) <= _RESIDENT_MAX_BYTES:
            return _resident_topk(
                spark, path, meta, parts, stamps, qids_l, qmat_l, k,
                ef_search, round_to,
            )
    qvals_l = (
        np.array([r["fv"] for r in qrows], dtype=object)
        if query_filter_col is not None
        else None
    )
    bc = spark.sparkContext.broadcast((qids_l, qmat_l, qvals_l))
    n_deleted = int(meta.get("n_deleted", 0))

    def search_one(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(columns=["query_id", "doc_id", "score"])
        if pdf.empty:
            return empty
        allow = None
        node_vals = None
        if "__allowed" in pdf.columns:
            # internal idx == ord (contiguous by construction), so the
            # level-0 rows in ord order ARE the mask's index space
            lvl0 = pdf[pdf["level"] == 0].sort_values("ord")
            allow = (
                lvl0["__allowed"].fillna(False).to_numpy(dtype=bool)
            )
            if not allow.any():
                return empty
        elif "__fval" in pdf.columns:
            lvl0 = pdf[pdf["level"] == 0].sort_values("ord")
            node_vals = lvl0["__fval"].to_numpy(dtype=object)
        index = _index_from_rows(pdf, m, efc, dim)
        qids, qmat, qvals = bc.value
        if node_vals is None:
            return _result_frame(
                index, qids, qmat, k, n_deleted, ef_search, allow
            )
        # grouped per-query-equality pass: the kernel above was
        # reconstructed ONCE; each distinct query value only cuts a
        # boolean mask from the attached node values (None/NaN node
        # values — ids absent from corpus_filter_df — equal nothing)
        parts = []
        for v in pd.unique(qvals):
            if v is None or (isinstance(v, float) and np.isnan(v)):
                continue  # NULL-valued queries match nothing
            sel = np.array([qv == v for qv in qvals], dtype=bool)
            mask = np.array([nv == v for nv in node_vals], dtype=bool)
            if not mask.any():
                continue  # this partition holds no rows for the value
            parts.append(
                _result_frame(
                    index, qids[sel], qmat[sel], k, n_deleted, ef_search, mask
                )
            )
        return pd.concat(parts, ignore_index=True) if parts else empty

    # NO shuffle of graph rows: the graph is already partitioned by
    # ``part`` at rest, but a groupBy("part") would hash-exchange the
    # ENTIRE index per query batch (caught by the shuffled_payloads
    # plan audit — at 100 TB that exchange IS the query cost). Each
    # partition instead gets its own pruned scan coalesced into one
    # task, whose mapInPandas concatenates its Arrow batches and
    # searches; the per-part branches union. Only Q×k partial rows
    # ever reach an exchange (the global merge window).
    def search_whole_partition(batches):
        pdf = pd.concat(list(batches), ignore_index=True)
        if not pdf.empty:
            yield search_one(pdf)

    partials = None
    for p, rel in parts.items():
        src = spark.read.parquet(os.path.join(path, rel)).filter(
            # no cast on the partition column — it would block the
            # PartitionFilters prune that makes this scan one dir
            F.col("part") == p
        )
        if allowed is not None:
            # left broadcast join: graph rows stay put (no exchange of
            # index payload); only the small allowed-id set ships
            src = src.join(
                F.broadcast(allowed),
                F.col("node_id") == F.col("__fid"),
                "left",
            ).withColumn(
                "__allowed", F.col("__fid").isNotNull()
            ).drop("__fid")
        elif fvalues is not None:
            # same shape for the grouped-equality mode: attach each
            # node's filter VALUE instead of a boolean; ids absent
            # from the mapping surface NULL (match nothing)
            src = src.join(
                F.broadcast(fvalues),
                F.col("node_id") == F.col("__fid"),
                "left",
            ).drop("__fid")
        branch = src.coalesce(1).mapInPandas(
            search_whole_partition, _PARTIAL_SCHEMA
        )
        partials = branch if partials is None else partials.unionByName(branch)
    partials = gen.drop_deleted(spark, partials, path, meta)
    return rank_topk(partials, k, round_to)


# -- writes ----------------------------------------------------------------
#
# A write into an index whose live partitions hold at most
# _RESIDENT_MAX_BYTES is applied on the driver when it inserts at most
# these many vectors; larger writes take the executor plan. The driver
# inserts serially where the executors work on the touched partitions
# in parallel, one task each (the sweep is in the module docstring).
# An upsert won on the driver at every measured delta size up to 8,000,
# the largest measured, so its bound is that size; it also bounds the
# delta the driver collects. A compaction's rebuild crossed between
# 3,500 and 4,000 live vectors at 2 task slots over 4 partitions; more
# slots would lower that crossover.
_DRIVER_UPSERT_MAX_VECTORS = 8000
_DRIVER_REBUILD_MAX_VECTORS = 3500


def upsert_hnsw_index(
    spark: SparkSession,
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict[str, Any]:
    """hnswlib ``add_items`` on the loaded index (``003:249-251``):
    route the delta by the stored partition rule, reconstruct ONLY the
    receiving partitions' kernels, run O(delta) graph inserts
    continuing each partition's stored RNG stream, and write the
    extended partitions into a FRESH generation dir that meta's
    ``part_rels`` repoints at (review r9 — the first cut removed the
    marker before a dynamic partition overwrite, so a crash — or even
    a delta routing to a previously EMPTY partition — destroyed a
    valid index). Runs under the commit lock: two concurrent
    upserts are read-modify-write on part_rels/fingerprint and the
    loser's rows would silently vanish otherwise. A delta routing to
    a partition with no stored graph builds a fresh kernel for it —
    exactly what a full rebuild over base ∪ delta would hold there.

    A delta of at most ``_DRIVER_UPSERT_MAX_VECTORS`` rows into an
    index whose live partitions hold at most ``_RESIDENT_MAX_BYTES``
    is applied on the driver: one ``toArrow`` job collects the routed
    delta, only the touched partitions are read, and the pre-checks,
    ``extend_one`` and the pyarrow write run there. Larger writes run
    the same ``extend_one`` in one task per touched partition. Both
    write the same graph rows and meta."""
    with mio.commit_lock(path):
        return _upsert_hnsw_locked(spark, new_vectors, path, id_col, vec_col)


def _upsert_hnsw_locked(
    spark: SparkSession,
    new_vectors: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
) -> dict[str, Any]:
    meta = gen.read_meta(path, "hnsw_vendored", "vendored-HNSW")
    kp = _kernel_params(meta)
    stored = gen.part_map(path, meta)
    delta = new_vectors.select(
        F.col(id_col).alias("doc_id"), F.col(vec_col).alias("v")
    ).withColumn("part", _part_expr("doc_id", meta["n_parts"]))
    stamps = _stamps(path, stored)
    if _stamped_bytes(stamps) <= _RESIDENT_MAX_BYTES:
        # one job: the routed delta, or one row past the bound, which
        # sends the upsert to the executors
        t = delta.limit(_DRIVER_UPSERT_MAX_VECTORS + 1).toArrow()
        if t.num_rows <= _DRIVER_UPSERT_MAX_VECTORS:
            return _upsert_on_driver(path, meta, kp, stored, stamps, t)

    stored_ids = _read_graph(spark, path, meta).filter(F.col("level") == 0).select(
        F.col("node_id").alias(id_col)
    )
    dead = gen.tombstones(spark, path, meta, as_col=id_col)
    if dead is not None:
        # a re-added deleted id would stay permanently masked by the
        # surviving tombstone while the merged fingerprint counted it
        # (the sign-tier contract)
        stored_ids = stored_ids.unionByName(dead)
    _assert_disjoint_delta(stored_ids, delta.select("doc_id"), path)
    # duplicates WITHIN the delta would insert two graph nodes with
    # the same external id and serve the same doc twice in a top-k
    # (review r9); the delta is small by contract — one cheap agg
    dup = delta.groupBy("doc_id").count().filter(F.col("count") > 1).limit(1)
    if dup.count():
        _refuse_duplicates(path)

    # per-part delta sizes (≤ n_parts rows): names the touched
    # partitions AND maintains meta's part_counts in the same bounded
    # collect the old distinct() spent on names alone
    delta_counts = {
        int(r["part"]): r["count"]
        for r in delta.groupBy("part").count().collect()
    }
    touched = sorted(delta_counts)
    if not touched:
        return meta

    def extend_rows(pdf: pd.DataFrame) -> pd.DataFrame:
        is_delta = pdf["level"] == -2
        dp = pdf[is_delta]
        index = extend_one(
            pdf[~is_delta],
            dp["node_id"].to_numpy(dtype=np.int64),
            np.array(list(dp["__delta_v"]), dtype=np.float64),
            kp,
        )
        return _index_to_rows(int(pdf["part"].iloc[0]), index)

    def extend_whole_partition(batches):
        pdf = pd.concat(list(batches), ignore_index=True)
        if not pdf.empty:
            yield extend_rows(pdf)

    # same no-graph-shuffle shape as the search path: per touched
    # partition, one pruned graph scan unioned with that partition's
    # delta rows, coalesced into a single task — graph rows never
    # cross an exchange during maintenance either (the groupBy form
    # hash-exchanged every touched partition's whole graph)
    out = None
    for p in touched:
        d_rows = delta.filter(F.col("part") == p).select(
            F.col("part").cast("long").alias("part"),
            F.lit(-2).cast("long").alias("ord"),
            F.col("doc_id").alias("node_id"),
            F.lit(-2).cast("int").alias("level"),
            F.lit(None).cast(ArrayType(LongType())).alias("neighbors"),
            F.lit(None).cast(ArrayType(DoubleType())).alias("vector"),
            F.lit(None).cast(StringType()).alias("meta_json"),
            F.col("v").alias("__delta_v"),
        )
        branch = d_rows
        if p in stored:
            g_rows = (
                spark.read.parquet(os.path.join(path, stored[p]))
                .filter(F.col("part") == p)  # PartitionFilters prune
                .select(
                    F.col("part").cast("long").alias("part"),
                    "ord",
                    "node_id",
                    "level",
                    "neighbors",
                    "vector",
                    "meta_json",
                )
                .withColumn(
                    "__delta_v", F.lit(None).cast(ArrayType(DoubleType()))
                )
            )
            branch = g_rows.unionByName(d_rows)
        branch = branch.coalesce(1).mapInPandas(
            extend_whole_partition, GRAPH_SCHEMA
        )
        out = branch if out is None else out.unionByName(branch)
    rel = f"graph_u{gen.fresh_gen(path, 'graph_u')}"
    out.write.mode("overwrite").partitionBy("part").parquet(
        os.path.join(path, rel)
    )
    fp = _corpus_fingerprint(new_vectors, id_col)
    return _commit_upsert(path, meta, stored, rel, delta_counts, fp)


def _refuse_duplicates(path: str) -> None:
    raise ValueError(
        f"upsert delta for {path} contains duplicate ids — "
        "deduplicate the delta before adding"
    )


def _commit_upsert(
    path: str,
    meta: dict,
    stored: dict[int, str],
    rel: str,
    delta_counts: dict[int, int],
    fp: dict,
) -> dict[str, Any]:
    """Repoint the touched partitions at ``rel``, count their new
    nodes and merge the delta's fingerprint, then commit."""
    touched = sorted(delta_counts)
    part_rels = dict(meta["part_rels"])
    for p in touched:
        part_rels[str(p)] = rel
    meta["part_rels"] = part_rels
    counts = meta["part_counts"]
    for p, n in delta_counts.items():
        counts[str(p)] = counts.get(str(p), 0) + n
    meta["corpus"] = _merge_fingerprint(meta.get("corpus"), fp)
    return _commit(path, meta, [[stored[p], p] for p in touched if p in stored])


def _delta_arrays(t: pa.Table, dim: int, path: str):
    """(ids, parts, float64 vectors) of a collected delta, after the
    checks the executor placement leaves to its tasks: no NULL id, no
    NULL, ragged or wrong-width vector."""
    ids = t.column("doc_id")
    if ids.null_count:
        raise ValueError(f"upsert delta for {path} contains NULL ids")
    v = t.column("v").combine_chunks()
    flat = v.flatten()
    bad = v.is_null().to_numpy(zero_copy_only=False) | (
        np.diff(v.offsets.to_numpy()) != dim
    )
    if bad.any() or flat.null_count:
        raise ValueError(
            f"upsert delta for {path} has NULL, ragged or non-{dim}-dim "
            f"vectors ({int(bad.sum())} rows, {flat.null_count} NULL elements)"
        )
    vecs = flat.to_numpy(zero_copy_only=False).astype(np.float64).reshape(len(v), dim)
    return (
        ids.to_numpy().astype(np.int64),
        t.column("part").to_numpy().astype(np.int64),
        vecs,
    )


def _write_part(path: str, rel: str, p: int, index: HnswIndex, dim: int):
    """Write one extended or rebuilt partition kernel as
    ``<rel>/part=<p>/`` with pyarrow; returns (kernel, its cache size
    estimate) for ``_cache_kernels``."""
    rows = _index_to_rows(p, index)
    mio.write_parquet(
        mio.join(path, rel, f"part={p}"),
        pa.Table.from_pandas(
            rows[_GRAPH_COLS], schema=_GRAPH_FILE_SCHEMA, preserve_index=False
        ),
    )
    return index, _kernel_nbytes(index, rows, dim)


def _cache_kernels(path: str, rel: str, kernels: dict[int, tuple]) -> None:
    """After a driver write's commit: serve its new kernels from the
    cache under the relation and stamp the next read resolves, so that
    read loads nothing. A write built them from fresh reads, so no
    kernel a reader holds was ever mutated."""
    for p, (index, nbytes) in kernels.items():
        stamp = mio.list_files(mio.join(path, rel, f"part={p}"))
        _KERNELS.put((path, p), rel, stamp, index, nbytes)


def _upsert_on_driver(
    path: str,
    meta: dict,
    kp: dict,
    stored: dict[int, str],
    stamps: dict[int, tuple],
    t: pa.Table,
) -> dict[str, Any]:
    """The executor upsert's commit computed on the driver from the
    collected delta ``t``: only the touched partitions are read, every
    pre-check runs in NumPy, ``extend_one`` extends each touched
    kernel, and the extended partitions are written with pyarrow."""
    ids, parts, vecs = _delta_arrays(t, kp["dim"], path)
    if not len(ids):
        return meta
    touched = sorted(set(parts.tolist()))
    rows = {p: _read_part(path, p, stored[p], stamps[p]) for p in touched if p in stored}
    # a delta id can only collide with a stored node in its own
    # partition (one routing rule), and with any tombstone
    held = [g.loc[g["level"] == 0, "node_id"].to_numpy(np.int64) for g in rows.values()]
    held.append(np.fromiter(gen.tombstone_ids(path, meta), dtype=np.int64))
    _refuse_overlap(int(np.isin(np.concatenate(held), ids).sum()), path)
    if len(np.unique(ids)) != len(ids):
        _refuse_duplicates(path)

    rel = f"graph_u{gen.fresh_gen(path, 'graph_u')}"
    kernels = {}
    for p in touched:
        sel = parts == p
        index = extend_one(rows.get(p), ids[sel], vecs[sel], kp)
        kernels[p] = _write_part(path, rel, p, index, kp["dim"])
    delta_counts = {p: int((parts == p).sum()) for p in touched}
    fp = {"n": len(ids), "lo": int(ids.min()), "hi": int(ids.max())}
    out = _commit_upsert(path, meta, stored, rel, delta_counts, fp)
    _cache_kernels(path, rel, kernels)
    return out


def delete_from_hnsw_index(
    spark: SparkSession, path: str, ids: list[int]
) -> dict[str, Any]:
    """hnswlib ``mark_deleted`` on the graph tier: tombstone doc ids
    WITHOUT touching the graph — deleted nodes keep ROUTING the beam
    (their out-edges still navigate) but are filtered from results,
    which is exactly hnswlib's semantics. O(deleted) bytes written;
    ``compact_hnsw_index`` removes them physically. Idempotent per
    id; runs under the commit lock (a delete landing inside a
    concurrent compaction's window would be silently dropped)."""
    with mio.commit_lock(path):
        meta = gen.read_meta(path, "hnsw_vendored", "vendored-HNSW")
        return gen.delete(spark, path, meta, ids, indent=2)


def compact_hnsw_index(
    spark: SparkSession,
    path: str,
    min_dead_fraction: float | None = None,
) -> dict[str, Any]:
    """OPTIMIZE for the graph tier: fold upsert generations and apply
    tombstones by REBUILDING a partition's kernel from its live
    level-0 vectors (graph deletion is structural — unlike the
    sign/lexical tiers a row filter can't express it, so compaction
    here pays the per-partition graph build, exactly what hnswlib
    users do when deleted mass grows). A rebuilt partition inserts
    id-ASC with a fresh seeded RNG, so it is BIT-IDENTICAL to
    ``build_hnsw_index`` over its live rows (pinned in tests). One
    generation commit; no-op when there is nothing to fold.

    ``min_dead_fraction=None`` (default) is the full OPTIMIZE: every
    partition rebuilds to canonical form (``base_rel`` repointed,
    ``part_rels`` cleared, all tombstones physically gone) — the
    compacted index equals a fresh build over the live corpus.

    ``min_dead_fraction=x`` is INCREMENTAL OPTIMIZE (round-10): only
    partitions whose tombstoned fraction exceeds ``x`` rebuild —
    O(dirty partitions), not O(index). Clean partitions' generation
    dirs are untouched (byte-for-byte, pinned in tests); tombstones
    routed to uncompacted partitions SURVIVE into a fresh versioned
    tombstone relation (``tomb_rel``) swapped by the same meta commit,
    so they keep masking until their partition's turn. At 100 TB this
    is the difference between rewriting the whole index and rewriting
    the churned shards — the same dirty-partition economics as delta
    compaction in table formats.

    An incremental compaction reads the tombstones on the driver and
    routes them by ``_part_expr`` over a local relation (``_route_ids``,
    no job). When the dirty partitions hold at most
    ``_DRIVER_REBUILD_MAX_VECTORS`` stored rows (meta's
    ``part_counts``) and the live partitions at most
    ``_RESIDENT_MAX_BYTES``, they are rebuilt on the driver with no
    Spark job; otherwise in one ``build_one`` task each."""
    with mio.commit_lock(path):
        return _compact_hnsw_locked(spark, path, min_dead_fraction)


def _compact_hnsw_locked(
    spark: SparkSession, path: str, min_dead_fraction: float | None
) -> dict[str, Any]:
    meta = gen.read_meta(path, "hnsw_vendored", "vendored-HNSW")
    has_tomb = gen.has_tombstones(path, meta)
    if min_dead_fraction is None:
        if not (meta.get("part_rels") or has_tomb):
            return meta  # single clean generation already
    elif not has_tomb:
        return meta  # incremental mode folds only dead mass
    kp = _kernel_params(meta)
    n_parts = int(meta["n_parts"])
    stored = gen.part_map(path, meta)
    pc = meta["part_counts"]
    sizes = dead = None
    if min_dead_fraction is None:
        dirty = list(range(n_parts))
        n_removed = meta.get("n_deleted", 0)
        remaining: list[int] = []
    else:
        # the tombstone set is bounded by the mark_deleted contract
        # and read on the driver, as search reads it; it routes by
        # THE partition rule
        dead = np.array(sorted(gen.tombstone_ids(path, meta)), dtype=np.int64)
        dead_part = _route_ids(spark, dead, n_parts)
        # dirty-shard decision from METADATA (round-10): the
        # per-partition node counts ride meta, so "which shards to
        # compact" costs zero graph I/O — at 100 TB a full index pass
        # just to find dirty shards IS the cost incremental OPTIMIZE
        # exists to avoid
        sizes = {int(k): int(v) for k, v in pc.items()}
        dirty = sorted(
            p
            for p, n_dead in Counter(dead_part.tolist()).items()
            if sizes.get(p) and n_dead / sizes[p] > min_dead_fraction
        )
        if not dirty:
            return meta  # no shard over the threshold
        remaining = dead[~np.isin(dead_part, dirty)].tolist()
        n_removed = len(dead) - len(remaining)

    rel = f"graph_c{gen.fresh_gen(path, 'graph_c')}"
    stamps = _stamps(path, stored)
    if (
        sum(int(pc.get(str(p), 0)) for p in dirty) <= _DRIVER_REBUILD_MAX_VECTORS
        and _stamped_bytes(stamps) <= _RESIDENT_MAX_BYTES
    ):
        if dead is None:
            dead = np.fromiter(gen.tombstone_ids(path, meta), dtype=np.int64)
        live_counts, kernels = _rebuild_on_driver(
            path, kp, stored, stamps, rel, dirty, dead, sizes
        )
    else:
        live_counts, kernels = _rebuild_on_executors(
            spark, path, meta, kp, rel, dirty, sizes
        ), {}

    superseded = [[stored[p], p] for p in dirty if p in stored]
    old_tomb = meta.get("tomb_rel", gen.TOMBSTONES)
    if has_tomb:
        # the superseded tombstone relation ALWAYS enters
        # gc_pending; with survivors it gets the one-commit reader
        # grace, with none this commit reclaims it already —
        # leaving a fully-folded dir named "tombstones" on disk
        # while meta drops tomb_rel would make the DEFAULT relation
        # name resolve back to the stale dir (a re-added id would
        # be rejected as a duplicate by the upsert disjointness
        # check)
        superseded.append([old_tomb, None])
    if n_removed:
        meta["n_compacted_away"] = meta.get("n_compacted_away", 0) + n_removed
    if min_dead_fraction is None:
        meta.pop("n_deleted", None)
        meta["base_rel"] = rel
        meta["part_rels"] = {}
        meta.pop("tomb_rel", None)
        # canonical rebuild: the live counts ARE the new census
        meta["part_counts"] = {str(p): n for p, n in sorted(live_counts.items())}
    else:
        part_rels = dict(meta["part_rels"])
        for p in dirty:
            part_rels[str(p)] = rel
        meta["part_rels"] = part_rels
        for p in dirty:
            # a fully-tombstoned shard rebuilds to zero rows;
            # recording 0 keeps future dirty decisions honest
            pc[str(p)] = live_counts.get(p, 0)
        if remaining:
            # survivors move to a FRESH versioned relation; the
            # meta commit swaps it in atomically (a crash before
            # the commit leaves the old relation fully live)
            pending = [rel for rel, _part in meta["gc_pending"]]
            new_tomb = "tombstones_g%d" % gen.fresh_gen(
                path, "tombstones_g", taken=pending
            )
            gen.write_ids(mio.join(path, new_tomb), np.array(remaining, dtype=np.int64))
            meta["tomb_rel"] = new_tomb
            meta["n_deleted"] = len(remaining)
        else:
            meta.pop("n_deleted", None)
            meta.pop("tomb_rel", None)
    # fingerprint: recompute over live ids is WRONG here for the
    # same reason as the sign tier (lineage identity — ensure
    # callers pass the ORIGINAL corpus); it stays as committed.
    # When every mask is physically folded away the tombstone dir
    # goes with this commit (the lifecycle's "cleared" contract,
    # and the default-relation-name hazard above).
    folded = has_tomb and (min_dead_fraction is None or not remaining)
    out = _commit(path, meta, superseded, drop=[old_tomb] if folded else ())
    _cache_kernels(path, rel, kernels)
    return out


def _refuse_empty(
    path: str, live_counts: dict[int, int], dirty: list[int], sizes: dict | None
) -> None:
    """A compaction must leave rows somewhere: a full one any live
    row, an incremental one (``sizes`` given) any row in a shard it
    leaves alone (their tombstones only mask them)."""
    if sum(live_counts.values()) == 0 and (
        sizes is None or all(p in dirty for p, n in sizes.items() if n)
    ):
        raise ValueError(
            f"compaction would leave the HNSW index at {path} EMPTY "
            "(every row tombstoned) — rebuild over a fresh corpus instead"
        )


def _rebuild_on_driver(
    path: str,
    kp: dict,
    stored: dict[int, str],
    stamps: dict[int, tuple],
    rel: str,
    dirty: list[int],
    dead: np.ndarray,
    sizes: dict | None,
) -> tuple[dict[int, int], dict[int, tuple]]:
    """Rebuild the dirty partitions from their live level-0 rows on
    the driver with ``extend_one`` and write them with pyarrow; no
    Spark job. Returns (live counts, new kernels)."""
    live = {}
    for p in dirty:
        if p in stored:
            g = _read_part(path, p, stored[p], stamps[p], ["node_id", "level", "vector"])
            g = g[(g["level"] == 0) & ~g["node_id"].isin(dead)]
            if len(g):
                live[p] = g
    live_counts = {p: len(g) for p, g in live.items()}
    _refuse_empty(path, live_counts, dirty, sizes)
    mio.makedirs(mio.join(path, rel))
    kernels = {}
    for p, g in live.items():
        index = extend_one(
            None,
            g["node_id"].to_numpy(dtype=np.int64),
            np.array(list(g["vector"]), dtype=np.float64),
            kp,
        )
        kernels[p] = _write_part(path, rel, p, index, kp["dim"])
    return live_counts, kernels


def _rebuild_on_executors(
    spark: SparkSession,
    path: str,
    meta: dict,
    kp: dict,
    rel: str,
    dirty: list[int],
    sizes: dict | None,
) -> dict[int, int]:
    """Rebuild the dirty partitions from their live level-0 rows, one
    ``build_one`` task per partition. Returns the live counts."""
    live = (
        _read_graph(spark, path, meta)
        .filter((F.col("level") == 0) & F.col("part").isin(dirty))
        .select("part", F.col("node_id").alias("doc_id"), F.col("vector").alias("v"))
    )
    live = gen.drop_deleted(spark, live, path, meta)
    # one bounded collect (≤ n_parts rows): the emptiness guard's
    # total AND the rebuilt partitions' node counts for meta
    live_counts = {
        int(r["part"]): int(r["count"])
        for r in live.groupBy("part").count().collect()
    }
    _refuse_empty(path, live_counts, dirty, sizes)
    # stored vectors are already normalized; build_one re-normalizes,
    # which is idempotent on unit vectors — the rebuilt partition is
    # bit-identical to a fresh build over the live rows
    live.groupBy("part").applyInPandas(
        _build_partition_udf(kp), GRAPH_SCHEMA
    ).write.mode("overwrite").partitionBy("part").parquet(os.path.join(path, rel))
    return live_counts
