"""The HNSW writes' two placements (operators/hnsw_index.py) commit the
same index: the driver placement (delta collected once, touched
partitions read and extended on the driver, written with pyarrow)
against the executor placement (one task per touched partition),
forced by a zero byte budget.

Each case starts both placements from copies of one index and
compares the live graph rows — ``ord``, ``node_id``, ``level``,
``neighbors``, ``vector`` and ``meta_json``, which carries each
partition's RNG state — row for row, and the meta fields the write
maintains. The file also pins the driver placement's delta checks,
its kernel hand-off to the resident cache and the Spark job count of
each small write.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

from inside_vectordb_spark import _generations as gen
from inside_vectordb_spark import _meta_io as mio
from inside_vectordb_spark.operators import hnsw_index as hi

DIM = 16
K = 5
PARAMS = dict(dim=DIM, m=8, ef_construction=40, n_parts=4, seed=3)
META_KEYS = ("part_counts", "corpus", "n_deleted", "tomb_rel")
DELTA_SCHEMA = StructType(
    [StructField("vec_id", LongType()), StructField("embedding", ArrayType(FloatType()))]
)


def _vectors(spark, ids, seed):
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((len(ids), DIM)).astype(np.float32)
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": np.asarray(ids, dtype=np.int64), "embedding": list(vecs)})
    )


def _routes(spark, ids):
    """id -> partition under the index's routing rule."""
    df = spark.createDataFrame(pd.DataFrame({"vec_id": np.asarray(list(ids), dtype=np.int64)}))
    rows = df.select("vec_id", hi._part_expr("vec_id", PARAMS["n_parts"])).collect()
    return {int(i): int(p) for i, p in rows}


def _graph_rows(path):
    """The live graph as one frame sorted by (part, level, ord), list
    columns as tuples so frames compare by value."""
    meta = gen.read_meta(path)
    frames = []
    for p, rel in gen.part_map(path, meta).items():
        stamp = mio.list_files(mio.join(path, rel, f"part={p}"))
        frames.append(hi._read_part(path, p, rel, stamp).assign(part=p))
    g = pd.concat(frames, ignore_index=True)
    for c in ("neighbors", "vector"):
        g[c] = g[c].map(lambda x: None if x is None else tuple(x))
    return g.sort_values(["part", "level", "ord"]).reset_index(drop=True)


def _answer(spark, path, queries):
    rows = hi.ann_hnsw_topk_indexed(spark, queries, path, k=K, ef_search=48).collect()
    return sorted(tuple(r) for r in rows)


@contextmanager
def _executors(monkeypatch):
    with monkeypatch.context() as mp:
        mp.setattr(hi, "_RESIDENT_MAX_BYTES", 0)
        yield


def _new_rel(before, after):
    rels = set(os.listdir(after)) - set(os.listdir(before))
    rels = {r for r in rels if r.startswith("graph")}
    assert len(rels) == 1, rels
    return os.path.join(after, rels.pop())


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """A 240-vector index plus its routing, built once and copied per
    case."""
    root = tmp_path_factory.mktemp("hnsw_place")
    ids = range(240)
    routes = _routes(spark, ids)
    hole = 2
    full = str(root / "full")
    hi.build_hnsw_index(_vectors(spark, ids, 1), full, **PARAMS)
    holed = str(root / "holed")
    kept = [i for i in ids if routes[i] != hole]
    hi.build_hnsw_index(
        _vectors(spark, ids, 1).filter(F.col("vec_id").isin(kept)), holed, **PARAMS
    )
    by_part = {p: [i for i in ids if routes[i] == p] for p in range(PARAMS["n_parts"])}
    return {"root": root, "full": full, "holed": holed, "hole": hole, "by_part": by_part}


def _prepare(spark, case, base):
    """(template path, op) of one parity case; the op takes
    (spark, path)."""
    root, by_part = base["root"], base["by_part"]
    template = str(root / f"tpl_{case}")
    if case == "upsert_holed":
        shutil.copytree(base["holed"], template)
        fill = list(range(300, 340))
        return template, lambda s, p: hi.upsert_hnsw_index(s, _vectors(s, fill, 2), p)
    shutil.copytree(base["full"], template)
    if case == "upsert":
        return template, lambda s, p: hi.upsert_hnsw_index(
            s, _vectors(s, range(300, 330), 2), p
        )
    if case == "upsert_after_delete":
        hi.delete_from_hnsw_index(spark, template, by_part[0][:5] + by_part[3][:2])
        return template, lambda s, p: hi.upsert_hnsw_index(
            s, _vectors(s, range(300, 330), 2), p
        )
    if case == "compact_full":
        hi.upsert_hnsw_index(spark, _vectors(spark, range(300, 320), 2), template)
        hi.delete_from_hnsw_index(spark, template, by_part[1][:4] + [305, 311])
        return template, lambda s, p: hi.compact_hnsw_index(s, p)
    assert case == "compact_partial"
    hi.delete_from_hnsw_index(
        spark, template, by_part[0][: len(by_part[0]) // 3] + by_part[1][:2]
    )
    return template, lambda s, p: hi.compact_hnsw_index(s, p, min_dead_fraction=0.2)


@pytest.mark.parametrize(
    "case",
    ["upsert", "upsert_holed", "upsert_after_delete", "compact_full", "compact_partial"],
)
def test_placements_write_the_same_index(spark, base, monkeypatch, case):
    template, op = _prepare(spark, case, base)
    drv, exe = template + "_drv", template + "_exe"
    shutil.copytree(template, drv)
    shutil.copytree(template, exe)
    op(spark, drv)
    with _executors(monkeypatch):
        op(spark, exe)
    # each took its placement: Spark's committer leaves _SUCCESS,
    # the pyarrow writer does not
    assert not os.path.exists(os.path.join(_new_rel(template, drv), "_SUCCESS"))
    assert os.path.exists(os.path.join(_new_rel(template, exe), "_SUCCESS"))
    m_drv, m_exe = gen.read_meta(drv), gen.read_meta(exe)
    for key in META_KEYS:
        assert m_drv.get(key) == m_exe.get(key), key
    assert gen.part_map(drv, m_drv) == gen.part_map(exe, m_exe)
    pd.testing.assert_frame_equal(_graph_rows(drv), _graph_rows(exe), check_exact=True)
    if case == "upsert_holed":
        assert base["hole"] in gen.part_map(drv, m_drv)
    if case == "compact_partial":
        assert m_drv["tomb_rel"].startswith("tombstones_g") and m_drv["n_deleted"] == 2
        assert gen.tombstone_ids(drv, m_drv) == gen.tombstone_ids(exe, m_exe)


@pytest.mark.parametrize("bad", ["null", "ragged"])
def test_bad_delta_vector_raises_before_any_write(spark, base, tmp_path, bad):
    path = str(tmp_path / "idx")
    shutil.copytree(base["full"], path)
    queries = _vectors(spark, [9001, 9002], 5).withColumnRenamed("vec_id", "query_id")
    before = _answer(spark, path, queries)
    rows = [(500 + i, [0.5] * DIM) for i in range(4)]
    rows[2] = (502, None if bad == "null" else [0.5] * (DIM - 1))
    delta = spark.createDataFrame(rows, DELTA_SCHEMA)
    with pytest.raises(ValueError, match="NULL, ragged"):
        hi.upsert_hnsw_index(spark, delta, path)
    assert not [d for d in os.listdir(path) if d.startswith("graph_u")]
    assert _answer(spark, path, queries) == before


def test_driver_writes_hand_their_kernels_to_the_resident_cache(
    spark, base, tmp_path, monkeypatch
):
    """After a driver upsert or compaction the next read loads no
    partition, and answers like a cold cache."""
    monkeypatch.setattr(hi, "_KERNELS", hi._KernelCache(hi._CACHE_MAX_BYTES))
    path = str(tmp_path / "idx")
    shutil.copytree(base["full"], path)
    queries = _vectors(spark, range(9000, 9012), 6).withColumnRenamed("vec_id", "query_id")
    _answer(spark, path, queries)  # warm every partition
    reads = []
    orig = mio.read_parquet_frame

    def counted(paths, columns=None):
        reads.append(paths)
        return orig(paths, columns)

    def read_fresh():
        reads.clear()
        with monkeypatch.context() as mp:
            mp.setattr(mio, "read_parquet_frame", counted)
            got = _answer(spark, path, queries)
        assert reads == []
        with monkeypatch.context() as mp:
            mp.setattr(hi, "_KERNELS", hi._KernelCache(hi._CACHE_MAX_BYTES))
            assert _answer(spark, path, queries) == got

    hi.upsert_hnsw_index(spark, _vectors(spark, range(400, 430), 7), path)
    read_fresh()
    hi.delete_from_hnsw_index(spark, path, base["by_part"][0][:30] + [401])
    hi.compact_hnsw_index(spark, path, min_dead_fraction=0.2)
    read_fresh()
    hi.compact_hnsw_index(spark, path)
    read_fresh()


@contextmanager
def _jobs(spark, group):
    """Collects the ids of the Spark jobs run inside the block."""
    sc = spark.sparkContext
    out = []
    sc.setJobGroup(group, group)
    try:
        yield out
    finally:
        out.extend(sc.statusTracker().getJobIdsForGroup(group))
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_small_writes_run_at_most_one_job(spark, base, tmp_path):
    """A small upsert runs one job (its delta collect), a list delete
    and a small compaction, full or incremental, none."""
    path = str(tmp_path / "idx")
    shutil.copytree(base["full"], path)
    src = str(tmp_path / "delta")
    _vectors(spark, range(600, 640), 8).write.parquet(src)
    delta = spark.read.parquet(src)
    with _jobs(spark, "hnsw-upsert") as up:
        hi.upsert_hnsw_index(spark, delta, path)
    with _jobs(spark, "hnsw-delete") as de:
        hi.delete_from_hnsw_index(spark, path, [3, 4, 5, 601])
    with _jobs(spark, "hnsw-compact") as co:
        hi.compact_hnsw_index(spark, path)
    by_part = base["by_part"]
    gone = set(by_part[0][: len(by_part[0]) // 3] + by_part[1][:2])
    hi.delete_from_hnsw_index(spark, path, sorted(gone))
    with _jobs(spark, "hnsw-compact-partial") as cp:
        hi.compact_hnsw_index(spark, path, min_dead_fraction=0.2)
    assert len(up) <= 1 and (len(de), len(co), len(cp)) == (0, 0, 0)
    live = (set(range(240)) | set(range(600, 640))) - {3, 4, 5, 601}
    want = Counter(_routes(spark, live).values())
    # the incremental compaction rebuilt partition 0 without its dead
    # rows and left partition 1's tombstones masking
    want[0] -= len(gone & set(by_part[0]) - {3, 4, 5})
    meta = gen.read_meta(path)
    assert meta["part_counts"] == {str(p): n for p, n in sorted(want.items())}
    assert gen.tombstone_ids(path, meta) == gone & set(by_part[1])
