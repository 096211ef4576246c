"""The exact GEMM's two placements (operators/topk.py) return the same
rows: the driver placement (corpus read once through Arrow, merged in
NumPy) against the executor placement (mapInPandas + window), forced
by a zero byte budget.

The vectors have entries in {-1, 0, 1} with four (or one) non-zeros,
so every unit vector has entries in {0, ±0.5} (or {0, ±1}) and every
score is a multiple of 0.25, exact in any summation order. Scores are
therefore bit-identical on both placements and ties are frequent, so
the (score DESC, doc_id ASC) tie-break is what decides the k boundary.
"""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from inside_vectordb_spark.operators import topk
from inside_vectordb_spark.operators.topk import exact_cosine_topk_gemm
from inside_vectordb_spark.plans.audit import _walk, count_nodes

DIM = 8
VEC_TYPE = pa.list_(pa.float32())


def _ternary(rng, n, nnz=4):
    mat = np.zeros((n, DIM), dtype=np.float32)
    for row in mat:
        cols = rng.choice(DIM, size=nnz, replace=False)
        row[cols] = rng.choice([-1.0, 1.0], size=nnz)
    return mat


def _write(tmp_path, name, ids, vecs, n_files=1):
    """``<tmp>/<name>/part-<i>.parquet``, one Spark partition each."""
    d = tmp_path / name
    d.mkdir()
    for i, sl in enumerate(np.array_split(np.arange(len(ids)), n_files)):
        t = pa.table(
            {
                "vec_id": pa.array(np.asarray(ids)[sl], pa.int64()),
                "embedding": pa.array([vecs[j] for j in sl], VEC_TYPE),
            }
        )
        pq.write_table(t, str(d / f"part-{i}.parquet"))
    return str(d)


def _queries(spark, ids, vecs):
    return spark.createDataFrame(
        pa.table(
            {
                "query_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(list(vecs), VEC_TYPE),
            }
        )
    )


@contextmanager
def _batch_rows(spark, n):
    """Arrow record batches of ``n`` rows on both placements."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, before)


def _nodes(df):
    return [
        n.getClass().getSimpleName()
        for n in _walk(df._jdf.queryExecution().executedPlan())
    ]


def _sorted(df):
    return (
        df.toPandas()
        .sort_values(["query_id", "rank", "doc_id"])
        .reset_index(drop=True)
    )


def _both(queries, corpus, monkeypatch, **kw):
    """(driver answer, forced executor answer), each checked to have
    taken its placement, with equal schemas."""
    drv = exact_cosine_topk_gemm(queries, corpus, **kw)
    assert _nodes(drv) == ["LocalTableScanExec"]
    with monkeypatch.context() as m:
        m.setattr(topk, "_RESIDENT_MAX_BYTES", 0)
        exe = exact_cosine_topk_gemm(queries, corpus, **kw)
    assert count_nodes(exe, "MapInPandasExec") == 1
    assert drv.schema == exe.schema
    return _sorted(drv), _sorted(exe)


def _assert_parity(queries, corpus, monkeypatch, **kw):
    drv, exe = _both(queries, corpus, monkeypatch, **kw)
    pd.testing.assert_frame_equal(drv, exe)
    return drv


@pytest.mark.parametrize("round_to", [6, None])
def test_ties_across_the_k_boundary(spark, tmp_path, monkeypatch, round_to):
    """Copies of one vector under distinct ids, spread over three
    files (corpus partitions) and 5-row Arrow batches, tie across the
    k boundary: both placements keep the lowest ids."""
    rng = np.random.default_rng(7)
    n = 60
    vecs = _ternary(rng, n)
    ids = rng.permutation(np.arange(1000, 1000 + n))
    top = _ternary(rng, 1)[0]
    # in every file and four batches; rows 40-44 are one whole batch,
    # so its local top-4 must break a five-way tie by id
    vecs[[3, 17, 25, 40, 41, 42, 43, 44, 59]] = top
    dup_ids = np.sort(ids[(vecs == top).all(axis=1)])
    corpus = spark.read.parquet(_write(tmp_path, "c", ids, vecs, n_files=3))
    assert corpus.rdd.getNumPartitions() == 3
    qvecs = np.vstack([top[None, :], _ternary(rng, 4)])
    queries = _queries(spark, [1, 2, 3, 4, 5], qvecs)
    with _batch_rows(spark, 5):
        got = _assert_parity(queries, corpus, monkeypatch, k=4, round_to=round_to)
    first = got[got["query_id"] == 1]
    assert list(first["doc_id"]) == list(dup_ids[:4])
    assert (first["score"] == 1.0).all()


def test_zero_norm_corpus_and_query_vectors(spark, tmp_path, monkeypatch):
    rng = np.random.default_rng(8)
    vecs = _ternary(rng, 30)
    vecs[[0, 9, 21]] = 0.0
    corpus = spark.read.parquet(_write(tmp_path, "c", np.arange(30), vecs, 2))
    qvecs = np.vstack([np.zeros((1, DIM), np.float32), _ternary(rng, 2)])
    queries = _queries(spark, [10, 11, 12], qvecs)
    with _batch_rows(spark, 7):
        got = _assert_parity(queries, corpus, monkeypatch, k=5)
    # the zero query scores 0 against everything: the lowest ids win
    assert list(got[got["query_id"] == 10]["doc_id"]) == [0, 1, 2, 3, 4]


def test_k_larger_than_the_corpus(spark, tmp_path, monkeypatch):
    rng = np.random.default_rng(9)
    corpus = spark.read.parquet(
        _write(tmp_path, "c", np.arange(12), _ternary(rng, 12), 2)
    )
    queries = _queries(spark, [1, 2], _ternary(rng, 2, nnz=1))
    with _batch_rows(spark, 5):
        got = _assert_parity(queries, corpus, monkeypatch, k=50)
    assert got.groupby("query_id").size().tolist() == [12, 12]


def test_duplicated_query_ids(spark, tmp_path, monkeypatch):
    """Two query rows under one id merge into one ranked list on both
    placements (the window partitions by query id)."""
    rng = np.random.default_rng(10)
    corpus = spark.read.parquet(
        _write(tmp_path, "c", np.arange(40), _ternary(rng, 40), 2)
    )
    queries = _queries(spark, [7, 7, 8], _ternary(rng, 3))
    with _batch_rows(spark, 9):
        got = _assert_parity(queries, corpus, monkeypatch, k=6, round_to=None)
    assert got.groupby("query_id").size().tolist() == [6, 6]


def test_empty_corpus_gives_an_empty_frame(spark, tmp_path, monkeypatch):
    rng = np.random.default_rng(11)
    corpus = spark.read.parquet(_write(tmp_path, "c", [], np.zeros((0, DIM))))
    queries = _queries(spark, [1], _ternary(rng, 1))
    drv, exe = _both(queries, corpus, monkeypatch, k=3)
    assert drv.empty and exe.empty


def test_ingest_shaped_corpus(spark, tmp_path, monkeypatch):
    """A live table as the ingest workload builds it: a base file and
    two upsert files unioned by name, minus deleted ids."""
    rng = np.random.default_rng(12)
    frames = [
        spark.read.parquet(
            _write(tmp_path, f"f{i}", np.arange(i * 100, i * 100 + 25), _ternary(rng, 25))
        )
        for i in range(3)
    ]
    live = frames[0].unionByName(frames[1]).unionByName(frames[2])
    live = live.filter(~F.col("vec_id").isin([3, 104, 105, 220]))
    queries = _queries(spark, [1, 2, 3], _ternary(rng, 3))
    with _batch_rows(spark, 10):
        got = _assert_parity(queries, live, monkeypatch, k=8)
    assert not set(got["doc_id"]) & {3, 104, 105, 220}


@pytest.mark.parametrize("bad", ["null", "ragged"])
def test_null_or_ragged_embeddings_raise_alike(spark, tmp_path, monkeypatch, bad):
    """The shared check raises ValueError on both placements; on the
    executors Spark surfaces it wrapped in a PythonException."""
    vecs = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    vecs[1] = None if bad == "null" else [0.0, 1.0]
    d = tmp_path / "c"
    d.mkdir()
    pq.write_table(
        pa.table(
            {"vec_id": pa.array([1, 2, 3], pa.int64()), "embedding": pa.array(vecs, VEC_TYPE)}
        ),
        str(d / "part-0.parquet"),
    )
    corpus = spark.read.parquet(str(d))
    queries = _queries(spark, [1], np.array([[1.0, 0.0, 0.0]], np.float32))
    msg = "NULL corpus embeddings" if bad == "null" else "ragged corpus embeddings"
    with pytest.raises(ValueError, match=msg):
        exact_cosine_topk_gemm(queries, corpus, k=2)
    with monkeypatch.context() as m:
        m.setattr(topk, "_RESIDENT_MAX_BYTES", 0)
        with pytest.raises(PythonException, match=f"ValueError: .*{msg}"):
            exact_cosine_topk_gemm(queries, corpus, k=2).collect()


def test_repeat_requests_reuse_one_kept_projection(spark, tmp_path, monkeypatch):
    """Requests over one corpus frame re-run one kept projection, one
    per column pair, and each new query batch is answered like the
    executor placement answers it."""
    rng = np.random.default_rng(21)
    corpus = spark.read.parquet(
        _write(tmp_path, "c", np.arange(40), _ternary(rng, 40), n_files=2)
    ).withColumn("again", F.col("embedding"))
    for seed in (1, 2):
        q = _queries(spark, [1, 2, 3], _ternary(np.random.default_rng(seed), 3))
        _assert_parity(q, corpus, monkeypatch, k=5)
    kept = dict(corpus._sg_projections)
    assert list(kept) == [("vec_id", "embedding")]
    got = _sorted(exact_cosine_topk_gemm(q, corpus, k=5, corpus_vec="again"))
    assert corpus._sg_projections[("vec_id", "embedding")] is kept[("vec_id", "embedding")]
    assert set(corpus._sg_projections) == {("vec_id", "embedding"), ("vec_id", "again")}
    pd.testing.assert_frame_equal(got, _sorted(exact_cosine_topk_gemm(q, corpus, k=5)))
