"""Tests of the benchmark itself: generator determinism, the oracle's
verdicts, the percentile/tail rule, metric names against
BENCHMARK.json, and the refusal to run without the engine.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
None of these start Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, oracle, stats, workloads  # noqa: E402


def _same(a: gen.Vectors, b: gen.Vectors) -> bool:
    return (np.array_equal(a.ids, b.ids) and np.array_equal(a.vecs, b.vecs)
            and np.array_equal(a.labels, b.labels))


def _inputs(seed: int):
    g = gen.Generator(seed)
    corpus = g.corpus(500)
    pool = g.near_queries(corpus, 0, 40)
    stream = g.zipf_stream(40, 300)
    batch = g.ingest_batch(500, 30)
    mixed = g.ingest_queries(batch, corpus, 100, 20, 5)
    deletes = g.choose_deletes(corpus.ids, 7)
    return corpus, pool, stream, batch, mixed, deletes, g.qrels(corpus, pool)


def test_generator_and_stream_are_identical_for_one_seed():
    a, b = _inputs(11), _inputs(11)
    for x, y in zip(a, b):
        if isinstance(x, gen.Vectors):
            assert _same(x, y)
        else:
            assert np.array_equal(x, y)
    c = _inputs(12)
    assert not _same(a[0], c[0])
    assert not np.array_equal(a[2], c[2])


def test_generator_shapes_and_skew():
    corpus, pool, stream, batch, mixed, deletes, qrels = _inputs(3)
    assert corpus.vecs.dtype == np.float32 and corpus.vecs.shape == (500, gen.DIM)
    assert np.array_equal(corpus.ids, np.arange(500))
    assert np.array_equal(batch.ids, np.arange(500, 530))
    # Zipf cluster sizes: the biggest cluster is far above an even share
    assert np.bincount(corpus.labels).max() > 3 * 500 / gen.N_CLUSTERS
    # Zipf request order: repeats occur and pool entry 0 leads
    counts = np.bincount(stream, minlength=40)
    assert counts.max() > 1 and counts.argmax() == 0
    # ingest batches begin with copies of just-upserted vectors
    assert all(any(np.array_equal(v, w) for w in batch.vecs) for v in mixed.vecs[:5])
    assert len(np.unique(deletes)) == 7
    assert set(np.unique(qrels["relevance"])) <= {1, 2}
    assert (np.bincount(qrels["query_id"]) <= gen.QRELS_PER_LABEL).all()


def test_written_table_has_the_testdata_shape(tmp_path):
    import pyarrow.parquet as pq

    corpus = gen.Generator(1).corpus(50)
    gen.write_vectors(str(tmp_path), "corpus", corpus)
    t = pq.read_table(tmp_path / "corpus.parquet")
    assert t.schema == gen.TABLE_SCHEMA
    back = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
    assert np.array_equal(back, corpus.vecs)


def _topk(live: oracle.LiveSet, q: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(ids, scores) of the live top-k per query, best first, ties by id
    ascending — the engine's declared order."""
    s = live.scores(q)
    kk = min(k, live.n_live)
    order = np.array([np.lexsort((live.ids, -row))[:kk] for row in s])
    return live.ids[order], np.take_along_axis(s, order, axis=1)


def _answer(live: oracle.LiveSet, q: np.ndarray, qids: np.ndarray, k: int) -> np.ndarray:
    """A correct answer, rounded like the engine's."""
    ids, sc = _topk(live, q, k)
    rows = [(int(qid), int(d), round(float(s), 6), r + 1)
            for qid, ri, rs in zip(qids, ids, sc) for r, (d, s) in enumerate(zip(ri, rs))]
    return np.array(rows, dtype=oracle.RESULT_DTYPE)


@pytest.fixture
def world():
    g = gen.Generator(5)
    corpus = g.corpus(300)
    q = g.near_queries(corpus, 0, 6)
    live = oracle.LiveSet(corpus.ids, corpus.vecs)
    return live, q


def test_oracle_accepts_a_correct_answer(world):
    live, q = world
    res = _answer(live, q.vecs, q.ids, 10)
    assert oracle.check_exact(live, q.ids, q.vecs, res, 10) == []
    bad, hits, possible = oracle.check_hnsw(live, q.ids, q.vecs, res, 10)
    assert bad == [] and hits == possible == 60


def test_oracle_flags_a_planted_wrong_answer(world):
    live, q = world
    res = _answer(live, q.vecs, q.ids, 10)
    wrong_score = res.copy()
    wrong_score["score"][3] += 1e-4
    assert oracle.check_exact(live, q.ids, q.vecs, wrong_score, 10)
    assert oracle.check_hnsw(live, q.ids, q.vecs, wrong_score, 10)[0]
    # a far-away doc at rank 10, carrying its own correct score
    s = live.scores(q.vecs[:1])[0]
    far = int(np.argmin(s))
    swapped = res.copy()
    swapped["doc_id"][9] = live.ids[far]
    swapped["score"][9] = round(float(s[far]), 6)
    assert any("below k-th best" in v for v in oracle.check_exact(live, q.ids, q.vecs, swapped, 10))
    missing = res[res["query_id"] != q.ids[0]]
    assert oracle.check_exact(live, q.ids, q.vecs, missing, 10)
    dup = res.copy()
    dup["doc_id"][1] = dup["doc_id"][0]
    assert oracle.check_hnsw(live, q.ids, q.vecs, dup, 10)[0]


def test_oracle_flags_a_planted_deleted_id(world):
    live, q = world
    res = _answer(live, q.vecs, q.ids, 10)
    victim = int(res["doc_id"][0])
    live.delete([victim])
    bad, _, _ = oracle.check_hnsw(live, q.ids, q.vecs, res, 10)
    assert any(f"deleted id {victim}" in v for v in bad)
    assert oracle.check_exact(live, q.ids, q.vecs, res, 10)
    # an answer over the live set passes again
    fresh = _answer(live, q.vecs, q.ids, 10)
    assert victim not in set(fresh["doc_id"].tolist())
    assert oracle.check_hnsw(live, q.ids, q.vecs, fresh, 10)[0] == []


def test_oracle_sees_upserts():
    g = gen.Generator(8)
    corpus, extra = g.corpus(100), g.ingest_batch(100, 10)
    live = oracle.LiveSet(corpus.ids, corpus.vecs)
    live.add(extra.ids, extra.vecs)
    ids, _ = _topk(live, extra.vecs[:1], 1)
    assert ids[0, 0] == extra.ids[0]
    with pytest.raises(ValueError):
        live.add(extra.ids[:1], extra.vecs[:1])


def test_evaluation_recomputation_by_hand():
    res = np.array([(1, 10, 0.9, 1), (1, 11, 0.8, 2), (2, 20, 0.7, 1), (3, 30, 0.6, 1)],
                   dtype=oracle.RESULT_DTYPE)
    qrels = np.array([(1, 11, 2), (1, 12, 1), (2, 99, 1)],
                     dtype=[("query_id", "i8"), ("doc_id", "i8"), ("relevance", "i4")])
    got = oracle.evaluation_numpy(res, qrels, k_recall=(1, 5), k_precision=(1, 5))
    # recall skips query 3 (no judgments): q1 1/2 at k=5, q2 0
    assert got[("recall", 1)] == 0.0 and got[("recall", 5)] == 0.25
    # precision over all searched queries, / retrieved at k
    assert got[("precision", 5)] == round((0.5 + 0 + 0) / 3, 6)
    assert got[("mrr", None)] == round((0.5 + 0 + 0) / 3, 6)
    rows = [{"metric": m, "k": k, "value": v} for (m, k), v in
            oracle.evaluation_numpy(res, qrels).items()]
    assert oracle.check_evaluation(rows, res, qrels) == []
    rows[0] = {**rows[0], "value": rows[0]["value"] + 0.01}
    assert oracle.check_evaluation(rows, res, qrels)
    assert oracle.check_evaluation(rows[1:], res, qrels)


def test_percentile_and_tail_rule():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50 and stats.percentile(xs, 90) == 90
    assert stats.percentile([7], 99) == 7
    assert stats.median([3, 1, 2, 10]) == 2.5
    assert stats.tail(list(range(39))) is None
    assert stats.tail(list(range(40)))[0] == 75
    assert stats.tail(xs) == (90, 90)  # exactly 10 samples above p90
    assert stats.tail(list(range(199)))[0] == 90
    assert stats.tail(list(range(200)))[0] == 95
    assert stats.tail(list(range(1000)))[0] == 99
    assert stats.tail(list(range(10000)))[0] == 99.9
    for n in (40, 100, 1000, 10000):
        p, _ = stats.tail(list(range(n)))
        assert stats.beyond(n, p) >= stats.TAIL_MIN_BEYOND


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {(m["name"], m["unit"]) for m in spec["end_to_end"]} == set(workloads.END_TO_END)
    assert {(m["name"], m["unit"]) for m in spec["per_layer"]} == set(workloads.PER_LAYER)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    with pytest.raises(KeyError):
        workloads._with_units(workloads.END_TO_END, {"setup_s": (1.0, 1)})


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve-point", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
