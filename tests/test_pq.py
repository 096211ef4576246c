"""PQ (product quantization) ANN tier: recall retention, the
refine-knob sweep, compression/encode contracts, codebook
determinism, and stored-index == fresh-build equivalence.

Same acceptance style as tests/test_ann.py: the driver cannot
oracle-check ANN, so retention vs the exact engine IS the
correctness story. Two regimes again — the driver's near-uniform
embeddings pin the retention floor; a clustered corpus asserts the
quantizer exploits structure.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from inside_vectordb_spark import io as eio
from inside_vectordb_spark.operators.pq import (
    ann_pq_topk,
    pq_encode,
    pq_train,
)
from inside_vectordb_spark.operators.topk import exact_cosine_topk
from tests.conftest import SF_DIR_MED
from tests.test_ann import _recall_vs_exact, _topk_sets

K = 10
EMB_DIM = 64


@pytest.fixture(scope="module")
def exact_sets(spark):
    q = eio.query_vectors(spark, SF_DIR_MED)
    c = eio.load_table(spark, SF_DIR_MED, "embeddings")
    return _topk_sets(exact_cosine_topk(q, c, k=K))


def test_pq_recall_retention(spark, exact_sets):
    """Registry knobs (m=8, ks=16, refine=8) on the structureless
    driver embeddings: measured 0.83; floor with margin."""
    q = eio.query_vectors(spark, SF_DIR_MED)
    c = eio.load_table(spark, SF_DIR_MED, "embeddings")
    ann = ann_pq_topk(q, c, dim=EMB_DIM, k=K, m=8, ks=16, refine=8)
    recall = _recall_vs_exact(ann, exact_sets)
    assert recall >= 0.7, f"PQ retention {recall:.3f} < 0.7"


def test_pq_refine_sweep_monotone(spark, exact_sets):
    """refine is the ef-analogue knob: retention must not decrease as
    the refined candidate set grows (measured 0.39 → 0.69 → 0.96)."""
    q = eio.query_vectors(spark, SF_DIR_MED)
    c = eio.load_table(spark, SF_DIR_MED, "embeddings")
    rs = []
    for refine in (1, 4, 16):
        # fraction floor off: the sweep measures the RAW knob (the
        # floor would clamp the low arms to ceil(0.075*N) candidates)
        ann = ann_pq_topk(
            q, c, dim=EMB_DIM, k=K, m=8, ks=16, refine=refine,
            min_candidate_fraction=0.0,
        )
        rs.append(_recall_vs_exact(ann, exact_sets))
    assert rs == sorted(rs), f"refine sweep not monotone: {rs}"
    assert rs[-1] >= rs[0] + 0.2, f"refine knob has no effect: {rs}"


def test_pq_exploits_structure(spark):
    """On clustered data ADC reliably ranks the query's cluster above
    the other 90% of the corpus (separation >> quantization error),
    but cannot order WITHIN a tight cluster — members share nearly
    identical codes, which is intrinsic to quantization, not a bug
    (FAISS IVF-PQ has the same property; its answer is the same
    raw-vector refine). So the assertion is: a refine set covering
    the cluster size (10·10 = cluster's 100 members) recovers
    near-exact recall — i.e. ADC narrowed to the right region and
    exact re-rank resolved it."""
    rng = np.random.RandomState(7)
    centers = rng.normal(size=(10, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    m = np.repeat(centers, 100, axis=0) + rng.normal(
        scale=0.05, size=(1000, EMB_DIM)
    )
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(1000, dtype=np.int64),
            "embedding": [v.astype(np.float32).tolist() for v in m],
        }
    )
    corpus = spark.createDataFrame(pdf)
    queries = corpus.filter("vec_id % 100 < 2").select(
        corpus["vec_id"].alias("query_id"), "embedding"
    )
    exact = _topk_sets(exact_cosine_topk(queries, corpus, k=K))
    ann = ann_pq_topk(queries, corpus, dim=EMB_DIM, k=K, m=8, ks=16, refine=10)
    recall = _recall_vs_exact(ann, exact)
    assert recall >= 0.95, f"PQ on clustered data: {recall:.3f} < 0.95"


def test_pq_encode_contract(spark):
    """codes: length m, every entry in [0, ks) — the compressed
    representation really is m small ints per vector."""
    c = eio.load_table(spark, SF_DIR_MED, "embeddings")
    books = pq_train(c, "embedding", EMB_DIM, m=8, ks=16)
    rows = pq_encode(c, "vec_id", "embedding", books).collect()
    assert len(rows) == c.count()
    for r in rows[:50]:
        assert len(r.codes) == 8
        assert all(0 <= code < 16 for code in r.codes)


def test_pq_train_deterministic(spark):
    c = eio.load_table(spark, SF_DIR_MED, "embeddings")
    a = pq_train(c, "embedding", EMB_DIM, m=8, ks=16, seed=42)
    b = pq_train(c, "embedding", EMB_DIM, m=8, ks=16, seed=42)
    assert np.array_equal(a, b)


def test_pq_train_rejects_indivisible_dim(spark):
    c = eio.load_table(spark, SF_DIR_MED, "embeddings")
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(c, "embedding", EMB_DIM, m=7)


def test_pq_indexed_matches_fresh(spark, tmp_path):
    """Stored-index search returns exactly the fresh-build results
    (same seed ⇒ same codebooks ⇒ same candidates ⇒ same re-rank)."""
    from inside_vectordb_spark.operators.ann_index import (
        ann_pq_topk_indexed,
        build_pq_index,
    )

    q = eio.query_vectors(spark, SF_DIR_MED)
    c = eio.load_table(spark, SF_DIR_MED, "embeddings")
    fresh = {
        (r.query_id, r.doc_id, r.rank)
        for r in ann_pq_topk(q, c, dim=EMB_DIM, k=K, refine=8).collect()
    }
    path = str(tmp_path / "pq_idx")
    build_pq_index(c, path, dim=EMB_DIM, m=8, ks=16, seed=42)
    stored = {
        (r.query_id, r.doc_id, r.rank)
        for r in ann_pq_topk_indexed(q, c, path, k=K, refine=8).collect()
    }
    assert fresh == stored
