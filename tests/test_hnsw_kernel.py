"""Vendored pure-NumPy HNSW kernel tests (operators/hnsw_kernel.py).

These pin the APPROXIMATE branch of the partitioned ANN tier without
hnswlib (VERDICT r2 item 7): graph build, ef beam search, the
recall/ef trade-off, and the hnswlib-compatible ip-space contract the
partitioned tier relies on. Pure NumPy — no SparkSession needed.
"""

from __future__ import annotations

import numpy as np
import pytest

from inside_vectordb_spark.operators.hnsw_kernel import HnswIndex

DIM = 32
K = 10


def _clustered(n=1000, n_clusters=10, seed=7):
    """Unit vectors in tight clusters + 50 cluster-seeded queries."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, DIM))
    pts = centers[rng.integers(0, n_clusters, n)] + 0.1 * rng.normal(size=(n, DIM))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    q = centers[rng.integers(0, n_clusters, 50)] + 0.1 * rng.normal(size=(50, DIM))
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    ids = np.arange(n, dtype=np.int64)
    return pts, ids, q


def _exact_sets(pts, ids, q, k=K):
    order = np.argsort(-(q @ pts.T), axis=1)[:, :k]
    return [set(ids[row]) for row in order]


def _recall(labels, exact_sets):
    return float(
        np.mean([len(set(row) & ex) / len(ex) for row, ex in zip(labels, exact_sets)])
    )


@pytest.fixture(scope="module")
def built():
    pts, ids, q = _clustered()
    idx = HnswIndex(dim=DIM, m=16, ef_construction=100, seed=42)
    idx.add_items(pts, ids)
    return idx, pts, ids, q


def test_recall_on_clustered_data(built):
    """The approximate kernel reaches high recall on clustered data —
    the regime real embedding corpora are in (same floor as the
    tiered ANN tests)."""
    idx, pts, ids, q = built
    idx.set_ef(128)
    labels, _ = idx.knn_query(q, K)
    rec = _recall(labels, _exact_sets(pts, ids, q))
    assert rec >= 0.9, f"vendored HNSW recall@{K} {rec:.3f} < 0.9"


def test_ef_sweep_monotone(built):
    """Wider beam ⇒ recall does not decrease (the reference's
    ef_search sweep shape, ``003:408-458``)."""
    idx, pts, ids, q = built
    exact = _exact_sets(pts, ids, q)
    recalls = []
    for ef in (K, 64, 256):
        idx.set_ef(ef)
        labels, _ = idx.knn_query(q, K)
        recalls.append(_recall(labels, exact))
    assert recalls == sorted(recalls), f"not monotone: {recalls}"


def test_deterministic_build_and_query(built):
    """Same (vectors, ids, params, seed) ⇒ identical graph ⇒ identical
    results — required for stable driver rows."""
    idx, pts, ids, q = built
    twin = HnswIndex(dim=DIM, m=16, ef_construction=100, seed=42)
    twin.add_items(pts, ids)
    idx.set_ef(64)
    twin.set_ef(64)
    l1, d1 = idx.knn_query(q, K)
    l2, d2 = twin.knn_query(q, K)
    assert np.array_equal(l1, l2)
    assert np.allclose(d1, d2)


def test_ip_distance_contract(built):
    """dists are ascending and equal 1 − ⟨q, v⟩ — the hnswlib
    'ip'-space convention ``_partition_hnsw_topk`` converts back to
    cosine."""
    idx, pts, ids, q = built
    idx.set_ef(64)
    labels, dists = idx.knn_query(q[:5], K)
    assert (np.diff(dists, axis=1) >= -1e-12).all()
    for qi in range(5):
        expected = 1.0 - pts[labels[qi]] @ q[qi]  # ids == positions here
        assert np.allclose(dists[qi], expected)


def test_k_clamped_to_corpus_size():
    pts, ids, q = _clustered(n=6)
    idx = HnswIndex(dim=DIM, m=4, ef_construction=20, seed=1)
    idx.add_items(pts, ids)
    labels, dists = idx.knn_query(q[:3], k=50)
    assert labels.shape == (3, 6)
    assert sorted(labels[0]) == sorted(ids)


def test_incremental_add():
    pts, ids, q = _clustered(n=400)
    idx = HnswIndex(dim=DIM, m=8, ef_construction=50, seed=3)
    idx.add_items(pts[:200], ids[:200])
    idx.add_items(pts[200:], ids[200:])
    assert len(idx) == 400
    idx.set_ef(128)
    labels, _ = idx.knn_query(q, K)
    rec = _recall(labels, _exact_sets(pts, ids, q))
    assert rec >= 0.85, f"incremental-build recall {rec:.3f} < 0.85"


def test_empty_index_raises():
    idx = HnswIndex(dim=DIM)
    with pytest.raises(RuntimeError):
        idx.knn_query(np.zeros((1, DIM)), 1)


def test_disconnected_nodes_pad_instead_of_crash():
    """Review r7 (reproduced): at tiny m, neighbor-list pruning can
    disconnect nodes, so the layer-0 beam reaches fewer than k nodes.
    Rows must pad with label -1 / dist +inf instead of crashing the
    result-array assignment; reachable results stay exact-ordered."""
    import random

    rng = random.Random(0)
    # clustered data at m=2 reproduces the disconnection reliably
    pts = np.array(
        [
            [rng.gauss(c, 0.05) for _ in range(16)]
            for c in (0.0, 10.0) for _ in range(20)
        ]
    )
    ids = np.arange(len(pts), dtype=np.int64)
    for seed in range(8):
        idx = HnswIndex(dim=16, m=2, ef_construction=4, seed=seed)
        idx.add_items(pts, ids)
        idx.set_ef(40)
        labels, dists = idx.knn_query(pts[:3], k=40)  # never raises
        assert labels.shape == (3, 40)
        for row_l, row_d in zip(labels, dists):
            pad = row_l == -1
            assert np.all(np.isinf(row_d[pad]))
            assert np.all(np.isfinite(row_d[~pad]))
            # pads are only ever a suffix (dists ascending)
            if pad.any():
                assert pad[np.argmax(pad):].all()


# -- Alg. 4 diversity heuristic (r10 verdict #3) ----------------------


def _hard_clustered(n=1200, n_clusters=24, seed=11, spread=0.04):
    """Tighter clusters + low m is the regime where simple closest-M
    selection spends every edge INSIDE a cluster and inter-cluster
    navigation starves — the case Alg. 4 exists for."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = centers[rng.integers(0, n_clusters, n)] + spread * rng.normal(
        size=(n, DIM)
    )
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    q = centers[rng.integers(0, n_clusters, 80)] + spread * rng.normal(
        size=(80, DIM)
    )
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    return pts, np.arange(n, dtype=np.int64), q


def _build_pair(pts, ids, m=6, efc=60):
    simple = HnswIndex(dim=DIM, m=m, ef_construction=efc, seed=42)
    simple.add_items(pts, ids)
    heur = HnswIndex(dim=DIM, m=m, ef_construction=efc, seed=42, heuristic=True)
    heur.add_items(pts, ids)
    return simple, heur


def test_heuristic_recall_at_least_simple_on_clustered_data():
    """Alg. 4 neighbor selection lifts (never hurts) recall on
    clustered data at equal ef — the verdict's acceptance bar."""
    pts, ids, q = _hard_clustered()
    simple, heur = _build_pair(pts, ids)
    exact = _exact_sets(pts, ids, q)
    for ef in (16, 32, 64):
        simple.set_ef(ef)
        heur.set_ef(ef)
        rs = _recall(simple.knn_query(q, K)[0], exact)
        rh = _recall(heur.knn_query(q, K)[0], exact)
        assert rh >= rs - 1e-9, (
            f"heuristic recall {rh:.3f} < simple {rs:.3f} at ef={ef}"
        )


def test_heuristic_improves_connectivity_on_tight_clusters():
    """On tightly clustered data the heuristic must WIN outright at
    low ef (if it only ever ties, the implementation is inert)."""
    pts, ids, q = _hard_clustered(seed=3, spread=0.02)
    simple, heur = _build_pair(pts, ids, m=4, efc=40)
    exact = _exact_sets(pts, ids, q)
    simple.set_ef(12)
    heur.set_ef(12)
    rs = _recall(simple.knn_query(q, K)[0], exact)
    rh = _recall(heur.knn_query(q, K)[0], exact)
    assert rh > rs, f"heuristic {rh:.3f} did not beat simple {rs:.3f}"


def test_heuristic_default_off_builds_identical_graph():
    """heuristic=False (the default) must build the EXACT graph the
    pre-r11 kernel built — stored graphs and checksum pins stay valid."""
    pts, ids, _ = _clustered(n=300)
    a = HnswIndex(dim=DIM, m=8, ef_construction=50, seed=42)
    a.add_items(pts, ids)
    b = HnswIndex(dim=DIM, m=8, ef_construction=50, seed=42, heuristic=False)
    b.add_items(pts, ids)
    assert a.get_state()["links"] == b.get_state()["links"]


def test_heuristic_flag_roundtrips_through_state():
    """save/load keeps the selection rule; continued adds on the
    restored index equal never-saved adds (the hnswlib
    load_index→add_items contract, heuristic variant)."""
    pts, ids, q = _hard_clustered(n=400, n_clusters=8)
    idx = HnswIndex(dim=DIM, m=6, ef_construction=60, seed=42, heuristic=True)
    idx.add_items(pts[:300], ids[:300])
    restored = HnswIndex.from_state(idx.get_state())
    assert restored.heuristic is True
    restored.add_items(pts[300:], ids[300:])
    never_saved = HnswIndex(
        dim=DIM, m=6, ef_construction=60, seed=42, heuristic=True
    )
    never_saved.add_items(pts[:300], ids[:300])
    never_saved.add_items(pts[300:], ids[300:])
    assert restored.get_state()["links"] == never_saved.get_state()["links"]
    restored.set_ef(64)
    never_saved.set_ef(64)
    la, da = restored.knn_query(q, K)
    lb, db = never_saved.knn_query(q, K)
    assert np.array_equal(la, lb) and np.allclose(da, db)


def test_alg4_sub_flags_roundtrip_and_semantics():
    """The paper's Alg. 4 sub-flags: keep_pruned_connections fills the
    neighbor list back to min(m, |candidates|) (plain heuristic may
    under-fill on tight clusters); extend_candidates widens the
    working set; both round-trip through save/load and keep the build
    deterministic."""
    pts, ids, q = _hard_clustered(n=600, n_clusters=6, seed=5, spread=0.015)

    def build(**kw):
        idx = HnswIndex(dim=DIM, m=4, ef_construction=40, seed=42,
                        heuristic=True, **kw)
        idx.add_items(pts, ids)
        return idx

    plain = build()
    kept = build(keep_pruned_connections=True)
    ext = build(extend_candidates=True)

    # under-fill evidence + the fill contract: on tight clusters the
    # plain heuristic leaves some layer-0 lists short; keep_pruned
    # restores them to the cap whenever enough candidates existed
    def l0_sizes(idx):
        return [len(v) for v in idx.get_state()["links"][0].values()]

    assert min(l0_sizes(plain)) < 4 <= max(l0_sizes(plain))
    assert sum(l0_sizes(kept)) > sum(l0_sizes(plain))

    # determinism + state round-trip for each variant
    for idx in (kept, ext):
        st = idx.get_state()
        back = HnswIndex.from_state(st)
        assert back.extend_candidates == idx.extend_candidates
        assert back.keep_pruned_connections == idx.keep_pruned_connections
        la, da = idx.knn_query(q, K)
        lb, db = back.knn_query(q, K)
        assert np.array_equal(la, lb) and np.allclose(da, db)
        twin = build(
            extend_candidates=idx.extend_candidates,
            keep_pruned_connections=idx.keep_pruned_connections,
        )
        assert twin.get_state()["links"] == st["links"]

    # every variant still clears the tier recall floor at working ef
    exact = _exact_sets(pts, ids, q)
    for idx in (plain, kept, ext):
        idx.set_ef(64)
        assert _recall(idx.knn_query(q, K)[0], exact) >= 0.9
