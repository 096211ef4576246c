"""S9/S10 persisted-index tests: stored-index search must equal the
in-memory build exactly, rebuilds must be skipped when the artifact
is complete and params match, and IVF probing must prune unprobed
inverted-list partitions at the parquet scan.
"""

from __future__ import annotations

import os

import pytest

from inside_vectordb_spark import _generations as gen
from inside_vectordb_spark import io as eio
from inside_vectordb_spark.operators.ann import ann_lsh_topk
from inside_vectordb_spark.operators.ann_index import (
    ann_lsh_topk_indexed,
    ensure_lsh_index,
)
from tests.conftest import SF_DIR

EMB_DIM = 64
LSH = dict(dim=EMB_DIM, n_tables=16, n_bits=4, seed=42, max_bucket_size=2000)


def _rows(df):
    return sorted(
        (r["query_id"], r["doc_id"], r["score"], r["rank"]) for r in df.collect()
    )


@pytest.fixture(scope="module")
def corpus(spark):
    return eio.load_table(spark, SF_DIR, "embeddings")


@pytest.fixture(scope="module")
def queries(spark):
    return eio.query_vectors(spark, SF_DIR)


def test_lsh_indexed_matches_inmemory(spark, corpus, queries, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("lsh_idx"))
    ensure_lsh_index(corpus, path, **LSH)
    fresh = ann_lsh_topk(
        queries, corpus, dim=EMB_DIM, k=10, n_tables=16, n_bits=4, seed=42
    )
    stored = ann_lsh_topk_indexed(queries, corpus, path, k=10)
    assert _rows(stored) == _rows(fresh)


def test_ensure_skips_rebuild_when_complete(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("lsh_cache"))
    ensure_lsh_index(corpus, path, **LSH)
    meta = os.path.join(path, "meta.json")
    mtime = os.path.getmtime(meta)
    ensure_lsh_index(corpus, path, **LSH)  # cache hit: no rewrite
    assert os.path.getmtime(meta) == mtime
    # param change ⇒ rebuild
    ensure_lsh_index(corpus, path, **{**LSH, "n_tables": 2})
    assert os.path.getmtime(meta) > mtime


def test_incomplete_index_rejected(spark, corpus, queries, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("broken"))
    os.makedirs(os.path.join(path, "buckets"), exist_ok=True)  # no meta.json
    with pytest.raises(FileNotFoundError, match="no complete LSH index"):
        ann_lsh_topk_indexed(queries, corpus, path, k=10)


def test_lsh_upsert_equals_full_build(spark, corpus, queries, tmp_path_factory):
    """Uncapped LSH: build(80%) + upsert(20%) must produce exactly
    the bucket table of build(100%) — hyperplanes derive from the
    stored seed, so incremental and batch construction coincide —
    and stored-index search over the maintained index must equal the
    in-memory search over the full corpus."""
    from pyspark.sql import functions as F

    from inside_vectordb_spark.operators.ann_index import (
        build_lsh_index,
        upsert_lsh_index,
    )

    params = dict(dim=EMB_DIM, n_tables=4, n_bits=4, seed=42, max_bucket_size=None)
    base = corpus.filter(F.col("vec_id") % 5 != 0)
    delta = corpus.filter(F.col("vec_id") % 5 == 0)

    inc_path = str(tmp_path_factory.mktemp("lsh_inc"))
    build_lsh_index(base, inc_path, **params)
    upsert_lsh_index(delta, inc_path)
    full_path = str(tmp_path_factory.mktemp("lsh_full"))
    build_lsh_index(corpus, full_path, **params)

    def rows(p):
        return sorted(
            (r["id"], r["table_idx"], r["bucket"])
            for r in gen.read_rel(spark, p, gen.read_meta(p), "buckets").collect()
        )

    assert rows(inc_path) == rows(full_path)
    stored = ann_lsh_topk_indexed(queries, corpus, inc_path, k=10)
    fresh = ann_lsh_topk(
        queries, corpus, dim=EMB_DIM, k=10, n_tables=4, n_bits=4, seed=42,
        max_bucket_size=None,
    )
    assert _rows(stored) == _rows(fresh)


def test_lsh_upsert_respects_bucket_cap(spark, corpus, tmp_path_factory):
    """Capped LSH upsert: existing occupancy counts against the cap —
    no (table, bucket) group may exceed it after the delta lands, and
    pre-existing rows are never evicted."""
    from pyspark.sql import functions as F

    from inside_vectordb_spark.operators.ann_index import (
        build_lsh_index,
        upsert_lsh_index,
    )

    cap = 3
    params = dict(dim=EMB_DIM, n_tables=2, n_bits=2, seed=42, max_bucket_size=cap)
    base = corpus.filter(F.col("vec_id") % 5 != 0)
    delta = corpus.filter(F.col("vec_id") % 5 == 0)
    path = str(tmp_path_factory.mktemp("lsh_cap"))
    build_lsh_index(base, path, **params)
    before = set(
        (r["id"], r["table_idx"], r["bucket"])
        for r in gen.read_rel(spark, path, gen.read_meta(path), "buckets").collect()
    )
    upsert_lsh_index(delta, path)
    after_df = gen.read_rel(spark, path, gen.read_meta(path), "buckets")
    worst = (
        after_df.groupBy("table_idx", "bucket")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert worst <= cap
    after = set(
        (r["id"], r["table_idx"], r["bucket"]) for r in after_df.collect()
    )
    assert before <= after


def test_ensure_rebuilds_on_corpus_change(spark, corpus, tmp_path_factory):
    import time

    path = str(tmp_path_factory.mktemp("lsh_corpus_fp"))
    ensure_lsh_index(corpus, path, **LSH)
    meta = os.path.join(path, "meta.json")
    mtime = os.path.getmtime(meta)
    # same params, same corpus: cache hit
    ensure_lsh_index(corpus, path, **LSH)
    assert os.path.getmtime(meta) == mtime
    # same params, DIFFERENT corpus at the same path: must rebuild
    time.sleep(0.01)
    smaller = corpus.filter("vec_id % 2 = 0")
    ensure_lsh_index(smaller, path, **LSH)
    assert os.path.getmtime(meta) > mtime


def test_ivf_km_indexed_matches_inmemory(spark, corpus, queries, tmp_path_factory):
    """Trained-quantizer IVF: stored-index serve must equal the
    in-memory train+search bit-for-bit (deterministic k-means)."""
    from inside_vectordb_spark.operators.ann_sign import (
        ann_ivf_km_topk,
        ann_ivf_km_topk_indexed,
    )

    path = str(tmp_path_factory.mktemp("ivfkm") / "idx")
    mem = ann_ivf_km_topk(spark, queries, corpus, k=10, n_probe=4)
    idx = ann_ivf_km_topk_indexed(spark, queries, corpus, path, k=10, n_probe=4)
    assert _rows(mem) == _rows(idx)


def test_ivf_km_upsert_assigns_against_stored_centroids(
    spark, corpus, queries, tmp_path_factory
):
    """FAISS train/add split, pinned against an INDEPENDENT numpy
    expectation (the earlier twin-artifact form built both sides with
    the same pipeline, so it could never fail): every delta row's
    stored cid must equal the cosine argmax against the centroids AS
    SERIALIZED IN THE ARTIFACT — if upsert ever retrained instead of
    reading the frozen quantizer, the tamper step below would expose
    it, because the on-disk centroids are mutated after training."""
    import numpy as np
    from pyspark.sql import functions as F

    from inside_vectordb_spark.operators.ann_sign import (
        ensure_ivf_km_index,
        upsert_ivf_km_index,
    )

    base = corpus.filter((F.col("vec_id") % 37) != 5)
    delta = corpus.filter((F.col("vec_id") % 37) == 5)
    path = str(tmp_path_factory.mktemp("ivfkm_up") / "idx")
    ensure_ivf_km_index(spark, base, path)
    # tamper: replace the trained centroids with 4 KNOWN delta vectors
    # (cids 0..3) — a retraining upsert would ignore this table
    planted = delta.orderBy("vec_id").limit(4).collect()
    cents_dir = gen.rel_dir(path, gen.read_meta(path), "cents")
    spark.createDataFrame(
        [(i, list(r["embedding"])) for i, r in enumerate(planted)],
        "cid int, __cv array<float>",
    ).coalesce(1).write.mode("overwrite").parquet(cents_dir)
    upsert_ivf_km_index(spark, delta, path)
    lists = {
        r["doc_id"]: r["cid"]
        for r in gen.read_rel(spark, path, gen.read_meta(path), "lists").collect()
        if r["doc_id"] % 37 == 5  # the delta rows this upsert appended
    }
    cents = np.array([r["embedding"] for r in planted], dtype=np.float64)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    for r in delta.collect():
        v = np.asarray(r["embedding"], dtype=np.float64)
        v /= np.linalg.norm(v)
        cos = np.round(cents @ v, 6)  # operator rounds before argmax
        best = int(np.flatnonzero(cos == cos.max()).min())  # tie -> min cid
        assert lists[r["vec_id"]] == best, r["vec_id"]
    # each planted centroid is its own nearest: cids 0..3 all hit
    assert {lists[r["vec_id"]] for r in planted} == {0, 1, 2, 3}


def test_ivf_km_upsert_rejects_duplicate_ids(spark, corpus, tmp_path_factory):
    """Append-only contract: re-adding an existing id must fail
    loudly (a duplicate list entry would serve the same doc twice in
    a top-k)."""
    from pyspark.sql import functions as F

    from inside_vectordb_spark.operators.ann_sign import (
        ensure_ivf_km_index,
        upsert_ivf_km_index,
    )

    base = corpus.filter((F.col("vec_id") % 37) != 5)
    delta = corpus.filter((F.col("vec_id") % 37) == 5)
    path = str(tmp_path_factory.mktemp("ivfkm_dup") / "idx")
    ensure_ivf_km_index(spark, base, path)
    upsert_ivf_km_index(spark, delta, path)
    with pytest.raises(ValueError, match="already in the index"):
        upsert_ivf_km_index(spark, delta, path)


def test_ivf_km_upsert_requires_complete_index(spark, corpus, tmp_path_factory):
    from inside_vectordb_spark.operators.ann_sign import upsert_ivf_km_index

    path = str(tmp_path_factory.mktemp("ivfkm_bad") / "missing")
    with pytest.raises(FileNotFoundError):
        upsert_ivf_km_index(spark, corpus.limit(5), path)


def test_ivf_km_ensure_skips_retrain_when_complete(spark, corpus, tmp_path_factory):
    """A matching artifact must short-circuit: training is the
    expensive step, and a serve path that silently retrains per query
    defeats the index (checked via the meta file's mtime)."""
    from inside_vectordb_spark.operators.ann_sign import ensure_ivf_km_index

    path = str(tmp_path_factory.mktemp("ivfkm_skip") / "idx")
    ensure_ivf_km_index(spark, corpus, path)
    meta = os.path.join(path, "meta.json")
    t0 = os.path.getmtime(meta)
    ensure_ivf_km_index(spark, corpus, path)
    assert os.path.getmtime(meta) == t0


def test_ivf_km_probe_prunes_partitions(spark, corpus, tmp_path_factory):
    """The km-IVF serve path's lists scan must prune unprobed cid
    partitions at the parquet level (the filter arrives as a
    PartitionFilter, not a post-scan predicate)."""
    from inside_vectordb_spark.operators.ann_sign import ensure_ivf_km_index

    path = str(tmp_path_factory.mktemp("ivfkm_prune") / "idx")
    ensure_ivf_km_index(spark, corpus, path)
    scan = gen.read_rel(spark, path, gen.read_meta(path), "lists").filter(
        "cid IN (0, 2)"
    )
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cid" in plan.split("PartitionFilters")[1][:200]


def test_mrl_indexed_matches_inmemory_and_skips_rebuild(
    spark, corpus, queries, tmp_path_factory
):
    """Persisted prefix table answers exactly like the in-memory
    funnel; a second ensure() on the same corpus reuses the artifact
    (mtime-stable), and the narrow stage-1 scan reads the prefixes
    parquet, not the full-width corpus."""
    import os

    from inside_vectordb_spark.operators.mrl import (
        ann_mrl_topk,
        ann_mrl_topk_indexed,
        ensure_mrl_index,
    )

    path = str(tmp_path_factory.mktemp("mrl_idx"))
    ensure_mrl_index(corpus, path)
    fresh = ann_mrl_topk(queries, corpus, k=10)
    stored = ann_mrl_topk_indexed(queries, corpus, path, k=10)
    assert _rows(stored) == _rows(fresh)
    meta_path = os.path.join(path, "meta.json")
    before = os.path.getmtime(meta_path)
    ensure_mrl_index(corpus, path)
    assert os.path.getmtime(meta_path) == before


def test_mrl_ensure_validates_resolved_default_width(
    spark, corpus, tmp_path_factory
):
    """Review r7: ensure() relying on the MRL_PREFIX_DIM default must
    NOT silently accept an artifact built at another width — defaults
    are resolved before the meta compare, so a 16-wide build is
    rebuilt at 32 when the caller asked for the default funnel."""
    from inside_vectordb_spark.operators.mrl import (
        MRL_PREFIX_DIM,
        build_mrl_index,
        ensure_mrl_index,
    )

    path = str(tmp_path_factory.mktemp("mrl_w"))
    build_mrl_index(corpus, path, prefix_dim=16)
    meta = ensure_mrl_index(corpus, path)  # default width requested
    assert meta["prefix_dim"] == MRL_PREFIX_DIM
    # and the resolved-width ensure now caches (no rebuild loop)
    import os

    before = os.path.getmtime(os.path.join(path, "meta.json"))
    ensure_mrl_index(corpus, path)
    assert os.path.getmtime(os.path.join(path, "meta.json")) == before


def test_brp_zero_vector_scores_zero(spark):
    """Review r7: a zero vector (l2_normalize pass-through) sits at
    Euclidean distance 1 from every unit vector — the 1 − d²/2
    recovery gave it a phantom cosine of 0.5; the repo-wide
    convention is 0.0."""
    from inside_vectordb_spark.operators.ann_mllib import ann_brp_topk

    rows = [(0, [0.0] * 8)] + [
        (i, [float(i == j + 1) for j in range(8)]) for i in range(1, 6)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter("vec_id = 1").selectExpr("vec_id AS query_id", "embedding")
    got = {
        r["doc_id"]: r["score"]
        for r in ann_brp_topk(q, df, k=6, num_tables=4, bucket_length=4.0).collect()
    }
    if 0 in got:  # the zero vector, when retrieved, scores 0.0 not 0.5
        assert got[0] == 0.0
    assert got[1] == 1.0  # self-match intact


def test_mrl_upsert_equals_full_build(spark, corpus, queries, tmp_path_factory):
    """build(base) + upsert(delta) answers byte-identically to
    build(base ∪ delta): prefix extraction has no trained state, so
    the O(delta) append can never drift from a rebuild. A later
    ensure() over the full corpus must also recognize the upserted
    artifact as current (merged fingerprint)."""
    import os

    from pyspark.sql import functions as F

    from inside_vectordb_spark.operators.mrl import (
        ann_mrl_topk_indexed,
        build_mrl_index,
        ensure_mrl_index,
        upsert_mrl_index,
    )

    base = corpus.filter((F.col("vec_id") % 37) != 5)
    delta = corpus.filter((F.col("vec_id") % 37) == 5)
    p_up = str(tmp_path_factory.mktemp("mrl_up"))
    p_full = str(tmp_path_factory.mktemp("mrl_full"))
    build_mrl_index(base, p_up)
    upsert_mrl_index(delta, p_up)
    build_mrl_index(corpus, p_full)
    got = ann_mrl_topk_indexed(queries, corpus, p_up, k=10)
    want = ann_mrl_topk_indexed(queries, corpus, p_full, k=10)
    assert _rows(got) == _rows(want)
    meta_path = os.path.join(p_up, "meta.json")
    before = os.path.getmtime(meta_path)
    ensure_mrl_index(corpus, p_up)
    assert os.path.getmtime(meta_path) == before
