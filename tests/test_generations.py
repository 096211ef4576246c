"""The shared index commit protocol (``inside_vectordb_spark/_generations.py``).

- a crash-injection matrix over the generation-committing ops of the
  HNSW and lexical tiers: each op is failed once inside the meta write
  (generation written, not committed) and once inside GC (committed,
  nothing reclaimed). The crashed index must serve exactly the pre-op
  or the post-op answer, never a deleted id, and after the next
  successful commit — the retry of an uncommitted op, the following
  op after a committed one — it must serve and lay out its data dirs
  like a crash-free run of the same sequence. At these sizes the HNSW
  upsert and compaction write on the driver; the upsert also runs
  through both crash points on the executors;
- the same meta-write crash for every write of the tiers that commit
  through a relation map (LSH, PQ, SQ, sign-LSH, det-IVF, km-IVF,
  det-PQ, det-IVFPQ and MRL builds, upserts and compactions): the
  crashed index serves the pre-op answer with no deleted id, and the
  retry matches a crash-free run;
- the tombstone count stays exact when tombstones landed without a
  meta write;
- a TF-IDF norm build after a rebuild never reuses a relation the
  pre-rebuild meta still names;
- a delete after a tombstone-folding compaction survives the next
  commit's GC.
"""

from __future__ import annotations

import os
import re
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import inside_vectordb_spark.io as eio
from inside_vectordb_spark import _generations as gen
from inside_vectordb_spark.operators import ann_index as ai
from inside_vectordb_spark.operators import ann_sign as sg
from inside_vectordb_spark.operators import hnsw_index as hi
from inside_vectordb_spark.operators import ivfpq_det as ivq
from inside_vectordb_spark.operators import lexical_index as lx
from inside_vectordb_spark.operators import mrl
from inside_vectordb_spark.operators import pq_det as pqd
from tests.conftest import SF_DIR

DIM = 16
K = 5
HNSW = dict(dim=DIM, m=8, ef_construction=40, n_parts=2, seed=7)


def _vectors(spark, ids, seed=0):
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((len(ids), DIM)).astype(np.float32)
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": np.asarray(ids, dtype=np.int64), "embedding": list(vecs)})
    )


def _hnsw_answer(spark, path, queries):
    rows = hi.ann_hnsw_topk_indexed(spark, queries, path, k=K, ef_search=64).collect()
    return sorted(tuple(r) for r in rows)


def _data_dirs(path):
    """Relative dirs holding parquet data (husks of reclaimed
    relations, which keep only ``_SUCCESS``, are not data)."""
    out = []
    for root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            out.append(os.path.relpath(root, path))
    return sorted(out)


def _renumbered(dirs):
    """Generation numbers erased: a crashed attempt consumes the names
    it wrote, so its retry commits the next free number."""
    return sorted(re.sub(r"(?<=[a-z_])\d+(?=/|$)", "#", d) for d in dirs)


@pytest.fixture(scope="module", autouse=True)
def _few_shuffle_partitions(spark):
    """The indexes here are tiny: one shuffle partition cuts the task
    overhead of every op the matrix repeats (about a quarter of its
    run time); the commit protocol does not depend on it."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", old)


class _Crash(RuntimeError):
    pass


def _crashing(monkeypatch, point):
    def boom(*a, **kw):
        raise _Crash(point)

    monkeypatch.setattr(gen, {"meta": "write_meta", "gc": "gc"}[point], boom)


# --- HNSW --------------------------------------------------------------


@pytest.fixture(scope="module")
def hnsw_case(spark, tmp_path_factory):
    """A maintained index — base build, one upsert generation, and
    tombstones covering a quarter of partition 0 (so a partial
    compaction at 0.2 rebuilds that shard only) — built once and
    copied per case."""
    root = tmp_path_factory.mktemp("gen_hnsw")
    template = str(root / "template")
    base = _vectors(spark, range(160), seed=1)
    hi.build_hnsw_index(base, template, **HNSW)
    hi.upsert_hnsw_index(spark, _vectors(spark, range(160, 170), seed=2), template)
    parts = {
        int(r["vec_id"]): int(r["p"])
        for r in base.select("vec_id", hi._part_expr("vec_id", 2).alias("p")).collect()
    }
    p0 = [i for i, p in sorted(parts.items()) if p == 0]
    p1 = [i for i, p in sorted(parts.items()) if p == 1]
    deleted = p0[: len(p0) // 4] + p1[:1]
    hi.delete_from_hnsw_index(spark, template, deleted)
    queries = base.filter(F.col("vec_id") % 16 == 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return {
        "root": root,
        "template": template,
        "queries": queries,
        "deleted": set(deleted),
        "pre": _hnsw_answer(spark, template, queries),
        "next_delete": p0[len(p0) // 4 : len(p0) // 4 + 3],
        "crash_free": {},
    }


HNSW_OPS = {
    "upsert": lambda spark, c, path: hi.upsert_hnsw_index(
        spark, _vectors(spark, range(170, 180), seed=3), path
    ),
    "delete": lambda spark, c, path: hi.delete_from_hnsw_index(
        spark, path, c["next_delete"]
    ),
    "compact": lambda spark, c, path: hi.compact_hnsw_index(spark, path),
    "compact_partial": lambda spark, c, path: hi.compact_hnsw_index(
        spark, path, min_dead_fraction=0.2
    ),
}


def _hnsw_next_commit(spark, path):
    hi.upsert_hnsw_index(spark, _vectors(spark, range(180, 185), seed=4), path)


def _crash_free(c, op, run_op, next_commit, answer):
    """Answers and data dirs of the crash-free sequence, after the op
    and after the next commit; one run per op, shared by both points."""
    if op not in c["crash_free"]:
        path = str(c["root"] / f"free_{op}")
        shutil.copytree(c["template"], path)
        run_op(path)
        after_op = (answer(path), _data_dirs(path))
        next_commit(path)
        c["crash_free"][op] = (after_op, (answer(path), _data_dirs(path)))
    return c["crash_free"][op]


def _check_crash(c, op, point, run_op, next_commit, answer, pre, monkeypatch):
    """Crash ``op`` at ``point``, check the crashed index, recover with
    the next successful commit and compare with the crash-free run.
    Returns the crashed answer."""
    (post, dirs_op), (final, dirs_next) = _crash_free(c, op, run_op, next_commit, answer)
    path = str(c["root"] / f"crash_{op}_{point}")
    shutil.copytree(c["template"], path)
    with monkeypatch.context() as mp:
        _crashing(mp, point)
        with pytest.raises(_Crash):
            run_op(path)
    crashed = answer(path)
    if point == "meta":
        assert crashed == pre
        run_op(path)  # the retry is the next successful commit
        assert answer(path) == post
        assert _renumbered(_data_dirs(path)) == _renumbered(dirs_op)
    else:
        assert crashed == post
        next_commit(path)
        assert answer(path) == final
        assert _data_dirs(path) == dirs_next
    return crashed


@pytest.mark.parametrize(
    "op,point",
    [(op, point) for op in HNSW_OPS for point in ("meta", "gc")
     # a delete supersedes nothing, so it has no GC step
     if (op, point) != ("delete", "gc")],
)
def test_hnsw_crash_matrix(spark, hnsw_case, monkeypatch, op, point):
    c = hnsw_case
    crashed = _check_crash(
        c, op, point,
        lambda path: HNSW_OPS[op](spark, c, path),
        lambda path: _hnsw_next_commit(spark, path),
        lambda path: _hnsw_answer(spark, path, c["queries"]),
        c["pre"], monkeypatch,
    )
    assert not {r[1] for r in crashed} & c["deleted"]
    if op == "delete":
        (post, _), _ = c["crash_free"][op]
        assert not {r[1] for r in post} & set(c["next_delete"])


@pytest.mark.parametrize("point", ["meta", "gc"])
def test_hnsw_crash_matrix_executor_upsert(spark, hnsw_case, monkeypatch, point):
    """The matrix above writes on the driver at these sizes; this runs
    the upsert, its retry and the next commit on the executors,
    forced by a zero byte budget, so both placements stay covered."""
    c = hnsw_case

    def on_executors(write):
        def run(path):
            with monkeypatch.context() as mp:
                mp.setattr(hi, "_RESIDENT_MAX_BYTES", 0)
                write(path)

        return run

    crashed = _check_crash(
        c, "upsert_executor", point,
        on_executors(lambda path: HNSW_OPS["upsert"](spark, c, path)),
        on_executors(lambda path: _hnsw_next_commit(spark, path)),
        lambda path: _hnsw_answer(spark, path, c["queries"]),
        c["pre"], monkeypatch,
    )
    assert not {r[1] for r in crashed} & c["deleted"]


def test_delete_recounts_tombstones_written_without_meta(spark, tmp_path):
    """Tombstones that landed without their meta write (a crash between
    append and meta) are counted by the next delete; a short
    ``n_deleted`` would make search, which over-fetches by
    ``k + n_deleted``, return fewer than k live rows."""
    path = str(tmp_path / "hnsw1")
    corpus = _vectors(spark, range(120), seed=5)
    hi.build_hnsw_index(corpus, path, **{**HNSW, "n_parts": 1})
    vecs = {int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float64)
            for r in corpus.collect()}
    q = vecs[0] / np.linalg.norm(vecs[0])
    order = sorted(vecs, key=lambda i: -float(vecs[i] @ q) / np.linalg.norm(vecs[i]))
    nearest, farthest = order[:K], order[-1]
    # tombstones that landed without their meta write
    tomb = os.path.join(path, gen.read_meta(path)["tomb_rel"])
    os.makedirs(tomb)
    pd.DataFrame({"id": np.array(nearest, dtype=np.int64)}).to_parquet(
        os.path.join(tomb, "part-crashed.parquet")
    )
    meta = hi.delete_from_hnsw_index(spark, path, [farthest])
    assert meta["n_deleted"] == K + 1
    queries = corpus.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = hi.ann_hnsw_topk_indexed(spark, queries, path, k=K, ef_search=64).collect()
    assert len(got) == K
    assert not {r["doc_id"] for r in got} & (set(nearest) | {farthest})


def test_delete_after_folding_compaction_survives_next_commit(spark, tmp_path):
    """A folding compaction leaves the default tombstone relation in
    grace; a delete that recreates it must not be reclaimed with it by
    the next commit (the deleted id would be served again)."""
    path = str(tmp_path / "fold")
    corpus = _vectors(spark, range(100), seed=6)
    hi.build_hnsw_index(corpus, path, **HNSW)
    hi.delete_from_hnsw_index(spark, path, [1])
    hi.compact_hnsw_index(spark, path)
    hi.delete_from_hnsw_index(spark, path, [2])
    hi.upsert_hnsw_index(spark, _vectors(spark, range(100, 105), seed=7), path)
    queries = corpus.filter(F.col("vec_id") == 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    served = {r["doc_id"] for r in
              hi.ann_hnsw_topk_indexed(spark, queries, path, k=K).collect()}
    assert 2 not in served and len(served) == K


# --- lexical -----------------------------------------------------------


@pytest.fixture(scope="module")
def lex_case(spark, tmp_path_factory):
    """Lexical index with one upsert delta and built TF-IDF norms."""
    root = tmp_path_factory.mktemp("gen_lex")
    template = str(root / "template")
    rng = np.random.default_rng(8)
    vocab = [f"w{i}" for i in range(40)]
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(80, dtype=np.int64),
        "text": [" ".join(rng.choice(vocab, 6)) for _ in range(80)],
    }))
    chunk = [docs.filter(F.floor(F.col("doc_id") / 20) == i) for i in range(4)]
    queries = spark.createDataFrame(pd.DataFrame({
        "query_id": np.arange(6, dtype=np.int64),
        "qtext": [" ".join(rng.choice(vocab, 3)) for _ in range(6)],
    }))
    lx.build_lexical_index(chunk[0], template)
    lx.upsert_lexical_index(chunk[1], template)
    c = {"root": root, "template": template, "chunks": chunk, "queries": queries,
         "crash_free": {}}
    # the TF-IDF search builds the norms the upsert invalidated
    c["pre_tfidf"] = _lex_answer(spark, c, template, tfidf=True)
    c["pre_bm25"] = _lex_answer(spark, c, template)
    return c


def _lex_answer(spark, c, path, tfidf=False):
    fn = lx.tfidf_topk_indexed if tfidf else lx.bm25_topk_indexed
    return sorted(tuple(r) for r in fn(spark, c["queries"], path, k=K).collect())


LEX_OPS = {
    "upsert": lambda spark, c, path: lx.upsert_lexical_index(c["chunks"][2], path),
    "compact": lambda spark, c, path: lx.compact_lexical_index(spark, path),
    "tfidf_norms": lambda spark, c, path: lx.build_tfidf_norms(spark, path),
}


def _lex_next_commit(spark, c, path):
    lx.upsert_lexical_index(c["chunks"][3], path)


@pytest.mark.parametrize(
    "op,point", [(op, point) for op in LEX_OPS for point in ("meta", "gc")]
)
def test_lexical_crash_matrix(spark, lex_case, monkeypatch, op, point):
    c = lex_case
    # TF-IDF answers for the norm build; BM25 (which never builds
    # norms lazily, so never commits) for the data ops
    tfidf = op == "tfidf_norms"
    _check_crash(
        c, op, point,
        lambda path: LEX_OPS[op](spark, c, path),
        lambda path: _lex_next_commit(spark, c, path),
        lambda path: _lex_answer(spark, c, path, tfidf),
        c["pre_tfidf" if tfidf else "pre_bm25"], monkeypatch,
    )


def test_tfidf_norms_after_rebuild_take_a_fresh_relation(spark, tmp_path):
    """A rebuild's meta carries no norm generation; the next lazy norm
    build must not write into a relation the pre-rebuild meta still
    names (it keeps its one-commit grace for in-flight readers)."""
    path = str(tmp_path / "lex")
    docs = eio.load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    queries = docs.filter(F.col("doc_id") < 4).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("qtext")
    )
    lx.build_lexical_index(docs, path)
    lx.tfidf_topk_indexed(spark, queries, path, k=K).collect()
    before = gen.read_meta(path)
    lx.build_lexical_index(docs.filter(F.col("doc_id") % 5 != 0), path)
    lx.tfidf_topk_indexed(spark, queries, path, k=K).collect()
    after = gen.read_meta(path)
    named_before = set(before["postings_rels"]) | set(before["doclen_rels"]) | {
        before["df_rel"], before["docnorm_rel"]
    }
    assert after["docnorm_rel"] not in named_before


# --- relation-map tiers ------------------------------------------------
#
# Every other persisted tier commits through ``commit_rels``. Each op
# is crashed once inside the meta write: the crashed index must serve
# the pre-op answer, with no deleted id, and the retry must serve and
# lay out its data dirs like a crash-free run. The searches of the
# sign, IVF, det-PQ and det-IVFPQ tiers ensure their index against the
# corpus they are given, so each answer is taken against the corpus
# the index should hold and must commit nothing.

LSH = dict(dim=64, n_tables=4, n_bits=4, seed=42, max_bucket_size=None)


@pytest.fixture(scope="module")
def tier_frames(spark):
    """The sf0.001 corpus (500 vectors) split into a base, an upserted
    delta and the delta each upsert op adds; neither delta holds an id
    the det-IVF or det-PQ centroid rules select."""
    emb = eio.load_table(spark, SF_DIR, "embeddings")
    vid = F.col("vec_id")
    free = (vid % 37 != 1) & (vid % 29 != 1)
    d1, d2 = (vid % 10 == 3) & free, (vid % 10 == 7) & free
    return {
        "queries": eio.query_vectors(spark, SF_DIR),
        "base": emb.filter(~d1 & ~d2),
        "d1": emb.filter(d1),
        "d2": emb.filter(d2),
        "kept": emb.filter(~d2),  # base ∪ d1: what the template holds
        "all": emb,
    }


def _tier_answer(spark, f, tier, path, corpus="kept"):
    search = TIERS[tier]["search"]
    before = gen.read_meta(path)
    rows = search(spark, f, path, f[corpus]).collect()
    assert gen.read_meta(path) == before  # the search committed nothing
    return sorted(tuple(r) for r in rows)


# tier → its template (build, upsert d1), its search and its ops; an op
# maps to (run(spark, f, path), the corpus the index holds after it)
TIERS = {
    "lsh": {
        "setup": lambda spark, f, p: (
            ai.build_lsh_index(f["base"], p, **LSH), ai.upsert_lsh_index(f["d1"], p)
        ),
        "search": lambda spark, f, p, c: ai.ann_lsh_topk_indexed(
            f["queries"], f["all"], p, k=K
        ),
        "ops": {
            "build": (lambda spark, f, p: ai.build_lsh_index(f["all"], p, **LSH), "all"),
            "upsert": (lambda spark, f, p: ai.upsert_lsh_index(f["d2"], p), "all"),
        },
    },
    "pq": {
        "setup": lambda spark, f, p: ai.build_pq_index(f["kept"], p, dim=64),
        "search": lambda spark, f, p, c: ai.ann_pq_topk_indexed(
            f["queries"], f["all"], p, k=K
        ),
        "ops": {
            "rebuild": (lambda spark, f, p: ai.build_pq_index(f["all"], p, dim=64), "all"),
        },
    },
    "sq": {
        "setup": lambda spark, f, p: ai.build_sq_index(f["kept"], p),
        "delete": lambda spark, p, ids: ai.delete_from_sq_index(spark, p, ids),
        "search": lambda spark, f, p, c: ai.ann_sq_topk_indexed(
            f["queries"], f["all"], p, k=K
        ),
        "ops": {
            "rebuild": (lambda spark, f, p: ai.build_sq_index(f["all"], p), "all"),
        },
    },
    "sign": {
        "setup": lambda spark, f, p: (
            sg.ensure_sign_index(spark, f["base"], p),
            sg.upsert_sign_index(spark, f["d1"], p),
        ),
        "delete": lambda spark, p, ids: sg.delete_from_sign_index(spark, p, ids),
        "search": lambda spark, f, p, c: sg.ann_sign_topk_indexed(
            spark, f["queries"], c, p, k=K
        ),
        "ops": {
            "build": (lambda spark, f, p: sg.ensure_sign_index(spark, f["all"], p), "all"),
            "upsert": (lambda spark, f, p: sg.upsert_sign_index(spark, f["d2"], p), "all"),
            "compact": (lambda spark, f, p: sg.compact_sign_index(spark, p), "kept"),
        },
    },
    "ivf_det": {
        "setup": lambda spark, f, p: (
            sg.ensure_ivf_det_index(spark, f["base"], p),
            sg.upsert_ivf_det_index(spark, f["d1"], p),
        ),
        "search": lambda spark, f, p, c: sg.ann_ivf_det_topk_indexed(
            spark, f["queries"], c, p, k=K
        ),
        "ops": {
            "build": (lambda spark, f, p: sg.ensure_ivf_det_index(spark, f["all"], p), "all"),
            "upsert": (lambda spark, f, p: sg.upsert_ivf_det_index(spark, f["d2"], p), "all"),
        },
    },
    "ivf_km": {
        "setup": lambda spark, f, p: (
            sg.ensure_ivf_km_index(spark, f["base"], p),
            sg.upsert_ivf_km_index(spark, f["d1"], p),
        ),
        "search": lambda spark, f, p, c: sg.ann_ivf_km_topk_indexed(
            spark, f["queries"], c, p, k=K
        ),
        "ops": {
            "build": (lambda spark, f, p: sg.ensure_ivf_km_index(spark, f["all"], p), "all"),
            "upsert": (lambda spark, f, p: sg.upsert_ivf_km_index(spark, f["d2"], p), "all"),
        },
    },
    "pq_det": {
        "setup": lambda spark, f, p: (
            pqd.ensure_pq_det_index(spark, f["base"], p),
            pqd.upsert_pq_det_index(spark, f["d1"], p),
        ),
        "delete": lambda spark, p, ids: pqd.delete_from_pq_det_index(spark, p, ids),
        "search": lambda spark, f, p, c: pqd.ann_pq_det_topk_indexed(
            spark, f["queries"], c, p, k=K
        ),
        "ops": {
            "build": (lambda spark, f, p: pqd.ensure_pq_det_index(spark, f["all"], p), "all"),
            "upsert": (lambda spark, f, p: pqd.upsert_pq_det_index(spark, f["d2"], p), "all"),
        },
    },
    "ivfpq_det": {
        "setup": lambda spark, f, p: ivq.ensure_ivfpq_det_index(spark, f["kept"], p),
        "search": lambda spark, f, p, c: ivq.ann_ivfpq_det_topk(
            spark, f["queries"], c, path=p, k=K
        ),
        "ops": {
            "rebuild": (
                lambda spark, f, p: ivq.ensure_ivfpq_det_index(spark, f["all"], p), "all"
            ),
        },
    },
    "mrl": {
        "setup": lambda spark, f, p: (
            mrl.build_mrl_index(f["base"], p), mrl.upsert_mrl_index(f["d1"], p)
        ),
        "search": lambda spark, f, p, c: mrl.ann_mrl_topk_indexed(
            f["queries"], f["all"], p, k=K
        ),
        "ops": {
            "build": (lambda spark, f, p: mrl.build_mrl_index(f["all"], p), "all"),
            "upsert": (lambda spark, f, p: mrl.upsert_mrl_index(f["d2"], p), "all"),
            "compact": (lambda spark, f, p: mrl.compact_mrl_index(spark, p), "kept"),
        },
    },
}


@pytest.fixture(scope="module")
def tier_cases(spark, tier_frames, tmp_path_factory):
    """One maintained template per tier, built on first use; a tier
    with deletes tombstones three ids its template serves."""
    root = tmp_path_factory.mktemp("gen_tiers")
    cases = {}

    def case(tier):
        if tier not in cases:
            t, f = TIERS[tier], tier_frames
            template = str(root / tier / "template")
            t["setup"](spark, f, template)
            deleted = set()
            if "delete" in t:
                served = _tier_answer(spark, f, tier, template)
                deleted = sorted({r[1] for r in served})[:3]
                t["delete"](spark, template, deleted)
            cases[tier] = {
                "root": root / tier,
                "template": template,
                "deleted": set(deleted),
                "pre": _tier_answer(spark, f, tier, template),
            }
        return cases[tier]

    return case


@pytest.mark.parametrize(
    "tier,op", [(tier, op) for tier, t in TIERS.items() for op in t["ops"]]
)
def test_tier_meta_crash_matrix(spark, tier_frames, tier_cases, monkeypatch, tier, op):
    c, f = tier_cases(tier), tier_frames
    run, after = TIERS[tier]["ops"][op]
    free = str(c["root"] / f"free_{op}")
    shutil.copytree(c["template"], free)
    run(spark, f, free)
    post = _tier_answer(spark, f, tier, free, after)
    path = str(c["root"] / f"crash_{op}")
    shutil.copytree(c["template"], path)
    with monkeypatch.context() as mp:
        _crashing(mp, "meta")
        with pytest.raises(_Crash):
            run(spark, f, path)
    crashed = _tier_answer(spark, f, tier, path)
    assert crashed == c["pre"]
    assert not {r[1] for r in crashed} & c["deleted"]
    run(spark, f, path)  # the retry
    assert _tier_answer(spark, f, tier, path, after) == post
    assert _renumbered(_data_dirs(path)) == _renumbered(_data_dirs(free))
