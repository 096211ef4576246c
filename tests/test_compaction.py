"""Index delta compaction (OPTIMIZE) — sign-LSH and lexical tiers.

The contracts the oracle-backed registry rows can't fully pin:
search results hash-identical across the compaction boundary, delta
artifacts physically gone (files per bucket / meta rel lists),
fingerprint lineage UNCHANGED (the search path auto-ensures against
the caller's original corpus — a recomputed fingerprint silently
triggered a full rebuild that resurrected deleted ids; caught while
building the registry query), crash-safety, and idempotence.
"""

from __future__ import annotations

import glob
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

import inside_vectordb_spark.io as eio
from inside_vectordb_spark import _generations as gen
from inside_vectordb_spark import _meta_io as mio
from inside_vectordb_spark.operators.ann_sign import (
    ann_sign_topk_indexed,
    compact_sign_index,
    delete_from_sign_index,
    ensure_sign_index,
    upsert_sign_index,
)
from inside_vectordb_spark.operators.lexical_index import (
    bm25_topk_indexed,
    build_lexical_index,
    compact_lexical_index,
    upsert_lexical_index,
)
from tests.conftest import SF_DIR

DELETED = [5, 7, 11, 23, 42]


def _bucket_file_counts(path: str) -> dict[str, int]:
    out: dict[str, int] = {}
    for rel in gen.read_meta(path)["rels"]["buckets"]:
        for f in glob.glob(os.path.join(path, rel, "**", "*.parquet"), recursive=True):
            d = os.path.basename(os.path.dirname(f))
            out[d] = out.get(d, 0) + 1
    return out


def _sign_chain(spark, art: str, with_deletes: bool = True):
    corpus = eio.load_table(spark, SF_DIR, "embeddings")
    base = corpus.filter(F.col("vec_id") % 4 != 1)
    delta = corpus.filter(F.col("vec_id") % 4 == 1)
    ensure_sign_index(spark, base, art)
    upsert_sign_index(spark, delta, art)
    if with_deletes:
        delete_from_sign_index(spark, art, DELETED)
    return corpus


def _sign_search(spark, art: str, corpus) -> pd.DataFrame:
    return (
        ann_sign_topk_indexed(
            spark, eio.query_vectors(spark, SF_DIR), corpus, art, k=10
        )
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )


def test_sign_compaction_preserves_results(spark, tmp_path):
    art = str(tmp_path / "sign")
    corpus = _sign_chain(spark, art)
    before = _sign_search(spark, art, corpus)
    meta_before = mio.read_json(os.path.join(art, "meta.json"))
    meta = compact_sign_index(spark, art)
    after = _sign_search(spark, art, corpus)
    pd.testing.assert_frame_equal(before, after)
    # deleted ids physically gone, not just masked
    assert not os.path.isdir(os.path.join(art, meta["tomb_rel"]))
    b = gen.read_rel(spark, art, meta, "buckets")
    assert b.filter(F.col("id").isin(DELETED)).count() == 0
    # one file per bucket partition
    counts = _bucket_file_counts(art)
    assert counts and max(counts.values()) == 1
    # fingerprint lineage UNCHANGED (the search path auto-ensures
    # against the full corpus — a shrunk fingerprint would rebuild)
    assert meta["corpus"] == meta_before["corpus"]
    assert meta["compacted"] is True
    assert "n_deleted" not in meta
    assert meta["n_compacted_away"] == len(DELETED)


def test_sign_compaction_upsert_fragments_coalesced(spark, tmp_path):
    art = str(tmp_path / "sign_frag")
    corpus = _sign_chain(spark, art, with_deletes=False)
    # upsert appended extra files into at least one bucket partition
    assert max(_bucket_file_counts(art).values()) > 1
    before = _sign_search(spark, art, corpus)
    compact_sign_index(spark, art)
    assert max(_bucket_file_counts(art).values()) == 1
    pd.testing.assert_frame_equal(before, _sign_search(spark, art, corpus))


def test_sign_compaction_idempotent(spark, tmp_path):
    art = str(tmp_path / "sign_idem")
    corpus = _sign_chain(spark, art)
    compact_sign_index(spark, art)
    r1 = _sign_search(spark, art, corpus)
    compact_sign_index(spark, art)  # nothing left to fold
    pd.testing.assert_frame_equal(r1, _sign_search(spark, art, corpus))


def test_sign_compaction_crash_mid_swap_recovers(spark, tmp_path):
    art = str(tmp_path / "sign_crash")
    corpus = _sign_chain(spark, art)
    # simulate a crash between the marker removal and the meta
    # recommit: no completeness marker + an orphan generation
    orphan = os.path.join(art, gen.build_rels(art, "buckets")["rels"]["buckets"][0])
    os.makedirs(orphan)
    mio.remove_file(os.path.join(art, "meta.json"))
    with pytest.raises(FileNotFoundError):
        compact_sign_index(spark, art)
    # ensure over the full corpus rebuilds a clean index; compaction
    # then clears the orphan and succeeds
    ensure_sign_index(spark, corpus, art)
    delete_from_sign_index(spark, art, DELETED)
    compact_sign_index(spark, art)
    assert not os.path.isdir(orphan)
    b = gen.read_rel(spark, art, gen.read_meta(art), "buckets")
    assert b.filter(F.col("id").isin(DELETED)).count() == 0


def test_sign_compaction_refuses_emptying(spark, tmp_path):
    art = str(tmp_path / "sign_empty")
    corpus = eio.load_table(spark, SF_DIR, "embeddings")
    small = corpus.filter(F.col("vec_id") < 3)
    ensure_sign_index(spark, small, art)
    delete_from_sign_index(spark, art, [0, 1, 2])
    with pytest.raises(ValueError, match="EMPTY"):
        compact_sign_index(spark, art)
    # the refusal left the index fully servable (marker intact,
    # tombstones still masking)
    res = ann_sign_topk_indexed(
        spark,
        eio.query_vectors(spark, SF_DIR).limit(2),
        small,
        art,
        k=3,
    )
    assert res.count() == 0  # everything tombstoned, nothing served


def _lex_queries(docs):
    toks = F.slice(F.split(F.trim(F.lower(F.col("text"))), r"\s+"), 1, 5)
    return docs.filter(F.col("doc_id") < 6).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", toks).alias("qtext"),
    )


def test_lexical_compaction_preserves_results(spark, tmp_path):
    art = str(tmp_path / "lex")
    docs = eio.load_table(spark, SF_DIR, "documents")
    build_lexical_index(docs.filter(F.col("doc_id") % 5 != 2), art)
    upsert_lexical_index(docs.filter(F.col("doc_id") % 5 == 2), art)
    meta = mio.read_json(os.path.join(art, "meta.json"))
    assert len(meta["postings_rels"]) == 2 and len(meta["doclen_rels"]) == 2
    q = _lex_queries(docs)
    before = (
        bm25_topk_indexed(spark, q, art, k=10)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    meta2 = compact_lexical_index(spark, art)
    assert len(meta2["postings_rels"]) == 1 and len(meta2["doclen_rels"]) == 1
    # corpus stats and dictionary untouched — compaction moves bytes
    for k in ("n_docs", "avgdl", "dl_sum", "dl_n", "df_rel", "corpus"):
        assert meta2[k] == meta[k], k
    after = (
        bm25_topk_indexed(spark, q, art, k=10)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(before, after)
    # one-commit GRACE: the superseded delta dirs survive THIS commit…
    for rel in meta["postings_rels"] + meta["doclen_rels"]:
        assert os.path.isdir(os.path.join(art, rel)), rel
    # …and are GC'd by the NEXT commit (a fresh-id upsert)
    more = docs.limit(1).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    upsert_lexical_index(more, art)
    for rel in meta["postings_rels"] + meta["doclen_rels"]:
        assert not os.path.isdir(os.path.join(art, rel)), rel


def test_lexical_compaction_noop_when_single_generation(spark, tmp_path):
    art = str(tmp_path / "lex_noop")
    docs = eio.load_table(spark, SF_DIR, "documents")
    build_lexical_index(docs, art)
    meta = mio.read_json(os.path.join(art, "meta.json"))
    assert compact_lexical_index(spark, art) == meta


def test_compact_index_facade_routes_by_kind(spark, tmp_path):
    from inside_vectordb_spark.operators.maintenance import compact_index

    # sign tier routes
    art = str(tmp_path / "facade_sign")
    corpus = _sign_chain(spark, art)
    before = _sign_search(spark, art, corpus)
    meta = compact_index(spark, art)
    assert meta["compacted"] is True
    pd.testing.assert_frame_equal(before, _sign_search(spark, art, corpus))

    # unknown path fails loudly
    with pytest.raises(FileNotFoundError):
        compact_index(spark, str(tmp_path / "nowhere"))

    # a tier without delta compaction says so
    from inside_vectordb_spark.operators.mrl import build_mrl_sq_index

    art2 = str(tmp_path / "facade_mrlsq")
    build_mrl_sq_index(
        eio.load_table(spark, SF_DIR, "embeddings"), art2, prefix_dim=32
    )
    with pytest.raises(NotImplementedError, match="partition-aligned"):
        compact_index(spark, art2)
