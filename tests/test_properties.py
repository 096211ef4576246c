"""Property-based tests (hypothesis): the IR metrics against an
independent pure-Python re-implementation of the REFERENCE semantics
(``utils.py:15-110``) on randomized inputs — catches semantic drift
the fixed-fixture parity tests can't (skip rule, zero-fill,
retrieved-denominator, grade-agnostic relevance).

Plus the salted-join equivalence property: salting must never change
join results, only the plan.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from inside_vectordb_spark.operators.metrics import mrr, precision_at_k, recall_at_k
from inside_vectordb_spark.operators.skew import salted_equi_join

# ranked results: per query a permutation-free list of doc ids
results_strategy = st.dictionaries(
    st.integers(0, 5),  # query_id
    st.lists(st.integers(0, 30), min_size=1, max_size=12, unique=True),
    min_size=1,
    max_size=5,
)
qrels_strategy = st.dictionaries(
    st.integers(0, 5),
    st.dictionaries(st.integers(0, 30), st.integers(0, 2), min_size=0, max_size=8),
    min_size=0,
    max_size=6,
)


def _ref_recall(results, qrels, k):
    """utils.py:15-46: skip queries with zero relevant; grade-agnostic."""
    vals = []
    for qid, ranked in results.items():
        relevant = set(qrels.get(qid, {}))
        if not relevant:
            continue
        vals.append(len(set(ranked[:k]) & relevant) / len(relevant))
    return sum(vals) / len(vals) if vals else 0.0


def _ref_precision(results, qrels, k):
    """utils.py:49-82: denominator = |retrieved@k|; empty retrieval → 0."""
    vals = []
    for qid, ranked in results.items():
        retrieved = ranked[:k]
        relevant = set(qrels.get(qid, {}))
        vals.append(
            len(set(retrieved) & relevant) / len(retrieved) if retrieved else 0.0
        )
    return sum(vals) / len(vals) if vals else 0.0


def _ref_mrr(results, qrels):
    """utils.py:85-110: 1/first-relevant-rank, 0 when none."""
    vals = []
    for qid, ranked in results.items():
        relevant = set(qrels.get(qid, {}))
        rr = 0.0
        for pos, did in enumerate(ranked, start=1):
            if did in relevant:
                rr = 1.0 / pos
                break
        vals.append(rr)
    return sum(vals) / len(vals)


def _to_dfs(spark, results, qrels):
    topk_rows = [
        (qid, did, float(len(ranked) - i), i + 1)
        for qid, ranked in results.items()
        for i, did in enumerate(ranked)
    ]
    qrel_rows = [
        (qid, did, rel)
        for qid, docs in qrels.items()
        for did, rel in docs.items()
    ]
    topk = spark.createDataFrame(
        topk_rows, "query_id long, doc_id long, score double, rank int"
    )
    qr = spark.createDataFrame(
        qrel_rows or [(-(10**6), -(10**6), 0)],
        "query_id long, doc_id long, relevance int",
    )
    if not qrel_rows:
        qr = qr.filter("query_id >= 0")
    return topk, qr


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(results=results_strategy, qrels=qrels_strategy)
def test_metrics_match_reference_semantics(spark, results, qrels):
    topk, qr = _to_dfs(spark, results, qrels)
    k = 5
    got_r = {r["k"]: r["recall"] for r in recall_at_k(topk, qr, (k,), round_to=None).collect()}
    got_p = {r["k"]: r["precision"] for r in precision_at_k(topk, qr, (k,), round_to=None).collect()}
    got_m = mrr(topk, qr, round_to=None).collect()[0]["mrr"]
    assert math.isclose(got_r.get(k, 0.0), _ref_recall(results, qrels, k), abs_tol=1e-9)
    assert math.isclose(got_p[k], _ref_precision(results, qrels, k), abs_tol=1e-9)
    assert math.isclose(got_m, _ref_mrr(results, qrels), abs_tol=1e-9)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    keys=st.lists(st.integers(0, 3), min_size=1, max_size=40),
    dim=st.dictionaries(st.integers(0, 3), st.text("abc", min_size=1, max_size=3), min_size=1, max_size=4),
)
def test_salted_join_equals_plain_join(spark, keys, dim):
    skewed = spark.createDataFrame(
        pd.DataFrame({"k": keys, "row_id": range(len(keys))}).astype({"k": "int64"})
    )
    small = spark.createDataFrame(
        pd.DataFrame({"k": list(dim), "v": list(dim.values())}).astype({"k": "int64"})
    )
    plain = {(r["row_id"], r["v"]) for r in skewed.join(small, "k").collect()}
    salted = {
        (r["row_id"], r["v"])
        for r in salted_equi_join(skewed, small, key="k", row_col="row_id", n_salts=4).collect()
    }
    assert salted == plain


def test_metric_recall_skip_rule_explicit(spark):
    """A query with NO qrels entries must be skipped from recall but
    counted (as zero) in precision and MRR — the exact reference
    asymmetry."""
    results = {1: [10, 11], 2: [20]}
    qrels = {1: {10: 2}}  # query 2 unjudged
    topk, qr = _to_dfs(spark, results, qrels)
    r = recall_at_k(topk, qr, (2,), round_to=None).collect()[0]["recall"]
    p = precision_at_k(topk, qr, (2,), round_to=None).collect()[0]["precision"]
    m = mrr(topk, qr, round_to=None).collect()[0]["mrr"]
    assert r == pytest.approx(1.0)      # only query 1 counts
    assert p == pytest.approx(0.25)     # (1/2 + 0/1) / 2
    assert m == pytest.approx(0.5)      # (1.0 + 0.0) / 2


# ---------------------------------------------------------------------------
# as-of join: Spark union+window formulation vs pandas merge_asof
# ---------------------------------------------------------------------------

_asof_events = st.lists(
    st.tuples(
        st.integers(0, 3),                 # key
        st.integers(0, 1_000),             # ts (seconds, may collide across keys)
        st.integers(-100, 100),            # value
    ),
    min_size=0,
    max_size=25,
)


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(left=_asof_events, right=_asof_events)
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    """On random inputs (unique (key, ts) per side — the operator's
    documented precondition), the union+window as-of join must equal
    ``pd.merge_asof(direction="backward")`` per key."""
    import datetime as dt

    from inside_vectordb_spark.operators.temporal import asof_join

    def dedupe(rows):
        seen = {}
        for k, t, v in rows:
            seen[(k, t)] = v
        return [
            (k, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=t), v)
            for (k, t), v in sorted(seen.items())
        ]

    lrows, rrows = dedupe(left), dedupe(right)
    if not lrows:
        return
    ldf = spark.createDataFrame(lrows, "k int, ts timestamp, lv int")
    rdf = spark.createDataFrame(
        rrows or [(99, dt.datetime(2024, 1, 1), 0)], "k int, ts timestamp, rv int"
    )
    got = {
        (r["k"], r["ts"]): (r["asof_ts"], r["asof_rv"])
        for r in asof_join(ldf, rdf, "k", "ts", ["rv"]).collect()
    }

    lpd = pd.DataFrame(lrows, columns=["k", "ts", "lv"]).sort_values("ts")
    rpd = pd.DataFrame(
        rrows or [(99, pd.Timestamp("2024-01-01"), 0)], columns=["k", "ts", "rv"]
    ).sort_values("ts")
    merged = pd.merge_asof(
        lpd, rpd, on="ts", by="k", direction="backward", suffixes=("", "_r")
    )
    assert len(got) == len(lpd)
    for _, row in merged.iterrows():
        g_ts, g_rv = got[(row["k"], row["ts"].to_pydatetime())]
        if pd.isna(row["rv"]):
            assert g_rv is None, (row["k"], row["ts"], g_rv)
        else:
            assert g_rv == int(row["rv"]), (row["k"], row["ts"], g_rv, row["rv"])


# ---------------------------------------------------------------------------
# span_dedup: Spark formulation vs a direct pure-Python reference
# ---------------------------------------------------------------------------

_span_corpus = st.lists(
    st.lists(st.sampled_from("abcde"), min_size=0, max_size=15).map(" ".join),
    min_size=1,
    max_size=8,
)


def _ref_span_dedup(texts: list[str], width: int):
    """First-occurrence keep per span value over (doc order, pos order),
    docs rebuilt from surviving spans."""
    seen: set[str] = set()
    out = {}
    for doc_id, text in enumerate(texts):
        toks = text.split()
        chunks = [
            " ".join(toks[i : i + width]) for i in range(0, len(toks), width)
        ]
        kept = []
        for ch in chunks:
            if ch not in seen:
                seen.add(ch)
                kept.append(ch)
        if chunks:
            out[doc_id] = (len(chunks), len(kept), " ".join(kept))
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=_span_corpus)
def test_span_dedup_matches_reference(spark, texts):
    from inside_vectordb_spark.operators.traindata import span_dedup

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["text_clean"])
        for r in span_dedup(df, width=3).collect()
    }
    assert got == _ref_span_dedup(texts, 3)


# ---------------------------------------------------------------------------
# BPE batched-merge exactness (pure-Python property; no Spark needed)
# ---------------------------------------------------------------------------

_bpe_words = st.dictionaries(
    st.text(alphabet="abcd", min_size=2, max_size=6),
    st.integers(min_value=1, max_value=9),
    min_size=1,
    max_size=8,
)


def _pair_counts(syms: dict, freqs: dict) -> dict:
    counts: dict = {}
    for w, f in freqs.items():
        s = syms[w]
        for a_, b_ in zip(s, s[1:]):
            counts[(a_, b_)] = counts.get((a_, b_), 0) + f
    return counts


def _apply_merge(syms: dict, l: str, r: str) -> dict:
    out = {}
    for w, s in syms.items():
        res, i = [], 0
        while i < len(s):
            if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                res.append(l + r)
                i += 2
            else:
                res.append(s[i])
                i += 1
        out[w] = res
    return out


@given(freqs=_bpe_words)
@settings(max_examples=200, deadline=None)
def test_exact_merge_batch_prefix_matches_sequential(freqs):
    """The batch selector's claim, property-tested: on ANY corpus, the
    selected batch equals the first len(batch) picks of 1-at-a-time
    sequential BPE, in order — i.e. batching is exact, never
    approximate."""
    from inside_vectordb_spark.operators.traindata import _exact_merge_batch

    syms = {w: list(w) for w in freqs}
    counts = _pair_counts(syms, freqs)
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    top = [
        {"left_sym": l, "right_sym": r, "cnt": c} for (l, r), c in ranked[:9]
    ]
    batch = _exact_merge_batch(top, 8)
    # sequential reference for the same number of steps
    seq = []
    cur = syms
    for _ in range(len(batch)):
        c = _pair_counts(cur, freqs)
        if not c:
            break
        (l, r), cnt = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break
        seq.append((l, r, cnt))
        cur = _apply_merge(cur, l, r)
    assert batch == seq


def _batched_learn_py(freqs, n_merges, batch_size):
    """Pure-Python mirror of ``bpe_learn``'s driver loop: top-(want+1)
    ranked pairs → ``_exact_merge_batch`` → apply the whole batch →
    repeat."""
    from inside_vectordb_spark.operators.traindata import _exact_merge_batch

    syms = {w: list(w) for w in freqs}
    rules = []
    while len(rules) < n_merges:
        want = min(batch_size, n_merges - len(rules))
        c = _pair_counts(syms, freqs)
        ranked = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[: want + 1]
        top = [
            {"left_sym": l, "right_sym": r, "cnt": n} for (l, r), n in ranked
        ]
        if not top or top[0]["cnt"] < 2:
            break
        batch = _exact_merge_batch(top, want)
        if not batch:
            break
        for l, r, _ in batch:
            syms = _apply_merge(syms, l, r)
        rules.extend(batch)
    return rules


def _sequential_learn_py(freqs, n_merges):
    syms = {w: list(w) for w in freqs}
    rules = []
    while len(rules) < n_merges:
        c = _pair_counts(syms, freqs)
        if not c:
            break
        (l, r), cnt = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break
        rules.append((l, r, cnt))
        syms = _apply_merge(syms, l, r)
    return rules


@given(freqs=_bpe_words, batch_size=st.integers(min_value=2, max_value=6))
@settings(max_examples=300, deadline=None)
def test_multi_round_batched_learning_matches_sequential(freqs, batch_size):
    """The round-4 advisory's ask: batched-vs-sequential equality over
    FULL multi-round learning, not just the first batch from character
    state. Later rounds start from merged-symbol states where a pick's
    concatenation can equal an existing symbol string (the
    symbol-collision case) — this property run covers those states
    for every corpus hypothesis generates."""
    n_merges = 12
    assert _batched_learn_py(freqs, n_merges, batch_size) == \
        _sequential_learn_py(freqs, n_merges)


# ---------------------------------------------------------------------------
# global_row_ranks / ntile_expr: the distributed prefix-rank must equal
# the single-window SQL semantics on any input
# ---------------------------------------------------------------------------


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.integers(-50, 50), min_size=1, max_size=60
    ),
    n=st.integers(1, 7),
)
def test_global_row_ranks_and_ntile_match_window_twin(spark, vals, n):
    """The distributed prefix-rank (range buckets + per-bucket windows
    + broadcast offsets) must produce EXACTLY the ranks and ntile
    buckets of the naive single-partition window, for any value
    multiset (heavy ties included) and any bucket count."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from inside_vectordb_spark.operators.ranks import (
        global_row_ranks,
        ntile_expr,
    )

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "id long, v double"
    )
    ranked, total = global_row_ranks(df, "v", "id", n_parts=4)
    got = {
        r["id"]: (r["__rank"], b)
        for r, b in (
            (row, row["__b"])
            for row in ranked.withColumn(
                "__b", ntile_expr("__rank", total, n).cast("int")
            ).collect()
        )
    }
    w = Window.partitionBy(F.substring(F.col("id").cast("string"), 0, 0)).orderBy(
        "v", "id"
    )
    want = {
        r["id"]: (r["rank"], r["nt"] - 1)
        for r in df.select(
            "id",
            F.row_number().over(w).alias("rank"),
            F.ntile(n).over(w).alias("nt"),
        ).collect()
    }
    assert total == len(vals)
    assert got == want


def test_global_row_ranks_null_keys_rank_first(spark):
    """Review r7: a NULL key must land in bucket 0 (ASC NULLS FIRST,
    Spark's window default) instead of producing a NULL bucket id
    that crashed the driver-side offset accumulation."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from inside_vectordb_spark.operators.ranks import global_row_ranks

    df = spark.createDataFrame(
        [(0, None), (1, 5.0), (2, 1.0), (3, None), (4, 3.0)],
        "id long, v double",
    )
    ranked, total = global_row_ranks(df, "v", "id", n_parts=3)
    got = {r["id"]: r["__rank"] for r in ranked.collect()}
    w = Window.partitionBy(F.substring(F.col("id").cast("string"), 0, 0)).orderBy(
        "v", "id"
    )
    want = {
        r["id"]: r["rank"]
        for r in df.select("id", F.row_number().over(w).alias("rank")).collect()
    }
    assert total == 5 and got == want


# ---------------------------------------------------------------------------
# word_ngram_stream must be semantically identical to the naive
# explode(word_shingles(...)) it replaces for performance
# ---------------------------------------------------------------------------


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from(list("ab c\td\n")), min_size=0, max_size=40
        ),
        min_size=1,
        max_size=8,
    ),
    n=st.integers(1, 4),
)
def test_word_ngram_stream_matches_naive_explode(spark, texts, n):
    """For any documents (whitespace runs, empties, short docs) and
    any gram width: the hoisted stream yields exactly the naive
    exploded word_shingles multiset, and with_count's n_grams equals
    the shingle-set size."""
    from pyspark.sql import functions as F

    from inside_vectordb_spark.functions.text import (
        word_ngram_stream,
        word_shingles,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    naive = sorted(
        (r["doc_id"], r["gram"])
        for r in docs.select(
            "doc_id", F.explode(word_shingles("text", n)).alias("gram")
        ).collect()
    )
    got_rows = word_ngram_stream(
        docs, "doc_id", "text", n, with_count=True
    ).collect()
    got = sorted((r["doc_id"], r["gram"]) for r in got_rows)
    assert got == naive
    sizes = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", F.size(word_shingles("text", n)).alias("n")
        ).collect()
    }
    assert all(r["n_grams"] == sizes[r["doc_id"]] for r in got_rows)


def _ref_ndcg(results, qrels, k):
    """Independent pure-Python nDCG@k (Järvelin-Kekäläinen gains,
    A5 skip rule: judged-and-searched queries only)."""
    import math as _m

    vals = []
    for qid, ranked in results.items():
        graded = qrels.get(qid, {})
        if not graded:
            continue  # skip rule
        dcg = sum(
            (2.0 ** graded[did] - 1.0) / _m.log2(pos + 1.0)
            for pos, did in enumerate(ranked[:k], start=1)
            if did in graded
        )
        ideal = sorted(graded.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        idcg = sum(
            (2.0 ** rel - 1.0) / _m.log2(pos + 1.0)
            for pos, (_, rel) in enumerate(ideal, start=1)
        )
        if idcg > 0:
            vals.append(dcg / idcg)
    return sum(vals) / len(vals) if vals else None


def test_ndcg_dedups_duplicate_judgments(spark):
    """Review r7: duplicate (query, doc) judgment rows must not
    double-count in DCG or occupy two ideal positions; grade
    conflicts resolve to MAX."""
    from inside_vectordb_spark.operators.metrics import ndcg_at_k

    topk = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id long, doc_id long, rank int"
    )
    dup = spark.createDataFrame(
        [(1, 10, 3), (1, 10, 3), (1, 10, 1), (1, 11, 1)],
        "query_id long, doc_id long, relevance int",
    )
    uniq = spark.createDataFrame(
        [(1, 10, 3), (1, 11, 1)],
        "query_id long, doc_id long, relevance int",
    )
    got_dup = {r["k"]: r["ndcg"] for r in ndcg_at_k(topk, dup, (5,)).collect()}
    got_uniq = {r["k"]: r["ndcg"] for r in ndcg_at_k(topk, uniq, (5,)).collect()}
    assert got_dup == got_uniq
    assert got_uniq[5] == 1.0  # ideal ordering retrieved → exactly 1


def test_recall_zero_fills_when_no_query_judged(spark):
    """Review r7: the reference returns 0.0 when the skip rule removes
    every query — the DataFrame twin must emit (k, 0.0) rows, not an
    empty frame that downstream reports misread as 'no metric'. nDCG
    follows the same skip rule and zero-fills the same way."""
    from inside_vectordb_spark.operators.metrics import ndcg_at_k, recall_at_k

    topk = spark.createDataFrame(
        [(1, 10, 1)], "query_id long, doc_id long, rank int"
    )
    qrels = spark.createDataFrame(
        [(99, 10, 1)], "query_id long, doc_id long, relevance int"
    )
    rows = recall_at_k(topk, qrels, (1, 5)).collect()
    assert [(r["k"], r["recall"]) for r in rows] == [(1, 0.0), (5, 0.0)]
    rows = ndcg_at_k(topk, qrels, (1, 5)).collect()
    assert [(r["k"], r["ndcg"]) for r in rows] == [(1, 0.0), (5, 0.0)]


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(results=results_strategy, qrels=qrels_strategy)
def test_ndcg_matches_reference_semantics(spark, results, qrels):
    from inside_vectordb_spark.operators.metrics import ndcg_at_k

    # grade-0 judgments contribute zero gain on both sides; a query
    # whose judgments are ALL grade-0 has idcg == 0 and is skipped by
    # both (Spark: 0/0 -> null -> dropped by avg; Python: idcg > 0);
    # when every query is skipped nDCG zero-fills to 0.0
    topk, qr = _to_dfs(spark, results, qrels)
    k = 5
    got = {r["k"]: r["ndcg"] for r in ndcg_at_k(topk, qr, (k,), round_to=None).collect()}
    want = _ref_ndcg(results, qrels, k)
    if want is None:
        assert got[k] == 0.0
    else:
        assert math.isclose(got[k], want, abs_tol=1e-9)


# ---------------------------------------------------------------------------
# tokenize must agree with its DuckDB twin on ARBITRARY text
# (review r9-6: the canonical-tokenizer contract, generalized past the
# fixed dirty-text list)
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from(list("ab1. \t\n\f\r\x0b\xa0é")),
            min_size=0,
            max_size=30,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_tokenize_matches_duckdb_twin_on_any_text(spark, texts):
    """For any mix of token chars, ASCII whitespace, vertical tab,
    NBSP, and non-ASCII letters: tokenize() == tokenize_sql() token
    for token, and token_count() == the list length."""
    import duckdb as _duck

    from inside_vectordb_spark.functions.text import (
        token_count,
        tokenize,
        tokenize_sql,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    got = {
        r["id"]: (r["toks"], r["n"])
        for r in df.select(
            "id", tokenize("text").alias("toks"), token_count("text").alias("n")
        ).collect()
    }
    con = _duck.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, ?)" for i in range(len(texts)))
        + ") v(id, text)",
        texts,
    )
    want = {
        r[0]: (r[1], len(r[1]))
        for r in con.execute(
            f"SELECT id, {tokenize_sql('text')} FROM t ORDER BY id"
        ).fetchall()
    }
    assert got == want


@given(
    vec=st.lists(
        st.floats(
            min_value=-10.0, max_value=10.0,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=2, max_size=64,
    ).filter(lambda v: sum(x * x for x in v) > 1e-6)
)
@settings(max_examples=200, deadline=None)
def test_planted_twin_scaling_keeps_cosine_near_one(vec):
    """The r12 near-dup recall envelope plants twins by scaling
    alternate dims ±2%; this pins the geometric guarantee the
    envelope's production-threshold (0.8) verify stage relies on:
    cos(v, twin) ≥ 0.999 for ANY non-degenerate vector, because the
    scaling matrix S = diag(1±0.02) perturbs direction by at most its
    spectral spread. No corpus assumption — the planted ground truth
    can never fall below the verify threshold."""
    import numpy as np

    v = np.asarray(vec, dtype=np.float64)
    s = np.where(np.arange(len(v)) % 2 == 0, 1.02, 0.98)
    t = v * s
    cos = float(v @ t / (np.linalg.norm(v) * np.linalg.norm(t)))
    assert cos >= 0.999
