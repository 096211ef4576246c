"""The one per-query aggregate behind Recall/Precision/MRR
(``operators/metrics.py``): the long-form report equals its three
views and the pure-Python reference restatements on edge cases, an
empty result frame zero-fills every metric, and the report plans as
one pass over the result relation."""

from __future__ import annotations

import math

import pytest

from inside_vectordb_spark.operators.metrics import (
    K_VALUES_PRECISION,
    K_VALUES_RECALL,
    evaluation_report,
    mrr,
    precision_at_k,
    recall_at_k,
)
from inside_vectordb_spark.plans import assert_not_in_plan, count_nodes
from tests.test_properties import _ref_mrr, _ref_precision, _ref_recall

RESULTS = "query_id long, doc_id long, score double, rank int"
QRELS = "query_id long, doc_id long, relevance int"

# 5 is in both lists, 1 and 50 only in recall's, 2 only in
# precision's; 50 is past every result list below
K_RECALL, K_PRECISION = (1, 5, 50), (2, 5)

CASES = {
    "mixed": (
        {1: [10, 11, 12], 2: [20, 21], 3: [30], 4: [40, 41, 42, 43]},
        [
            (1, 11, 0),  # a grade-0 judgment is still relevant
            (1, 12, 2), (1, 12, 2), (1, 12, 1),  # duplicate rows, one pair
            (1, 99, 1),  # relevant but never retrieved
            (2, 21, 1),
            (4, 43, 0),
            (7, 70, 1),  # judged but never searched
        ],  # query 3 is searched but unjudged
    ),
    "unjudged_only": ({5: [50, 51], 6: [60]}, [(9, 90, 1)]),
}


def _frames(spark, results, qrel_rows):
    topk = spark.createDataFrame(
        [
            (q, d, float(-i), i + 1)
            for q, ranked in results.items()
            for i, d in enumerate(ranked)
        ],
        RESULTS,
    )
    return topk, spark.createDataFrame(qrel_rows, QRELS)


def _report(df) -> dict:
    return {(r["metric"], r["k"]): r["value"] for r in df.collect()}


@pytest.mark.parametrize("case", sorted(CASES))
def test_report_equals_views_and_reference(spark, case):
    results, qrel_rows = CASES[case]
    topk, qr = _frames(spark, results, qrel_rows)
    report = _report(evaluation_report(topk, qr, K_RECALL, K_PRECISION))
    views = {("recall", r["k"]): r["recall"] for r in recall_at_k(topk, qr, K_RECALL).collect()}
    views.update(
        {("precision", r["k"]): r["precision"]
         for r in precision_at_k(topk, qr, K_PRECISION).collect()}
    )
    views[("mrr", None)] = mrr(topk, qr).collect()[0]["mrr"]
    assert report == views

    qrels: dict = {}
    for q, d, g in qrel_rows:
        qrels.setdefault(q, {})[d] = g
    want = {("recall", k): _ref_recall(results, qrels, k) for k in K_RECALL}
    want.update({("precision", k): _ref_precision(results, qrels, k) for k in K_PRECISION})
    want[("mrr", None)] = _ref_mrr(results, qrels)
    assert set(report) == set(want)
    for key, v in want.items():
        assert math.isclose(report[key], v, abs_tol=1e-6), (key, report[key], v)


def test_empty_results_zero_fill_every_metric(spark):
    """An empty result frame gives 0.0 for every (metric, K) — the
    same fallback recall already had — not missing precision rows or
    a NULL MRR."""
    topk, qr = _frames(spark, {}, [(1, 10, 1)])
    want = {("recall", k): 0.0 for k in K_VALUES_RECALL}
    want.update({("precision", k): 0.0 for k in K_VALUES_PRECISION})
    want[("mrr", None)] = 0.0
    assert _report(evaluation_report(topk, qr)) == want
    assert [tuple(r) for r in precision_at_k(topk, qr).collect()] == [
        (k, 0.0) for k in K_VALUES_PRECISION
    ]
    assert [r["mrr"] for r in mrr(topk, qr).collect()] == [0.0]


def _plan_inputs(spark, path):
    """40 queries × 20 ranked rows written as parquet (so the result
    relation shows up as one file scan) and a local qrels frame."""
    spark.createDataFrame(
        [(q, (q * 7 + r) % 300, float(-r), r) for q in range(40) for r in range(1, 21)],
        RESULTS,
    ).write.mode("overwrite").parquet(path)
    qrels = spark.createDataFrame(
        [(q, (q * 7 + r) % 300, r % 3) for q in range(0, 40, 2) for r in (1, 4, 25)],
        QRELS,
    )
    return spark.read.parquet(path), qrels


# Spark jobs the three-subplan report (recall, precision and MRR each
# re-joining qrels over a cross-joined K dimension) ran on
# ``_plan_inputs`` in this test session's configuration (50 stages;
# the one-pass report runs 8 jobs, 15 stages)
_SUBPLAN_CHAIN_JOBS = 28


def test_report_is_one_pass(spark, tmp_path):
    topk, qr = _plan_inputs(spark, str(tmp_path / "results"))
    df = evaluation_report(topk, qr)
    assert_not_in_plan(df, "CartesianProduct")
    assert_not_in_plan(df, "BroadcastNestedLoopJoin")
    assert count_nodes(df, "FileSourceScanExec") == 1

    sc = spark.sparkContext
    group = "evaluation-report-one-pass"
    try:
        sc.setJobGroup(group, group)
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == len(K_VALUES_RECALL) + len(K_VALUES_PRECISION) + 1
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= _SUBPLAN_CHAIN_JOBS // 2
