"""IR evaluation metrics as DataFrame aggregations (SURVEY.md §2.4 A5-A7).

Exact reference semantics preserved (``notebooks/utils.py``):

- Relevance is **membership** in qrels, regardless of grade — even
  grade 0 counts (``002-brute_force_similarity.py:311-314``; P5).
- Recall@K (``utils.py:15-46``): per query |top-K ∩ relevant| /
  |relevant|; queries with zero relevant docs are SKIPPED from the
  mean; 0.0 if no query qualifies.
- Precision@K (``utils.py:49-82``): per query |top-K ∩ relevant| /
  |retrieved@K| (NOT /K — the denominator is what was actually
  retrieved, capped at K); empty retrieval → 0.0; mean over ALL
  searched queries, 0.0 when nothing was searched.
- MRR (``utils.py:85-110``): 1/rank of first relevant, 0.0 when no
  relevant doc retrieved; mean over ALL searched queries, 0.0 when
  nothing was searched.

Like the reference's one loop per query, every metric reads ONE
aggregate (``_per_query`` then ``_means``):

1. the result rows LEFT-join the broadcast distinct (query_id, doc_id)
   qrels pairs;
2. one ``groupBy(query_id)`` emits, for every requested K, the
   conditional counts ``ret_K`` = #(rank ≤ K) and ``hit_K`` =
   #(rank ≤ K ∧ relevant), plus ``first_rank`` = min(rank | relevant)
   — no K-dimension cross join — and, when recall is asked for, each
   searched query picks up its broadcast ``n_relevant``;
3. one global aggregate averages the per-query ratios into
   ``recall_K``, ``precision_K`` and ``mrr`` (one row even over an
   empty result frame, so every metric zero-fills).

``recall_at_k``, ``precision_at_k`` and ``mrr`` are views that read
their own columns of that row (the optimizer prunes the rest);
``evaluation_report`` reads all of them from the same pass;
``registry/compare.py`` runs the same aggregate grouped by method.
``ndcg_at_k`` carries the max grade per pair through the same join
and sums per-K DCG the same conditional way.

No UDFs, no collect. The qrels side is small (judgments) → broadcast;
the ranked-results side is k·Q rows. At 100 TB corpus scale these
inputs are tiny (metrics run on search OUTPUT, not the corpus), so
this never becomes a bottleneck.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

K_VALUES_RECALL = (1, 5, 10, 20, 50, 100)
K_VALUES_PRECISION = (1, 5, 10)


def _dcg_term(rank_col: str):
    """(2^relevance − 1) / log2(rank + 1), Järvelin & Kekäläinen gain."""
    gain = F.pow(F.lit(2.0), F.col("relevance").cast("double")) - F.lit(1.0)
    return gain / F.log2(F.col(rank_col) + F.lit(1.0))


def _per_query(
    topk: DataFrame,
    qrels: DataFrame,
    ks: tuple[int, ...],
    by: tuple[str, ...] = (),
    graded: bool = False,
) -> DataFrame:
    """One row per searched (``by``, query_id): ``ret_K``, ``hit_K``
    and ``first_rank``. qrels are deduped on (query_id, doc_id) because
    relevance grade is ignored (P5); ``graded`` callers pass one row
    per pair with its ``relevance`` and also get the per-K DCG sum
    ``dcg_K``."""
    rel = (
        qrels.select("query_id", "doc_id", *(["relevance"] if graded else []))
        .distinct()
        .withColumn("__rel", F.lit(True))
    )
    rank, hit = F.col("rank"), F.col("__rel").isNotNull()
    cols = [F.min(F.when(hit, rank)).alias("first_rank")]
    for k in ks:
        cols += [
            F.count(F.when(rank <= k, 1)).alias(f"ret_{k}"),
            F.count(F.when(hit & (rank <= k), 1)).alias(f"hit_{k}"),
        ]
        if graded:
            cols.append(
                F.sum(F.when(hit & (rank <= k), _dcg_term("rank")))
                .alias(f"dcg_{k}")
            )
    return (
        topk.join(F.broadcast(rel), ["query_id", "doc_id"], "left")
        .groupBy(*by, "query_id")
        .agg(*cols)
    )


def _means(
    topk: DataFrame,
    qrels: DataFrame,
    recall_ks: tuple[int, ...] = (),
    precision_ks: tuple[int, ...] = (),
    by: tuple[str, ...] = (),
) -> DataFrame:
    """Unrounded ``recall_K``, ``precision_K`` and ``mrr`` per ``by``
    group — one row overall when ``by`` is empty, even when ``topk``
    is. avg() skips the null ratio of an unjudged query, which IS the
    recall skip rule; an empty mean is 0.0."""
    pq = _per_query(topk, qrels, tuple(sorted(set(recall_ks) | set(precision_ks))), by)
    if recall_ks:
        n_rel = qrels.groupBy("query_id").agg(F.countDistinct("doc_id").alias("n_relevant"))
        pq = pq.join(F.broadcast(n_rel), "query_id", "left")

    def mean(x):
        return F.coalesce(F.avg(x), F.lit(0.0))

    def precision(k):
        hit, ret = F.col(f"hit_{k}"), F.col(f"ret_{k}")
        return F.when(ret > 0, hit / ret).otherwise(0.0)

    return pq.groupBy(*by).agg(
        *[
            mean(F.col(f"hit_{k}") / F.col("n_relevant")).alias(f"recall_{k}")
            for k in recall_ks
        ],
        *[mean(precision(k)).alias(f"precision_{k}") for k in precision_ks],
        mean(F.coalesce(F.lit(1.0) / F.col("first_rank"), F.lit(0.0))).alias("mrr"),
    )


def _long(
    means: DataFrame, keys: list[tuple[str, int | None]], round_to: int | None
) -> DataFrame:
    """(metric STRING, k INT, value DOUBLE) rows in ``keys`` order —
    (metric, k) pairs naming the ``<metric>_<k>`` column (``<metric>``
    when k is None) of a one-row aggregate."""

    def row(metric: str, k: int | None):
        v = F.col(metric if k is None else f"{metric}_{k}")
        return F.struct(
            F.lit(metric).alias("metric"),
            F.lit(k).cast("int").alias("k"),
            (v if round_to is None else F.round(v, round_to)).alias("value"),
        )

    return means.select(F.inline(F.array(*[row(m, k) for m, k in keys])))


def _view(means: DataFrame, name: str, ks: tuple[int, ...], round_to: int | None) -> DataFrame:
    """(k INT, <name> DOUBLE), one row per K, ordered by k."""
    return (
        _long(means, [(name, k) for k in ks], round_to)
        .select("k", F.col("value").alias(name))
        .orderBy("k")
    )


def recall_at_k(
    topk: DataFrame,
    qrels: DataFrame,
    k_values: tuple[int, ...] = K_VALUES_RECALL,
    round_to: int | None = 6,
) -> DataFrame:
    """Returns (k INT, recall DOUBLE), one row per K, ordered by k —
    ALWAYS one row per K: when no searched query has judgments (the
    skip rule removes everyone) recall is 0.0, the reference's
    documented fallback (``utils.py:15-46``), not an empty frame."""
    return _view(_means(topk, qrels, recall_ks=k_values), "recall", k_values, round_to)


def precision_at_k(
    topk: DataFrame,
    qrels: DataFrame,
    k_values: tuple[int, ...] = K_VALUES_PRECISION,
    round_to: int | None = 6,
) -> DataFrame:
    """Returns (k INT, precision DOUBLE), one row per K. Denominator is
    |retrieved@K| = count of result rows with rank ≤ K (``utils.py:74-79``)."""
    return _view(
        _means(topk, qrels, precision_ks=k_values), "precision", k_values, round_to
    )


def mrr(
    topk: DataFrame, qrels: DataFrame, round_to: int | None = 6
) -> DataFrame:
    """Returns a single row (mrr DOUBLE). 1/first-relevant-rank per
    query, zero-filled for queries with no relevant retrieval."""
    out = _means(topk, qrels).select("mrr")
    if round_to is not None:
        out = out.withColumn("mrr", F.round("mrr", round_to))
    return out


def evaluation_report(
    topk: DataFrame,
    qrels: DataFrame,
    k_values_recall: tuple[int, ...] = K_VALUES_RECALL,
    k_values_precision: tuple[int, ...] = K_VALUES_PRECISION,
) -> DataFrame:
    """Long-form metric report: (metric STRING, k INT, value DOUBLE) —
    the relational shape of the reference's nested report JSON
    (``utils.py:113-135``). Recall rows, then precision rows, then the
    MRR row, all from one aggregate row."""
    keys = [("recall", k) for k in k_values_recall]
    keys += [("precision", k) for k in k_values_precision]
    means = _means(topk, qrels, k_values_recall, k_values_precision)
    return _long(means, keys + [("mrr", None)], 6)


K_VALUES_NDCG = (5, 10, 100)


def ndcg_at_k(
    topk: DataFrame,
    qrels: DataFrame,
    k_values: tuple[int, ...] = K_VALUES_NDCG,
    round_to: int | None = 6,
) -> DataFrame:
    """nDCG@K over the GRADED judgments — the metric the reference's
    qrels carry grades for but its utils never compute (beyond-
    reference member; BEIR's headline metric, Järvelin & Kekäläinen
    gains): per query DCG@K = Σ (2^rel − 1)/log2(rank+1) over judged
    hits, normalized by the ideal DCG of that query's own judgment
    set, mean over searched-and-judged queries (the A5 skip rule);
    0.0 when no query qualifies, like Recall@K.

    DCG comes from the same per-query aggregate as the A5-A7 chain
    (per-K conditional sums over the graded hits join); the ideal DCG
    is per-K conditional sums over the judgment ranking. Returns
    (k INT, ndcg DOUBLE) ordered by k.

    Like the A5-A7 chain (P5), qrels are deduped on (query_id, doc_id)
    first — duplicate judgment rows (merged/updated qrels files)
    would otherwise double-count in BOTH the DCG join and the ideal
    ranking. Grade conflicts resolve to MAX (a doc's strongest
    judgment wins); the oracle restates the same rule."""
    qrels = qrels.groupBy("query_id", "doc_id").agg(
        F.max("relevance").alias("relevance")
    )
    iw = Window.partitionBy("query_id").orderBy(
        F.desc("relevance"), F.asc("doc_id")
    )
    ideal = (
        qrels.withColumn("__ir", F.row_number().over(iw))
        .groupBy("query_id")
        .agg(*[
            F.sum(F.when(F.col("__ir") <= k, _dcg_term("__ir"))).alias(f"idcg_{k}")
            for k in k_values
        ])
    )
    # searched AND judged; all-grade-0 judgment sets have idcg == 0
    # and are skipped, explicitly — ANSI mode (Spark 4 default) makes
    # 0/0 an error, not a null. An empty mean is 0.0, as in _means.
    per_q = _per_query(topk, qrels, k_values, graded=True).join(F.broadcast(ideal), "query_id")
    means = per_q.agg(*[
        F.coalesce(
            F.avg(
                F.when(
                    F.col(f"idcg_{k}") > 0,
                    F.coalesce(F.col(f"dcg_{k}"), F.lit(0.0)) / F.col(f"idcg_{k}"),
                )
            ),
            F.lit(0.0),
        ).alias(f"ndcg_{k}")
        for k in k_values
    ])
    return _view(means, "ndcg", k_values, round_to)
