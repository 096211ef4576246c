"""Core registry: exact vector search + IR metrics (SURVEY.md §2 —
J5/T1/T2/F5/F6/O6/O11, A5-A7, P3/P5, J1-J4, SET3-SET4).

Oracle strategy: the whole search→metrics chain is re-stated as one
DuckDB CTE pipeline per query, sharing fragments below. Both engines
compute in DOUBLE with identical tie-breaks, rounded to 6 decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inside_vectordb_spark import io as eio
from inside_vectordb_spark.io import QRELS_SQL
from inside_vectordb_spark.operators import metrics as m
from inside_vectordb_spark.operators.topk import (
    exact_cosine_topk,
    exact_cosine_topk_gemm,
    ranked_result_lists,
)
from inside_vectordb_spark.registry import register

SEARCH_K = 100  # retrieval depth for the metric chain (reference: top-100)

# ---- shared DuckDB fragments -------------------------------------------

# Zero-norm guard mirrors the Spark side's l2_normalize convention
# (functions/vector.py: a zero vector normalizes to zero → cosine 0);
# without it DuckDB's 0/0 would sort ahead of every real score under
# ORDER BY score DESC and shift all ranks (review r9 — latent on the
# fixtures, enforced here so the two engines can never disagree).
_Q_SQ = "list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))"
_C_SQ = "list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))"
_COS = (
    f"(CASE WHEN {_Q_SQ} = 0 OR {_C_SQ} = 0 THEN 0.0 ELSE "
    "list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))"
    f" / (sqrt({_Q_SQ}) * sqrt({_C_SQ})) END)"
)


def topk_ctes(k: int) -> str:
    """CTE chain qv→scored→ranked→topk shared by every oracle that
    consumes ranked search results."""
    return f"""
    qv AS (SELECT vec_id AS query_id, embedding FROM embeddings
           WHERE vec_id < {eio.N_QUERY_VECTORS}),
    scored AS (
      SELECT q.query_id, c.vec_id AS doc_id, {_COS} AS score
      FROM qv q CROSS JOIN embeddings c
    ),
    ranked AS (
      SELECT query_id, doc_id, score,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id ASC) AS INT) AS rank
      FROM scored
    ),
    topk AS (SELECT query_id, doc_id, round(score, 6) AS score, rank
             FROM ranked WHERE rank <= {k})
    """


_METRIC_BASE = f"""
    {topk_ctes(SEARCH_K)},
    qrels AS ({QRELS_SQL}),
    rel AS (SELECT DISTINCT query_id, doc_id FROM qrels),
    searched AS (SELECT DISTINCT query_id FROM topk),
    hits AS (SELECT t.query_id, t.rank FROM topk t JOIN rel USING (query_id, doc_id))
"""


# ---- queries -------------------------------------------------------------


@register(
    "flagship_topk",
    oracle=f"""
    WITH {topk_ctes(10)}
    SELECT query_id, doc_id, score, rank FROM topk
    """,
)
def flagship_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/T1: exact cosine top-10, declarative DataFrame path."""
    return exact_cosine_topk(
        eio.query_vectors(spark, sf_dir),
        eio.load_table(spark, sf_dir, "embeddings"),
        k=10,
    )


@register(
    "topk_gemm",
    oracle=f"""
    WITH {topk_ctes(10)}
    SELECT query_id, doc_id, score, rank FROM topk
    """,
)
def topk_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O11: the GEMM-batched scale path must agree with the oracle
    bit-for-bit at 6 decimals (same math, different physical plan)."""
    return exact_cosine_topk_gemm(
        eio.query_vectors(spark, sf_dir),
        eio.load_table(spark, sf_dir, "embeddings"),
        k=10,
    )


@register(
    "ann_hnsw_partitioned",
    oracle=f"""
    WITH {topk_ctes(10)}
    SELECT query_id, doc_id, score, rank FROM topk
    """,
)
def ann_hnsw_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/T3 scatter-gather architecture (SURVEY §7 Phase 5b): a local
    index per corpus partition + global merge. ``kernel='exact'`` is
    PINNED because this registration carries the brute-force oracle:
    'auto' would silently flip to approximate HNSW results (and a red
    gate) the day an hnswlib wheel appears in the container (review
    r7). The graph kernels are exercised by ``ann_hnsw_vendored``
    (rows-only, quality via the retention tests)."""
    from inside_vectordb_spark.operators.partitioned_ann import (
        ann_hnsw_partitioned_topk,
    )

    return ann_hnsw_partitioned_topk(
        eio.query_vectors(spark, sf_dir),
        eio.load_table(spark, sf_dir, "embeddings"),
        k=10,
        kernel="exact",
    )


@register(
    "ranked_lists",
    oracle=f"""
    WITH {topk_ctes(10)}
    SELECT query_id,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rank) AS doc_ids
    FROM topk GROUP BY query_id
    """,
)
def ranked_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: per-query ordered result list (serialized for hashing)."""
    lists = ranked_result_lists(
        exact_cosine_topk(
            eio.query_vectors(spark, sf_dir),
            eio.load_table(spark, sf_dir, "embeddings"),
            k=10,
        )
    )
    return lists.select(
        "query_id",
        F.concat_ws(",", F.transform("doc_ids", lambda d: d.cast("string"))).alias(
            "doc_ids"
        ),
    )


def _topk_for_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_cosine_topk(
        eio.query_vectors(spark, sf_dir),
        eio.load_table(spark, sf_dir, "embeddings"),
        k=SEARCH_K,
    )


@register(
    "recall_at_k",
    oracle=f"""
    WITH {_METRIC_BASE},
    nrel AS (SELECT query_id, count(*) AS n_relevant FROM rel GROUP BY query_id),
    base AS (SELECT s.query_id, n.n_relevant FROM searched s JOIN nrel n USING (query_id)),
    ks AS (SELECT CAST(unnest([1,5,10,20,50,100]) AS INT) AS k),
    hitc AS (SELECT h.query_id, ks.k, count(*) AS n_hits
             FROM hits h CROSS JOIN ks WHERE h.rank <= ks.k GROUP BY 1, 2),
    perq AS (SELECT ks.k,
                    COALESCE(hc.n_hits, 0) * 1.0 / b.n_relevant AS r
             FROM base b CROSS JOIN ks
             LEFT JOIN hitc hc ON hc.query_id = b.query_id AND hc.k = ks.k),
    agg AS (SELECT k, avg(r) AS recall FROM perq GROUP BY k)
    SELECT ks.k, round(COALESCE(a.recall, 0.0), 6) AS recall
    FROM ks LEFT JOIN agg a USING (k) ORDER BY ks.k
    """,
)
def recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: Recall@K with the reference's skip-zero-relevant rule."""
    return m.recall_at_k(_topk_for_metrics(spark, sf_dir), eio.qrels(spark, sf_dir))


@register(
    "precision_at_k",
    oracle=f"""
    WITH {_METRIC_BASE},
    ks AS (SELECT CAST(unnest([1,5,10]) AS INT) AS k),
    retr AS (SELECT t.query_id, ks.k, count(*) AS n_retrieved
             FROM topk t CROSS JOIN ks WHERE t.rank <= ks.k GROUP BY 1, 2),
    hitc AS (SELECT h.query_id, ks.k, count(*) AS n_hits
             FROM hits h CROSS JOIN ks WHERE h.rank <= ks.k GROUP BY 1, 2),
    perq AS (SELECT ks.k,
                    CASE WHEN COALESCE(r.n_retrieved, 0) = 0 THEN 0.0
                         ELSE COALESCE(hc.n_hits, 0) * 1.0 / r.n_retrieved END AS p
             FROM searched s CROSS JOIN ks
             LEFT JOIN retr r ON r.query_id = s.query_id AND r.k = ks.k
             LEFT JOIN hitc hc ON hc.query_id = s.query_id AND hc.k = ks.k)
    SELECT k, round(avg(p), 6) AS precision FROM perq GROUP BY k ORDER BY k
    """,
)
def precision_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: Precision@K, denominator = |retrieved@K| (utils.py:74-79)."""
    return m.precision_at_k(_topk_for_metrics(spark, sf_dir), eio.qrels(spark, sf_dir))


@register(
    "mrr",
    oracle=f"""
    WITH {_METRIC_BASE},
    firsth AS (SELECT query_id, min(rank) AS fr FROM hits GROUP BY query_id)
    SELECT round(avg(COALESCE(1.0 / f.fr, 0.0)), 6) AS mrr
    FROM searched s LEFT JOIN firsth f USING (query_id)
    """,
)
def mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: MRR with zero-fill for queries with no relevant retrieval."""
    return m.mrr(_topk_for_metrics(spark, sf_dir), eio.qrels(spark, sf_dir))


@register(
    "ndcg_at_k",
    oracle=f"""
    WITH {_METRIC_BASE},
    ks AS (SELECT CAST(unnest([5,10,100]) AS INT) AS k),
    qrd AS (SELECT query_id, doc_id, max(relevance) AS relevance
            FROM qrels GROUP BY 1, 2),
    dcg AS (
      SELECT t.query_id, ks.k,
             sum((pow(2.0, qr.relevance) - 1.0) / log2(t.rank + 1.0)) AS dcg
      FROM topk t JOIN qrd qr USING (query_id, doc_id)
      CROSS JOIN ks WHERE t.rank <= ks.k GROUP BY 1, 2),
    ideal AS (
      SELECT query_id, ks.k,
             sum((pow(2.0, relevance) - 1.0) / log2(ir + 1.0)) AS idcg
      FROM (SELECT query_id, relevance,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY relevance DESC, doc_id) AS ir
            FROM qrd) CROSS JOIN ks
      WHERE ir <= ks.k GROUP BY 1, 2),
    perq AS (
      SELECT i.k, COALESCE(d.dcg, 0.0) / i.idcg AS nd
      FROM searched s
      JOIN ideal i USING (query_id)
      LEFT JOIN dcg d ON d.query_id = s.query_id AND d.k = i.k
      WHERE i.idcg > 0)
    SELECT ks.k AS k, round(COALESCE(avg(p.nd), 0.0), 6) AS ndcg
    FROM ks LEFT JOIN perq p ON p.k = ks.k GROUP BY ks.k ORDER BY ks.k
    """,
)
def ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@K over the graded qrels (beyond-reference metric member —
    BEIR's headline metric; the reference stores grades but its utils
    only check membership). Same skip rule and scale shape as A5-A7
    (operators/metrics.py:ndcg_at_k)."""
    return m.ndcg_at_k(_topk_for_metrics(spark, sf_dir), eio.qrels(spark, sf_dir))


@register("qrels_table", oracle=QRELS_SQL)
def qrels_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/S5: the flattened relational qrels table itself."""
    return eio.qrels(spark, sf_dir)


@register(
    "queries_with_judgments",
    oracle=f"""
    WITH qrels AS ({QRELS_SQL})
    SELECT vec_id AS query_id, label
    FROM embeddings
    WHERE vec_id < {eio.N_QUERY_VECTORS}
      AND vec_id IN (SELECT query_id FROM qrels)
    """,
)
def queries_with_judgments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/J1: left-semi join — queries that have ground truth."""
    q = eio.query_vectors(spark, sf_dir)
    return q.join(
        eio.qrels(spark, sf_dir), "query_id", "left_semi"
    ).select("query_id", "label")


@register(
    "docs_without_judgments",
    oracle=f"""
    WITH qrels AS ({QRELS_SQL})
    SELECT count(*) AS n_unjudged
    FROM embeddings
    WHERE vec_id NOT IN (SELECT doc_id FROM qrels)
    """,
)
def docs_without_judgments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/SET2: left-anti join — the non-relevant candidate pool
    (``000-get_data.py:328-330``)."""
    emb = eio.load_table(spark, sf_dir, "embeddings")
    pool = emb.join(
        eio.qrels(spark, sf_dir).select(F.col("doc_id").alias("vec_id")),
        "vec_id",
        "left_anti",
    )
    return pool.agg(F.count("*").alias("n_unjudged"))


@register(
    "search_hits",
    oracle=f"""
    WITH {_METRIC_BASE}
    SELECT t.query_id, t.doc_id, t.rank, q.relevance
    FROM topk t JOIN qrels q USING (query_id, doc_id)
    """,
)
def search_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/SET3: retrieved ∩ relevant with grade — the join inside
    every metric (``utils.py:41-42``)."""
    topk = _topk_for_metrics(spark, sf_dir)
    return topk.join(
        F.broadcast(eio.qrels(spark, sf_dir)), ["query_id", "doc_id"]
    ).select("query_id", "doc_id", "rank", "relevance")


@register(
    "results_enriched",
    oracle=f"""
    WITH {topk_ctes(5)}
    SELECT t.query_id, t.rank, t.doc_id, d.lang,
           substr(d.text, 1, 50) AS snippet
    FROM topk t JOIN documents d ON d.doc_id = t.doc_id
    """,
)
def results_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/F3: broadcast lookup join enriching results with document
    text for display (``002:272-276``), truncated F3-style."""
    topk = exact_cosine_topk(
        eio.query_vectors(spark, sf_dir),
        eio.load_table(spark, sf_dir, "embeddings"),
        k=5,
    )
    docs = eio.load_table(spark, sf_dir, "documents")
    return topk.join(F.broadcast(docs), "doc_id").select(
        "query_id",
        "rank",
        "doc_id",
        "lang",
        F.substring("text", 1, 50).alias("snippet"),
    )


@register(
    "missing_relevant_check",
    oracle=f"""
    WITH qrels AS ({QRELS_SQL})
    SELECT count(*) AS n_missing
    FROM (SELECT DISTINCT doc_id FROM qrels) r
    WHERE doc_id NOT IN (SELECT vec_id FROM embeddings)
    """,
)
def missing_relevant_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET4: integrity assertion — every judged doc exists in the
    corpus (``000-get_data.py:349-359``); result must be one row of 0."""
    rel = eio.qrels(spark, sf_dir).select("doc_id").distinct()
    emb = eio.load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id")
    )
    return rel.join(emb, "doc_id", "left_anti").agg(
        F.count("*").alias("n_missing")
    )


@register(
    "evaluation_report",
    oracle=f"""
    WITH {_METRIC_BASE},
    nrel AS (SELECT query_id, count(*) AS n_relevant FROM rel GROUP BY query_id),
    base AS (SELECT s.query_id, n.n_relevant FROM searched s JOIN nrel n USING (query_id)),
    ksr AS (SELECT CAST(unnest([1,5,10,20,50,100]) AS INT) AS k),
    ksp AS (SELECT CAST(unnest([1,5,10]) AS INT) AS k),
    hitcr AS (SELECT h.query_id, ksr.k, count(*) AS n_hits
              FROM hits h CROSS JOIN ksr WHERE h.rank <= ksr.k GROUP BY 1, 2),
    recall AS (
      SELECT 'recall' AS metric, ksr.k,
             round(avg(COALESCE(hc.n_hits, 0) * 1.0 / b.n_relevant), 6) AS value
      FROM base b CROSS JOIN ksr
      LEFT JOIN hitcr hc ON hc.query_id = b.query_id AND hc.k = ksr.k
      GROUP BY ksr.k),
    retr AS (SELECT t.query_id, ksp.k, count(*) AS n_retrieved
             FROM topk t CROSS JOIN ksp WHERE t.rank <= ksp.k GROUP BY 1, 2),
    hitcp AS (SELECT h.query_id, ksp.k, count(*) AS n_hits
              FROM hits h CROSS JOIN ksp WHERE h.rank <= ksp.k GROUP BY 1, 2),
    precision AS (
      SELECT 'precision' AS metric, ksp.k,
             round(avg(CASE WHEN COALESCE(r.n_retrieved, 0) = 0 THEN 0.0
                            ELSE COALESCE(hc.n_hits, 0) * 1.0 / r.n_retrieved END), 6) AS value
      FROM searched s CROSS JOIN ksp
      LEFT JOIN retr r ON r.query_id = s.query_id AND r.k = ksp.k
      LEFT JOIN hitcp hc ON hc.query_id = s.query_id AND hc.k = ksp.k
      GROUP BY ksp.k),
    firsth AS (SELECT query_id, min(rank) AS fr FROM hits GROUP BY query_id),
    mrr_t AS (
      SELECT 'mrr' AS metric, CAST(NULL AS INT) AS k,
             round(avg(COALESCE(1.0 / f.fr, 0.0)), 6) AS value
      FROM searched s LEFT JOIN firsth f USING (query_id))
    SELECT * FROM recall UNION ALL SELECT * FROM precision UNION ALL SELECT * FROM mrr_t
    """,
)
def evaluation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11/B5 relational shape: the full metric report as one long
    table (metric, k, value) — what ``save_metrics_report`` persists."""
    return m.evaluation_report(
        _topk_for_metrics(spark, sf_dir), eio.qrels(spark, sf_dir)
    )


from inside_vectordb_spark.registry import ORACLES as _ORACLES  # noqa: E402


# same oracle as evaluation_report: the report sink/scan layer must be
# value-transparent, so the SQL truth is unchanged
@register("report_roundtrip", oracle=_ORACLES["evaluation_report"])
def report_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11+S12 as one oracle-backed driver row (round-10 — these were
    the last source/sink operators verified only in pytest): the full
    evaluation report flows through the reference's JSON report SINK
    (``utils.py:113-135`` layout: ``{dir}/{method}/{method}_{stamp}
    .json``) and back through the newest-by-mtime report SCAN
    (``005-compare_benchmarks.py:46-80``). A DECOY report with
    poisoned values is written FIRST under an older stamp, so a green
    hash proves the scan's latest-file selection, not just JSON
    round-tripping. The metric values themselves are pinned by the
    same SQL as ``evaluation_report`` — the sink/scan layer must be
    value-transparent."""
    import os

    from inside_vectordb_spark import _meta_io as mio
    from inside_vectordb_spark.sources.reports import (
        load_latest_reports,
        save_metrics_report,
    )

    rows = evaluation_report(spark, sf_dir).collect()  # ≤ 10 metric rows

    def _key(r) -> str:
        return r["metric"] if r["k"] is None else f"{r['metric']}@{r['k']}"

    real = {_key(r): r["value"] for r in rows}
    decoy = {k: -1.0 for k in real}
    rep_dir = os.path.join(
        mio.artifacts_root(),
        "roundtrip",
        f"reports_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    # decoy first → strictly older mtime than the real report
    save_metrics_report("exact", decoy, rep_dir, stamp="19700101_000000")
    save_metrics_report("exact", real, rep_dir, stamp="19700102_000000")
    back = load_latest_reports(rep_dir)["exact"]["metrics"]
    out = []
    for key, value in back.items():
        metric, _, kk = key.partition("@")
        out.append((metric, int(kk) if kk else None, float(value)))
    return spark.createDataFrame(
        out, "metric string, k int, value double"
    ).orderBy("metric", "k")


@register(
    "range_search",
    oracle=f"""
    WITH qv AS (SELECT vec_id AS query_id, embedding FROM embeddings
                WHERE vec_id < {eio.N_QUERY_VECTORS}),
    scored AS (
      SELECT q.query_id, c.vec_id AS doc_id, round({_COS}, 6) AS score
      FROM qv q CROSS JOIN embeddings c
    )
    SELECT query_id, doc_id, score FROM scored WHERE score >= 0.25
    """,
)
def range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius retrieval (FAISS ``range_search`` analogue): all pairs
    with cosine ≥ 0.25 — a pure map-side scan, zero shuffles (see
    operators/topk.py:cosine_range_search)."""
    from inside_vectordb_spark.operators.topk import cosine_range_search

    return cosine_range_search(
        eio.query_vectors(spark, sf_dir),
        eio.load_table(spark, sf_dir, "embeddings"),
        threshold=0.25,
    )
