"""Embedding-generation registry (F4 + the encode→search pipeline).

Because the hash encoder's math is portable md5 arithmetic
(``operators/embed.py``), BOTH queries here carry full DuckDB
oracles — the mapInPandas batch plumbing is hash-match verified,
not just rows-only. Embedding components are exact integers, so the
only float math is the e2e cosine, which follows the engine's
proven round-6 convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inside_vectordb_spark import io as eio
from inside_vectordb_spark.functions.vector import dot_product
from inside_vectordb_spark.operators.ann import rank_topk
from inside_vectordb_spark.operators.embed import DEFAULT_DIM, encode_documents
from inside_vectordb_spark.registry import register

# ONE cosine fragment engine-wide (review r9): the filtered-exact
# oracle re-inlined it, so the zero-norm guard added to core's copy
# would have silently missed this one
from inside_vectordb_spark.registry.core import _COS as _CORE_COS  # noqa: E402

_DIM = DEFAULT_DIM

# The hash encoder restated in DuckDB SQL: token → 60-bit md5 prefix
# h; bucket = h % dim; sign from the next bit; dense vector =
# zero-filled signed counts ordered by bucket. Tokenization mirrors
# operators/embed.py:_hash_tokenize EXACTLY: RE2 '\s+' split with
# empty tokens dropped AFTER the split — the previous trim()-based
# form left a phantom '' token on tab/newline-LEADING text (DuckDB
# trim strips spaces only) and hashed md5('') into bucket space
# (review r9).
_DENSE_CTE = f"""
    toks AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id, unnest(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+')) AS tok
        FROM documents)
      WHERE tok <> ''
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
    ),
    signed AS (
      SELECT doc_id, CAST(h % {_DIM} AS INT) AS bucket,
             CASE WHEN (h // {_DIM}) % 2 = 0 THEN 1 ELSE -1 END AS s
      FROM hashed
    ),
    sums AS (
      SELECT doc_id, bucket, CAST(sum(s) AS BIGINT) AS v
      FROM signed GROUP BY doc_id, bucket
    ),
    grid AS (
      SELECT d.doc_id, g.bucket
      FROM documents d
      CROSS JOIN (SELECT CAST(unnest(range({_DIM})) AS INT) AS bucket) g
    ),
    dense AS (
      SELECT grid.doc_id, grid.bucket, COALESCE(s.v, 0) AS v
      FROM grid LEFT JOIN sums s
        ON s.doc_id = grid.doc_id AND s.bucket = grid.bucket
    ),
    tokc AS (
      SELECT d.doc_id, CAST(COALESCE(t.c, 0) AS INT) AS n_tokens
      FROM documents d LEFT JOIN (
        SELECT doc_id, count(*) AS c FROM toks GROUP BY doc_id) t
      ON t.doc_id = d.doc_id
    )
"""


@register(
    "text_embeddings",
    oracle=f"""
    WITH {_DENSE_CTE}
    SELECT d.doc_id, t.n_tokens,
           array_to_string(list(d.v ORDER BY d.bucket), ',') AS embedding_csv
    FROM dense d JOIN tokc t ON t.doc_id = d.doc_id
    GROUP BY d.doc_id, t.n_tokens
    """,
)
def text_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: mapInPandas batch encoding of ``documents.text``
    (``001-get_embeddings.py:178-209``), hash-projection encoder.
    Components serialized to CSV for stable cross-engine hashing."""
    enc = encode_documents(eio.load_table(spark, sf_dir, "documents"), dim=_DIM)
    return enc.select(
        "doc_id",
        "n_tokens",
        F.concat_ws(
            ",", F.transform("embedding", lambda x: x.cast("bigint").cast("string"))
        ).alias("embedding_csv"),
    )


@register(
    "label_centroids",
    oracle="""
    WITH comp AS (
      SELECT label, CAST(i.i AS INT) AS component,
             avg(CAST(embedding[i.i + 1] AS DOUBLE)) AS m,
             count(*) AS n
      FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS i) i
      GROUP BY label, i.i)
    SELECT label, component, round(m, 6) + 0.0 AS mean_value,
           CAST(n AS BIGINT) AS n_vectors
    FROM comp
    """,
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map pandas UDF (``applyInPandas``): per-label embedding
    centroid, long-form — the whole-group-in-pandas execution shape,
    hash-match verified against columnwise SQL averages."""
    from inside_vectordb_spark.operators.grouped import group_centroids

    out = group_centroids(eio.load_table(spark, sf_dir, "embeddings"))
    return out.select(
        "label",
        "component",
        # + 0.0 normalizes IEEE -0.0 (signed embedding means)
        (F.round("mean_value", 6) + F.lit(0.0)).alias("mean_value"),
        "n_vectors",
    )


@register(
    "nearest_centroid_assign",
    oracle="""
    WITH comp AS (
      SELECT label AS clabel, CAST(i.i AS INT) AS pos,
             avg(CAST(embedding[i.i + 1] AS DOUBLE)) AS cval
      FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS i) i
      GROUP BY label, i.i),
    cent AS (
      SELECT clabel, list(cval ORDER BY pos) AS cvec,
             sqrt(sum(cval * cval)) AS cn
      FROM comp GROUP BY clabel),
    v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS vn
      FROM embeddings),
    scored AS (
      SELECT v.vec_id, v.label, c.clabel,
             list_dot_product(v.e, c.cvec) / (v.vn * c.cn) AS cos
      FROM v CROSS JOIN cent c),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cos DESC, clabel) AS r
      FROM scored)
    SELECT label, clabel AS pred_label, CAST(count(*) AS BIGINT) AS n
    FROM ranked WHERE r = 1 GROUP BY label, clabel
    """,
)
def nearest_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) classification over the embedding
    column, fully relational and hash-matched: per-label mean
    centroids → cosine of every vector against every centroid →
    argmax → confusion counts (label, pred_label, n).

    Plan shape at scale: the long-form component aggregation is one
    shuffle keyed (label, pos) with map-side partials; the 10×64
    centroid relation is broadcast back, so the scoring pass never
    shuffles the corpus — only (vec, label) partial dot products move,
    partial-aggregated map-side. The GEMM twin of this assignment is
    ``operators/ann.py:ivf_assign`` (same math, Arrow-batched); this
    relational form is the oracle-checkable semantics reference."""
    emb = eio.load_table(spark, sf_dir, "embeddings")
    long = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "val")
    ).withColumn("val", F.col("val").cast("double"))
    comp = long.groupBy(F.col("label").alias("clabel"), "pos").agg(
        F.avg("val").alias("cval")
    )
    cnorm = comp.groupBy("clabel").agg(
        F.sqrt(F.sum(F.col("cval") * F.col("cval"))).alias("cn")
    )
    vnorm = long.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("vn")
    )
    dots = (
        long.join(F.broadcast(comp), "pos")
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum(F.col("val") * F.col("cval")).alias("dot"))
    )
    scored = (
        dots.join(F.broadcast(cnorm), "clabel")
        .join(vnorm, "vec_id")
        .select(
            "vec_id", "label", "clabel",
            (F.col("dot") / (F.col("vn") * F.col("cn"))).alias("cos"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("clabel"))
    return (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .groupBy("label", F.col("clabel").alias("pred_label"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "text_search_e2e",
    oracle=f"""
    WITH {_DENSE_CTE},
    emb AS (
      SELECT doc_id, list(CAST(v AS DOUBLE) ORDER BY bucket) AS e,
             list_dot_product(list(CAST(v AS DOUBLE) ORDER BY bucket),
                              list(CAST(v AS DOUBLE) ORDER BY bucket)) AS sq
      FROM dense GROUP BY doc_id
    ),
    q AS (SELECT * FROM emb WHERE doc_id < 5 AND sq > 0),
    c AS (SELECT * FROM emb WHERE sq > 0),
    scored AS (
      SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
             list_dot_product(q.e, c.e) / (sqrt(q.sq) * sqrt(c.sq)) AS score
      FROM q CROSS JOIN c
    ),
    ranked AS (
      SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, doc_id, round(score, 6) AS score, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def text_search_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end raw-text pipeline: encode (F4) → exact cosine top-5
    (J5/T1) — the reference's 001→002 pipeline as one lazy DAG, with
    the first 5 docs playing the query role. Zero-vector docs are
    excluded (cosine undefined)."""
    enc = encode_documents(eio.load_table(spark, sf_dir, "documents"), dim=_DIM)
    nonzero = enc.filter(dot_product("embedding", "embedding") > 0)
    q = nonzero.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = nonzero.select(F.col("doc_id"), F.col("embedding").alias("cv"))
    # Integer-component vectors: the dot is exact, so normalize inside
    # the score (not pre-normalized) to mirror the oracle's arithmetic
    # order bit-for-bit.
    scored = F.broadcast(q).crossJoin(c).select(
        "query_id",
        "doc_id",
        (
            dot_product("qv", "cv")
            / (F.sqrt(dot_product("qv", "qv")) * F.sqrt(dot_product("cv", "cv")))
        ).alias("score"),
    )
    return rank_topk(scored, 5, 6)


_FILTERED_EXACT_ORACLE = f"""
    WITH qv AS (SELECT vec_id AS query_id, label, embedding
                FROM embeddings WHERE vec_id < {eio.N_QUERY_VECTORS}),
    scored AS (
      SELECT q.query_id, c.vec_id AS doc_id, {_CORE_COS} AS score
      FROM qv q JOIN embeddings c ON q.label = c.label
      WHERE q.query_id <> c.vec_id
    ),
    ranked AS (
      SELECT query_id, doc_id, score,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id ASC) AS INT) AS rank
      FROM scored
    )
    SELECT query_id, doc_id, round(score, 6) AS score, rank
    FROM ranked WHERE rank <= 10
    """


@register("filtered_topk", oracle=_FILTERED_EXACT_ORACLE)
def filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-filtered exact search (metadata predicate ∧ top-k —
    the predicated generalization of the J5 flagship; every production
    vector store's "filtered search"). Candidates are restricted to
    corpus rows sharing the query's ``label``, which turns the
    broadcast nested loop into a broadcast HASH join on label: the
    corpus never shuffles and candidate generation is O(matching
    pairs), not O(Q·N). Plan pinned in tests/test_plans.py."""
    from inside_vectordb_spark.operators.topk import filtered_cosine_topk

    return filtered_cosine_topk(
        eio.query_vectors(spark, sf_dir),
        eio.load_table(spark, sf_dir, "embeddings"),
        k=10,
    )


# ---------------------------------------------------------------------------
# similarity_join facade (round-7 advisory #8): ONE dispatching entry
# point that routes exact / sign-LSH / det-IVF by corpus size — the
# way a vector-DB user actually calls the store (reference: the 002
# vs 003/004 method choice, README.md:174-193). Both registered rows
# FORCE a distinct route through explicit cutoffs (the routing must
# be scale-independent so one oracle string stays correct at sf0.01
# AND sf0.1) and reuse the routed tier's proven oracle — a green hash
# is the proof that the facade is a zero-cost dispatcher, not a
# reimplementation.

# registry.ann is fully imported before this module (registry
# __init__ order), so its oracle constant is safe to import here.
from inside_vectordb_spark.registry.ann import _SIGN_ORACLE  # noqa: E402


@register("similarity_join_topk", oracle=_SIGN_ORACLE)
def similarity_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The facade routed to the persisted sign-LSH tier: exact_cutoff
    forced below the corpus size, so auto-routing picks the index at
    every test scale; shares the ann_sign artifacts dir (and oracle)
    with the ann_signlsh_topk_indexed sentinel — stored-index reuse
    through the facade, verified by the same value hash
    (operators/similarity.py)."""
    import os

    from inside_vectordb_spark import _meta_io as mio
    from inside_vectordb_spark.operators.similarity import similarity_join

    art = mio.art_path("ann_sign", sf_dir)
    return similarity_join(
        spark,
        eio.query_vectors(spark, sf_dir),
        eio.load_table(spark, sf_dir, "embeddings"),
        k=10,
        exact_cutoff=100,
        index_path=art,
    )


@register("similarity_join_filtered", oracle=_FILTERED_EXACT_ORACLE)
def similarity_join_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The facade routed to predicated EXACT search (default cutoffs:
    the test corpora sit under exact_cutoff, and corpus_size is passed
    explicitly to prove the no-count fast path): metadata predicate ∧
    top-k through the one entry point, same oracle as the direct
    filtered_topk row (operators/similarity.py)."""
    import os

    import pyarrow.parquet as pq

    from inside_vectordb_spark.operators.similarity import similarity_join

    # the no-count fast path: a real store routes on table stats —
    # here the parquet footer's row count, read without a Spark job
    n = pq.read_metadata(os.path.join(sf_dir, "embeddings.parquet")).num_rows
    return similarity_join(
        spark,
        eio.query_vectors(spark, sf_dir),
        eio.load_table(spark, sf_dir, "embeddings"),
        k=10,
        filter_col="label",
        corpus_size=n,
    )


from inside_vectordb_spark.registry.ann import _ivf_oracle  # noqa: E402

_IVF_FILTERED_ORACLE = _ivf_oracle(
    e_cte="""e AS (SELECT vec_id, label,
               CAST(embedding AS DOUBLE[]) AS v FROM embeddings)""",
    cents_cte="""cents AS (SELECT vec_id AS cid, v AS cv FROM e
              WHERE vec_id % 37 = 1 AND vec_id < 592)""",
    key="vec_id",
    q_extra=", label AS qf",
    scored_where="""
      WHERE d.label = q.qf AND d.vec_id <> q.query_id""",
)


_SJ_HNSW_ORACLE = (
    "SELECT 'hnsw' AS method, 10 AS k, "
    "CAST(0.95 AS DOUBLE) AS recall_floor, true AS floor_ok"
)


@register("similarity_join_hnsw", oracle=_SJ_HNSW_ORACLE)
def similarity_join_hnsw_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The facade's graph route (round-10): ``method='hnsw'`` serves
    the persisted vendored-HNSW index through the one entry point,
    reusing the ``hnsw_vendored`` artifact the S9 sentinel builds
    (same knobs → ensure_hnsw_index reuses, proving stored-index reuse
    through the facade). Graph results are insertion-order dependent,
    so the hash-checkable row is the quality envelope: recall@10 of
    the routed search vs the exact engine against the pinned 0.95
    floor (the reference's acceptance metric for its hnswlib access
    path, ``003:313-343`` + ``005:469-487``)."""
    from pyspark.sql import functions as F

    from inside_vectordb_spark import _meta_io as mio
    from inside_vectordb_spark.operators.similarity import similarity_join
    from inside_vectordb_spark.operators.topk import exact_cosine_topk
    from inside_vectordb_spark.registry.ann import EMB_DIM

    q = eio.query_vectors(spark, sf_dir)
    c = eio.load_table(spark, sf_dir, "embeddings")
    n_gt = q.count() * 10  # corpus >> k at every SF (floor-query rule)
    routed = similarity_join(
        spark,
        q,
        c,
        k=10,
        method="hnsw",
        index_path=mio.art_path("hnsw_vendored", sf_dir),
        dim=EMB_DIM,
    )
    exact = exact_cosine_topk(q, c, k=10).select("query_id", "doc_id")
    hits = routed.select("query_id", "doc_id").join(
        exact, ["query_id", "doc_id"]
    )
    return hits.agg(F.count("*").alias("n_hits")).select(
        F.lit("hnsw").alias("method"),
        F.lit(10).alias("k"),
        F.lit(0.95).alias("recall_floor"),
        (F.col("n_hits") / F.lit(float(n_gt)) >= F.lit(0.95)).alias(
            "floor_ok"
        ),
    )


@register("similarity_join_ivf_filtered", oracle=_IVF_FILTERED_ORACLE)
def similarity_join_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The facade's third route with the predicate: det-IVF filtered
    ANN (round-8 — closes the facade's one unsupported combination).
    Probing/assignment cover the full corpus; the label predicate
    post-filters the rerank join and self-matches are excluded — the
    same composition contract as ann_signlsh_filtered, now proven on
    the inverted-file tier via the shared _ivf_oracle generator
    (operators/ann_sign.py:_ivf_search filter_col)."""
    from inside_vectordb_spark.operators.similarity import similarity_join

    return similarity_join(
        spark,
        eio.query_vectors(spark, sf_dir),
        eio.load_table(spark, sf_dir, "embeddings"),
        k=10,
        method="ivf_det",
        filter_col="label",
    )
