"""Column names entering the parsed-SQL fast paths resolve like
``F.col``: a dotted name is a struct-field access, and a name the
parser reads as a niladic function (``current_date``) is still the
column — also under ANSI mode, where the parser never falls back."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from inside_vectordb_spark.functions.vector import cosine_similarity, l2_normalize, sql_ident
from inside_vectordb_spark.operators.ann_sign import sign_bucket
from inside_vectordb_spark.operators.textstats import quality_expr


@pytest.fixture
def ansi(spark):
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield spark
    spark.conf.set("spark.sql.ansi.enabled", old)


def test_sql_ident_quotes_like_col():
    assert sql_ident("embedding") == "embedding"
    assert sql_ident("meta.text") == "meta.text"
    assert sql_ident("current_date") == "`current_date`"
    assert sql_ident("my col.x y") == "`my col`.`x y`"
    assert sql_ident("`a.b`.c") == "`a.b`.c"


def test_struct_field_and_niladic_names_under_ansi(ansi):
    spark = ansi
    df = spark.createDataFrame(
        [
            (1, ("the cat sat on the mat and slept", [1.0, 2.0, 0.5]),
             "a dog ran to the park", [0.5, -1.0, 2.0]),
            (2, ("zzz 123 !!", [0.0, 0.0, 0.0]),
             "of the and is to a", [3.0, 1.0, -1.0]),
        ],
        "id long, meta struct<text: string, emb: array<float>>, "
        "current_date string, current_user array<float>",
    )
    by_name = df.select(
        "id",
        quality_expr("meta.text").alias("q_meta"),
        quality_expr("current_date").alias("q_cd"),
        cosine_similarity("meta.emb", "current_user").alias("cos"),
        l2_normalize("current_user").alias("norm"),
        sign_bucket("meta.emb", planes=((1, -1, 1), (-1, 1, 1))).alias("b"),
    ).orderBy("id").collect()
    flat = df.select(
        "id",
        F.col("meta.text").alias("t1"),
        F.col("current_date").alias("t2"),
        F.col("meta.emb").alias("e1"),
        F.col("current_user").alias("e2"),
    )
    by_col = flat.select(
        "id",
        quality_expr("t1").alias("q_meta"),
        quality_expr("t2").alias("q_cd"),
        cosine_similarity(F.col("e1"), F.col("e2")).alias("cos"),
        l2_normalize(F.col("e2")).alias("norm"),
        sign_bucket(F.col("e1"), planes=((1, -1, 1), (-1, 1, 1))).alias("b"),
    ).orderBy("id").collect()
    assert by_name == by_col
