"""Vector math as native Catalyst expressions (no Python UDFs).

These are the engine's semantic reference implementations of the
reference study's vector kernels:

- cosine similarity: ``sklearn.cosine_similarity`` at
  ``002-brute_force_similarity.py:189-191``
- L2 normalization: ``faiss.normalize_L2`` at ``004-faiss_demo.py:193-196``
- normalize-once + inner-product ≡ cosine trick: ``004-faiss_demo.py:184-196``

All arithmetic is performed in DOUBLE with strict left-to-right
accumulation (``F.aggregate`` folds sequentially), matching DuckDB's
``list_dot_product`` on ``DOUBLE[]`` so oracle hash-matching at 6
decimals is stable.

Everything here stays inside whole-stage codegen — these compile to
Catalyst higher-order functions (``zip_with``/``aggregate``/
``transform``), executed JVM-side. The bulk/hot path for large
query×corpus scoring is the GEMM pandas-UDF kernel in
``operators/topk.py``; these expressions are the exact-semantics path
the oracle verifies.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_SIMPLE_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")
# bare words the SQL parser may read as niladic function calls (ANSI
# mode parses them as such) instead of a column of that name
_NILADIC = frozenset(
    {"current_date", "current_timestamp", "current_user", "current_catalog",
     "current_database", "current_schema", "current_time", "user", "session_user"}
)


def sql_ident(name: str) -> str:
    """THE way a column name enters the parsed-SQL fast paths (advice
    r12): SQL text that resolves exactly like ``F.col(name)`` — dotted
    names stay struct-field accesses, and any part that is not a plain
    identifier, or that the parser would read as a function call
    (``current_date`` …), is backtick-quoted. A name that already
    carries backticks is passed through: ``F.col`` and the SQL parser
    read quoted parts alike. Column operands take the Column builder
    instead."""
    if "`" in name:
        return name
    return ".".join(
        p if _SIMPLE_IDENT.fullmatch(p) and p.lower() not in _NILADIC else f"`{p}`"
        for p in name.split(".")
    )

# Optimization r12 (guide §1.2 "per-task work" applied to the DRIVER):
# when the operand is a plain column NAME, each helper builds its whole
# expression as ONE ``F.expr`` SQL string instead of a Python tree of
# Column operators. The Column form costs ~150 py4j round trips per
# call (~0.15-0.2 s of measured driver latency each — cProfile showed
# 3,493 socket round trips for one indexed-ANN query construction,
# 1.8 s of its 2.2 s total); the parsed-SQL form is 1 round trip and
# yields the same Catalyst operators, fold order and zero-vector
# semantics, so values are bit-identical. Column operands (composed
# expressions) keep the original builder below.


def _sql_dbl(name: str) -> str:
    """array<float> column → ARRAY<DOUBLE>, elementwise (same math as
    ``transform(x -> CAST(x AS DOUBLE))``)."""
    return f"CAST({name} AS ARRAY<DOUBLE>)"


def _sql_dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({_sql_dbl(a)}, {_sql_dbl(b)}, (x, y) -> x * y), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _sql_norm(a: str) -> str:
    return f"sqrt({_sql_dot(a, a)})"


def as_double_array(col: Column | str) -> Column:
    """Cast ``array<float>`` → ``array<double>`` so every downstream op
    runs in double precision (float32 storage, float64 math — the
    reference does the same: float32 matrices, float64 metrics)."""
    if isinstance(col, str):
        return F.expr(f"transform({sql_ident(col)}, x -> CAST(x AS DOUBLE))")
    return F.transform(col, lambda x: x.cast("double"))


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Elementwise product then strict sequential sum — a Catalyst
    ``aggregate(zip_with(...))`` chain, all JVM-side."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_sql_dot(sql_ident(a), sql_ident(b)))
    aa = as_double_array(a)
    bb = as_double_array(b)
    return F.aggregate(
        F.zip_with(aa, bb, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    if isinstance(a, str):
        return F.expr(_sql_norm(sql_ident(a)))
    return F.sqrt(dot_product(a, a))


def l2_normalize(a: Column | str) -> Column:
    """x / ||x||, with zero vectors passed through unchanged
    (``faiss.normalize_L2`` semantics: 0-vector stays 0)."""
    if isinstance(a, str):
        ad = _sql_dbl(sql_ident(a))
        nrm = (
            f"sqrt(aggregate(transform({ad}, x -> x * x), "
            f"CAST(0.0 AS DOUBLE), (s, x) -> s + x))"
        )
        return F.expr(
            f"CASE WHEN {nrm} = 0.0 THEN {ad} "
            f"ELSE transform({ad}, x -> x / {nrm}) END"
        )
    aa = as_double_array(a)
    nrm = F.sqrt(
        F.aggregate(F.transform(aa, lambda x: x * x), F.lit(0.0), lambda s, x: s + x)
    )
    return F.when(nrm == 0.0, aa).otherwise(F.transform(aa, lambda x: x / nrm))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """dot(a,b) / (||a||·||b||); 0 when either side is a zero vector."""
    if isinstance(a, str) and isinstance(b, str):
        a, b = sql_ident(a), sql_ident(b)
        na, nb = _sql_norm(a), _sql_norm(b)
        return F.expr(
            f"CASE WHEN {na} = 0.0 OR {nb} = 0.0 THEN CAST(0.0 AS DOUBLE) "
            f"ELSE {_sql_dot(a, b)} / ({na} * {nb}) END"
        )
    d = dot_product(a, b)
    na = l2_norm(a)
    nb = l2_norm(b)
    return F.when((na == 0.0) | (nb == 0.0), F.lit(0.0)).otherwise(d / (na * nb))
