"""Product quantization (PQ) — the compressed-vector ANN scale path.

The reference's FAISS demo (``004-faiss_demo.py``) uses flat/IVF
indexes that keep raw float vectors in RAM; FAISS's own scale answer
beyond RAM is IVF-PQ (Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011). This implements the PQ half
natively on DataFrames:

- **Train**: split the d-dim space into ``m`` subspaces of ``d/m``
  dims; per-subspace k-means (``ks`` codewords) on a deterministic
  id-ordered sample of the L2-normalized corpus — same bounded-driver
  -sample policy as ``kmeans_centroids``.
- **Encode**: each vector → ``m`` small ints (nearest codeword per
  subspace). At ``m=8, ks=16`` a 64-d float64 vector (512 B raw,
  256 B float32) compresses to 8 codes — the representation that
  makes a 100 TB embedding corpus scannable from a fraction of the
  I/O; the codes column is what the scan reads, never the floats.
- **Search (ADC)**: per query build an ``m × ks`` lookup table of
  subspace dot products (asymmetric distance computation), then score
  every encoded vector with ``m`` table gathers + a sum — one NumPy
  gather-GEMM per Arrow batch, embarrassingly parallel, zero shuffle
  until the (query_id, doc_id, adc) partial top-k merge. A final
  exact re-rank on the refined candidate set restores true-cosine
  scores (the standard IVF-PQ + refine pipeline), so the output
  contract matches the other ANN tiers: (query_id, doc_id, score,
  rank) with exact scores.

Shuffle budget: encode is map-only; the ADC scan emits ≤ Q·refine
rows per Arrow batch (partial top-k inside the batch), the global
refine is one window over those partials, and the re-rank joins the
refined ids back against the corpus — candidate-keyed, like
``_rerank_candidates`` everywhere else in this package.
"""

from __future__ import annotations

import math

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

PQ_M = 8  # subspaces
PQ_KS = 16  # codewords per subspace

_CODES_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("codes", ArrayType(IntegerType())),
    ]
)

_ADC_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("doc_id", LongType()),
        StructField("adc", DoubleType()),
    ]
)


# the shared NumPy-side normalizer (one implementation, review r7)
from inside_vectordb_spark.operators.ann import _normalize_rows  # noqa: E402


def pq_train(
    corpus: DataFrame,
    vec_col: str,
    dim: int,
    m: int = PQ_M,
    ks: int = PQ_KS,
    seed: int = 42,
    max_iter: int = 10,
    sample_limit: int = 8192,
    id_col: str = "vec_id",
) -> np.ndarray:
    """Codebooks (m, ks, dim/m): per-subspace euclidean k-means on an
    id-ordered sample (TakeOrderedAndProject — per-partition heap, no
    global sort; deterministic on any partitioning)."""
    if dim % m != 0:
        raise ValueError(f"pq_train: dim={dim} not divisible by m={m}")
    dsub = dim // m
    pdf = (
        corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("v"))
        .orderBy("__id")
        .limit(sample_limit)
        .toPandas()
    )
    if pdf.empty:
        raise ValueError("pq_train: empty corpus")
    mat = _normalize_rows(np.array(list(pdf["v"]), dtype=np.float64))
    rng = np.random.RandomState(seed)
    books = np.empty((m, ks, dsub), dtype=np.float64)
    for mi in range(m):
        sub = mat[:, mi * dsub : (mi + 1) * dsub]
        k_eff = min(ks, len(sub))
        cents = sub[rng.choice(len(sub), size=k_eff, replace=False)].copy()
        for _ in range(max_iter):
            d2 = (
                -2.0 * sub @ cents.T
                + (cents**2).sum(axis=1)[None, :]
            )
            assign = np.argmin(d2, axis=1)
            for ci in range(k_eff):
                members = sub[assign == ci]
                if len(members):
                    cents[ci] = members.mean(axis=0)
        if k_eff < ks:  # degenerate tiny corpus: pad by repetition
            cents = np.vstack([cents, np.tile(cents[-1:], (ks - k_eff, 1))])
        books[mi] = cents
    return books


def pq_encode(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: np.ndarray,
) -> DataFrame:
    """(id, codes array<int>): nearest codeword per subspace of the
    L2-normalized vector. Map-only; codebooks ride in the closure
    (m·ks·dsub floats — a few KB)."""
    m, ks, dsub = codebooks.shape
    books = codebooks
    v = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = _normalize_rows(np.array(list(pdf["v"].to_numpy()), dtype=np.float64))
            codes = np.empty((len(mat), m), dtype=np.int32)
            for mi in range(m):
                sub = mat[:, mi * dsub : (mi + 1) * dsub]
                d2 = -2.0 * sub @ books[mi].T + (books[mi] ** 2).sum(axis=1)[None, :]
                codes[:, mi] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(dtype=np.int64),
                    "codes": list(codes),
                }
            )

    return v.mapInPandas(encode, schema=_CODES_SCHEMA)


def pq_adc_candidates(
    codes: DataFrame,
    qids: np.ndarray,
    qmat: np.ndarray,
    codebooks: np.ndarray,
    n_out: int,
) -> DataFrame:
    """ADC scan over the encoded corpus: per Arrow batch, score all
    queries against all codes with table gathers and emit each query's
    batch-local top ``n_out`` (query_id, doc_id, adc) rows. Queries
    ride in the closure (Q·d floats). The global refine is a window
    over these partials — per batch the emitted rows are Q·n_out, so
    the shuffle is candidate-sized, not corpus-sized."""
    m, ks, dsub = codebooks.shape
    q = _normalize_rows(np.asarray(qmat, dtype=np.float64))
    # LUT[q, m, c] = <q_sub_m, codeword_c^m>; flattened for gathers.
    lut = np.einsum(
        "qmd,mkd->qmk", q.reshape(len(q), m, dsub), codebooks
    ).reshape(len(q), m * ks)
    offsets = (np.arange(m) * ks).astype(np.int64)
    ids_q = np.asarray(qids, dtype=np.int64)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            doc_ids = pdf["id"].to_numpy(dtype=np.int64)
            codes_mat = np.vstack(pdf["codes"].to_numpy()).astype(np.int64)
            flat = (codes_mat + offsets[None, :]).ravel()  # (B·m,)
            scores = (
                lut[:, flat].reshape(len(lut), len(doc_ids), m).sum(axis=2)
            )  # (Q, B)
            take = min(n_out, len(doc_ids))
            idx = np.argpartition(-scores, take - 1, axis=1)[:, :take]
            out_q = np.repeat(ids_q, take)
            out_d = doc_ids[idx.ravel()]
            out_s = np.take_along_axis(scores, idx, axis=1).ravel()
            yield pd.DataFrame({"query_id": out_q, "doc_id": out_d, "adc": out_s})

    return codes.mapInPandas(scan, schema=_ADC_SCHEMA)


def ann_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    m: int = PQ_M,
    ks: int = PQ_KS,
    refine: int = 5,
    seed: int = 42,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    round_to: int | None = 6,
    codes: DataFrame | None = None,
    codebooks: np.ndarray | None = None,
    min_candidate_fraction: float = 0.075,
) -> DataFrame:
    """PQ-ADC ANN top-k with exact refine: ADC ranks the compressed
    corpus, the top ``max(k·refine, ceil(frac·N))`` candidates per
    query are re-ranked with exact cosine. ``refine`` is this tier's
    ef-analogue knob (X3): higher refine ⇒ higher recall, more exact
    work.

    ``min_candidate_fraction`` keeps the over-fetch proportional to
    the corpus: a FIXED candidate count silently starves recall as N
    grows (measured: recall@10 0.83 at N=500 → 0.615 at N=2000 with
    k·refine=80 — the sf0.1 scale sweep caught it). With a 4-bit/
    subquantizer codebook the quantization error is constant while
    true-neighbor margins shrink with N, so the candidate FRACTION,
    not count, is what recall tracks (FAISS's k_factor guidance).
    Production corpora instead raise bits/vector — the det-PQ tier's
    256-centroid codebooks — or shard via IVF-PQ; this knob keeps the
    small-codebook tier honest meanwhile (7.5% of N exact-reranked =
    still 13× less exact work than brute force; measured 0.775 at
    N=2000).

    ``codes``/``codebooks`` accept a pre-encoded corpus (the persisted
    -index path — encode once, search many)."""
    from inside_vectordb_spark.operators.ann import _rerank_candidates

    # stored codes are only meaningful against the codebooks that
    # produced them: codes WITHOUT codebooks would silently train
    # FRESH codebooks from the current corpus sample and gather ADC
    # LUTs against foreign codes — scores become noise with no error
    # (review r9-4). Codebooks WITHOUT codes stays legal: a frozen
    # codebook with a fresh encode is self-consistent.
    if codes is not None and codebooks is None:
        raise ValueError(
            "stored codes require the codebooks that encoded them — "
            "pass codes and codebooks together; codes looked up in "
            "freshly trained codebooks produce meaningless ADC scores"
        )
    if codebooks is None:
        codebooks = pq_train(
            corpus, corpus_vec, dim, m, ks, seed, id_col=corpus_id
        )
    if codes is None:
        codes = pq_encode(corpus, corpus_id, corpus_vec, codebooks)
        # encoding is 1:1 — count the parquet-backed corpus (metadata
        # count), never the lazy mapInPandas encode (counting it would
        # execute the most expensive stage twice per search)
        from inside_vectordb_spark.io import fast_count

        n_corpus = fast_count(corpus) or corpus.count()
    else:
        n_corpus = codes.count()  # stored codes table: columnar count

    qrows = queries.select(
        F.col(query_id).alias("qid"), F.col(query_vec).alias("v")
    ).collect()
    if not qrows:
        raise ValueError("empty query set")  # 1-D np.array([]) would
        # reach _normalize_rows as an opaque AxisError otherwise
    qids = np.array([r["qid"] for r in qrows], dtype=np.int64)
    qmat = np.array([r["v"] for r in qrows], dtype=np.float64)

    n_refine = max(k * refine, math.ceil(min_candidate_fraction * n_corpus))
    partials = pq_adc_candidates(codes, qids, qmat, codebooks, n_refine)
    w = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("doc_id"))
    cand = (
        partials.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= n_refine)
        .select("query_id", "doc_id")
    )
    return _rerank_candidates(
        cand, queries, corpus, query_id, query_vec, corpus_id, corpus_vec, k, round_to
    )
