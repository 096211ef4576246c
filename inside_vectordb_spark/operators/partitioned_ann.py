"""Partitioned-HNSW ANN: a local graph index per corpus partition.

SURVEY.md §7 Phase 5(b) — the direct Spark mapping of the
reference's hnswlib tier (``003-hnswlib_demo.py:140-257``): each
corpus partition builds an in-memory HNSW graph over ITS vectors,
answers all (broadcast) queries locally with ``ef_search``, and the
partition-local top-k rows merge through one global window — the
scatter-gather architecture every distributed ANN system (Milvus,
Vespa, Elasticsearch kNN) uses, expressed as ``mapInPandas`` + a
window.

The local kernel is selectable (``kernel=``):

- ``'auto'`` (default): hnswlib if importable, else the exact GEMM
  fallback — exact brute-force, identical results to
  ``exact_cosine_topk``, which is what the DuckDB oracle for
  ``ann_hnsw_partitioned`` checks in this environment. With hnswlib
  installed the results become approximate and the oracle row would
  drift to a retention check (documented here, asserted in
  ``tests/test_ann.py`` either way).
- ``'hnswlib'``: force the native kernel (raises if absent).
- ``'vendored'``: the pure-NumPy HNSW in ``operators/hnsw_kernel.py``
  — a real approximate graph search, so the non-exact branch (graph
  build, ef beam, recall/ef trade-off) is exercised and test-pinned
  in-container (``tests/test_ann.py``) even without hnswlib.
- ``'exact'``: force the GEMM kernel.

Scale: the corpus never shuffles — each partition's graph lives and
dies inside one task; only Q×k rows per partition cross the network
for the merge. Graph build cost is paid per partition per job; the
persisted-index path (``operators/ann_index.py``) is the repeated-
query answer.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inside_vectordb_spark.operators.ann import _normalize_rows, rank_topk
from inside_vectordb_spark.operators.topk import _PARTIAL_SCHEMA


def _partition_hnsw_topk(
    ids: np.ndarray,
    mat: np.ndarray,
    qids: np.ndarray,
    qmat: np.ndarray,
    k: int,
    m: int,
    ef_construction: int,
    ef_search: int,
    kernel: str = "auto",
) -> pd.DataFrame:
    """One partition's local top-k for every query: an HNSW graph built
    over ``ids``/``mat`` (or the exact GEMM fallback) answers them.
    Inputs are L2-normalized, so inner product == cosine. ``kernel``
    picks the engine (module docstring)."""
    kk = min(k, len(ids))

    def _assemble(labels: np.ndarray, dists: np.ndarray) -> pd.DataFrame:
        # ONE assembly tail for both graph kernels (review r7 — the
        # two copies could drift on score conversion / layout).
        # Non-finite distances are the vendored kernel's
        # fewer-than-k-reachable pads — dropped, not served.
        rows = np.repeat(np.arange(len(qids)), labels.shape[1])
        out = pd.DataFrame(
            {
                "query_id": qids[rows],
                "doc_id": labels.ravel(),
                "score": 1.0 - dists.ravel(),  # ip distance = 1 − cos
            }
        )
        return out[np.isfinite(dists).ravel()]

    if kernel in ("auto", "hnswlib"):
        try:  # pragma: no cover - container has no hnswlib
            import hnswlib

            index = hnswlib.Index(space="ip", dim=mat.shape[1])
            index.init_index(
                max_elements=len(ids), M=m, ef_construction=ef_construction
            )
            index.add_items(mat, ids)
            index.set_ef(max(ef_search, kk))
            return _assemble(*index.knn_query(qmat, k=kk))
        except ImportError:
            if kernel == "hnswlib":
                raise
    if kernel == "vendored":
        from inside_vectordb_spark.operators.hnsw_kernel import HnswIndex

        index = HnswIndex(
            dim=mat.shape[1], m=m, ef_construction=ef_construction, seed=42
        )
        index.add_items(mat, ids)
        index.set_ef(max(ef_search, kk))
        return _assemble(*index.knn_query(qmat, k=kk))
    if kernel not in ("auto", "exact"):
        raise ValueError(f"unknown kernel: {kernel!r}")
    sims = qmat @ mat.T
    # exact selection under the declared (score DESC, doc_id ASC)
    # total order — small partitions make a full lexsort affordable
    order = np.lexsort((np.broadcast_to(ids, sims.shape), -sims), axis=1)[:, :kk]
    rows = np.repeat(np.arange(sims.shape[0]), kk)
    cols = order.ravel()
    return pd.DataFrame(
        {
            "query_id": qids[rows],
            "doc_id": ids[cols],
            "score": sims[rows, cols],
        }
    )


def ann_hnsw_partitioned_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    m: int = 32,
    ef_construction: int = 100,
    ef_search: int = 50,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    round_to: int | None = 6,
    kernel: str = "auto",
) -> DataFrame:
    """Scatter-gather ANN: per-partition (HNSW | exact) local top-k,
    one global (score DESC, doc_id ASC) window merge. Same output
    contract as ``exact_cosine_topk``. M/ef_construction/ef_search
    mirror the reference's knobs (``003:156-160``); ``kernel``
    selects the partition-local engine (module docstring)."""
    qrows = (
        queries.select(F.col(query_id).alias("qid"), F.col(query_vec).alias("v"))
        .collect()
    )
    if not qrows:
        raise ValueError("empty query set")
    qids_l = np.array([r["qid"] for r in qrows], dtype=np.int64)
    qmat_l = _normalize_rows(np.array([r["v"] for r in qrows], dtype=np.float64))
    bc = queries.sparkSession.sparkContext.broadcast((qids_l, qmat_l))

    c = corpus.select(F.col(corpus_id).alias("doc_id"), F.col(corpus_vec).alias("v"))

    def search_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids, qmat = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            mat = _normalize_rows(
                np.array(list(pdf["v"].to_numpy()), dtype=np.float64)
            )
            yield _partition_hnsw_topk(
                ids, mat, qids, qmat, k, m, ef_construction, ef_search, kernel
            )

    partials = c.mapInPandas(search_partition, schema=_PARTIAL_SCHEMA)
    return rank_topk(partials, k, round_to)
