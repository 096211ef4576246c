"""Seeded input generator for the vector-serving benchmark.

Everything a workload feeds the engine is drawn here from one seed, so
the same seed always yields the same corpus, queries, qrels, ingest
batches and request order. The engine only ever sees the generated
files and frames, never the seed.

Corpus model: ``n_clusters`` unit centroids in 64 dimensions; cluster
sizes follow a Zipf law (a few big clusters, a long tail of small
ones), and each vector is its centroid plus isotropic noise. The
cluster id is the vector's ``label``. Queries are "near-corpus": a
corpus vector plus a smaller noise draw, carrying that vector's label.

Qrels are label-derived and graded: a query with label L judges the
``QRELS_PER_LABEL`` vectors of cluster L nearest to the L centroid as
relevant, the closest ``QRELS_GRADE2`` of them with grade 2 and the
rest with grade 1. The set is bounded per query, so scoring a batch
stays a small broadcast.

Files are written in the engine's testdata shape
(``vec_id BIGINT, embedding ARRAY<FLOAT>, label INT``) so
``io.load_table`` reads them like any other table.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
N_CLUSTERS = 32
ZIPF_CLUSTER_A = 1.1
CLUSTER_NOISE = 0.35
QUERY_NOISE = 0.08
QRELS_PER_LABEL = 20
QRELS_GRADE2 = 5

TABLE_SCHEMA = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)
QRELS_SCHEMA = pa.schema(
    [
        ("query_id", pa.int64()),
        ("doc_id", pa.int64()),
        ("relevance", pa.int32()),
    ]
)


@dataclass
class Vectors:
    """A block of generated rows: ids, float32 vectors, labels."""

    ids: np.ndarray  # int64 (n,)
    vecs: np.ndarray  # float32 (n, DIM)
    labels: np.ndarray  # int32 (n,)

    def __len__(self) -> int:
        return len(self.ids)

    def take(self, idx: np.ndarray) -> "Vectors":
        return Vectors(self.ids[idx], self.vecs[idx], self.labels[idx])


class Generator:
    """All inputs of one run, drawn from ``seed``.

    Each purpose (corpus, queries, ingest, request order) draws from
    its own child stream of the seed, so asking for more of one never
    shifts the values of another."""

    def __init__(self, seed: int) -> None:
        self.seed = int(seed)
        ss = np.random.SeedSequence(self.seed)
        (self._rng_model, self._rng_corpus, self._rng_query,
         self._rng_ingest, self._rng_stream) = (
            np.random.default_rng(s) for s in ss.spawn(5)
        )
        c = self._rng_model.standard_normal((N_CLUSTERS, DIM))
        self.centroids = c / np.linalg.norm(c, axis=1, keepdims=True)
        w = 1.0 / np.arange(1, N_CLUSTERS + 1) ** ZIPF_CLUSTER_A
        self._cluster_p = w / w.sum()

    # -- vectors --

    def _draw(self, rng: np.random.Generator, first_id: int, n: int) -> Vectors:
        labels = rng.choice(N_CLUSTERS, size=n, p=self._cluster_p).astype(np.int32)
        noise = rng.standard_normal((n, DIM)) * (CLUSTER_NOISE / np.sqrt(DIM))
        vecs = (self.centroids[labels] + noise).astype(np.float32)
        ids = np.arange(first_id, first_id + n, dtype=np.int64)
        return Vectors(ids, vecs, labels)

    def corpus(self, n: int) -> Vectors:
        return self._draw(self._rng_corpus, 0, n)

    def ingest_batch(self, first_id: int, n: int) -> Vectors:
        """New vectors from the corpus model, ids from ``first_id``."""
        return self._draw(self._rng_ingest, first_id, n)

    def near_queries(self, base: Vectors, first_qid: int, n: int) -> Vectors:
        """``n`` queries, each a random ``base`` vector plus noise;
        query ids ``first_qid ..``. Distinct by construction (the
        noise is continuous)."""
        src = self._rng_query.integers(0, len(base), size=n)
        noise = self._rng_query.standard_normal((n, DIM)) * (QUERY_NOISE / np.sqrt(DIM))
        vecs = (base.vecs[src].astype(np.float64) + noise).astype(np.float32)
        ids = np.arange(first_qid, first_qid + n, dtype=np.int64)
        return Vectors(ids, vecs, base.labels[src].copy())

    def ingest_queries(self, fresh: Vectors, base: Vectors, first_qid: int,
                       n: int, n_fresh: int) -> Vectors:
        """A search batch for the ingest loop: ``n_fresh`` queries that
        are exact copies of just-upserted vectors (read-your-writes)
        followed by near-corpus queries over ``base``."""
        pick = self._rng_query.choice(len(fresh), size=n_fresh, replace=False)
        own = fresh.take(np.sort(pick))
        rest = self.near_queries(base, first_qid + n_fresh, n - n_fresh)
        ids = np.arange(first_qid, first_qid + n_fresh, dtype=np.int64)
        return Vectors(
            np.concatenate([ids, rest.ids]),
            np.concatenate([own.vecs, rest.vecs]),
            np.concatenate([own.labels, rest.labels]),
        )

    def choose_deletes(self, live_ids: np.ndarray, n: int) -> np.ndarray:
        return np.sort(self._rng_ingest.choice(live_ids, size=n, replace=False))

    def zipf_stream(self, pool_size: int, length: int, a: float = 1.1) -> np.ndarray:
        """Request order over a query pool: pool index i is drawn with
        probability proportional to 1/(i+1)^a, so a few pool entries
        repeat often and the tail is seen rarely."""
        w = 1.0 / np.arange(1, pool_size + 1) ** a
        return self._rng_stream.choice(pool_size, size=length, p=w / w.sum())

    # -- judgments --

    def qrels(self, corpus: Vectors, queries: Vectors) -> np.ndarray:
        """Graded qrels as a structured array (query_id, doc_id,
        relevance); see the module docstring for the rule."""
        judged: dict[int, list[tuple[int, int]]] = {}
        for lab in np.unique(queries.labels):
            members = np.nonzero(corpus.labels == lab)[0]
            d = corpus.vecs[members].astype(np.float64) @ self.centroids[lab]
            best = members[np.argsort(-d, kind="stable")][:QRELS_PER_LABEL]
            judged[int(lab)] = [(int(corpus.ids[i]), 2 if r < QRELS_GRADE2 else 1)
                                for r, i in enumerate(best)]
        rows = [(int(q), doc, grade) for q, lab in zip(queries.ids, queries.labels)
                for doc, grade in judged[int(lab)]]
        return np.array(rows, dtype=[("query_id", "i8"), ("doc_id", "i8"), ("relevance", "i4")])


def vectors_table(v: Vectors) -> pa.Table:
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.vecs.ravel(), pa.float32()), DIM)
    return pa.table(
        [pa.array(v.ids, pa.int64()), emb.cast(pa.list_(pa.float32())),
         pa.array(v.labels, pa.int32())],
        schema=TABLE_SCHEMA,
    )


def write_vectors(data_dir: str, name: str, v: Vectors) -> None:
    """``<data_dir>/<name>.parquet`` in the testdata shape."""
    pq.write_table(vectors_table(v), os.path.join(data_dir, f"{name}.parquet"))


def write_qrels(data_dir: str, name: str, qrels: np.ndarray) -> None:
    t = pa.table(
        [pa.array(qrels["query_id"]), pa.array(qrels["doc_id"]),
         pa.array(qrels["relevance"])],
        schema=QRELS_SCHEMA,
    )
    pq.write_table(t, os.path.join(data_dir, f"{name}.parquet"))
