"""Float64 NumPy oracle for every answer the benchmark collects.

The oracle keeps its own copy of the live corpus (upserts appended,
deletes masked) and recomputes cosine scores in float64 from the same
float32 inputs the engine reads. Checks return a list of violation
strings; an empty list means the answer is correct. A request with any
violation counts as a failed op.

Exact search: per query exactly ``min(k, live)`` rows, ranks 1..n,
distinct live ids, every score within ``TOL`` of the oracle score and
none below the oracle's k-th best score minus ``TOL``.

HNSW search (approximate): at most k rows per query, ranks 1..n,
distinct ids that are live, never a deleted id, scores within ``TOL``
of the oracle. Recall@k against the oracle is measured, not checked.

``evaluation_report``: every (metric, k) value equals a NumPy
recomputation over the same rows, under the engine's documented
semantics (``operators/metrics.py``), within ``TOL``.
"""

from __future__ import annotations

import numpy as np

# The engine rounds scores and metric values to 6 decimals: the largest
# honest difference from a float64 recomputation is 5e-7.
TOL = 1e-6

RESULT_DTYPE = [("query_id", "i8"), ("doc_id", "i8"), ("score", "f8"), ("rank", "i8")]


def normalize(mat: np.ndarray) -> np.ndarray:
    mat = np.asarray(mat, dtype=np.float64)
    n = np.linalg.norm(mat, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return mat / n


def result_array(rows) -> np.ndarray:
    """Collected ``(query_id, doc_id, score, rank)`` Rows → structured
    array."""
    out = np.empty(len(rows), dtype=RESULT_DTYPE)
    for i, r in enumerate(rows):
        out[i] = (r["query_id"], r["doc_id"], r["score"], r["rank"])
    return out


class LiveSet:
    """The oracle's view of the corpus: float64 unit vectors, with a
    live mask that deletes clear and a record of every id ever
    deleted."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray) -> None:
        self.ids = np.asarray(ids, dtype=np.int64).copy()
        self.mat = normalize(vecs)
        self.alive = np.ones(len(self.ids), dtype=bool)
        self.deleted: set[int] = set()
        self._pos = {int(i): p for p, i in enumerate(self.ids)}

    def add(self, ids: np.ndarray, vecs: np.ndarray) -> None:
        base = len(self.ids)
        for off, i in enumerate(ids):
            if int(i) in self._pos:
                raise ValueError(f"oracle: id {int(i)} added twice")
            self._pos[int(i)] = base + off
        self.ids = np.concatenate([self.ids, np.asarray(ids, dtype=np.int64)])
        self.mat = np.vstack([self.mat, normalize(vecs)])
        self.alive = np.concatenate([self.alive, np.ones(len(ids), dtype=bool)])

    def delete(self, ids) -> None:
        for i in ids:
            self.alive[self._pos[int(i)]] = False
            self.deleted.add(int(i))

    @property
    def n_live(self) -> int:
        return int(self.alive.sum())

    def live_ids(self) -> np.ndarray:
        return self.ids[self.alive]

    def scores(self, qvecs: np.ndarray) -> np.ndarray:
        """(Q, n) cosine scores; dead rows are −inf."""
        s = normalize(qvecs) @ self.mat.T
        s[:, ~self.alive] = -np.inf
        return s

    def position(self, doc_id: int) -> int | None:
        return self._pos.get(int(doc_id))


def _group(res: np.ndarray) -> dict[int, np.ndarray]:
    res = res[np.lexsort((res["rank"], res["query_id"]))]
    keys, starts = np.unique(res["query_id"], return_index=True)
    bounds = list(starts[1:]) + [len(res)]
    return {int(q): res[a:b] for q, a, b in zip(keys, starts, bounds)}


def _check_rows(live: LiveSet, qid: int, got: np.ndarray, srow: np.ndarray,
                k: int) -> list[str]:
    """Checks shared by both search paths for one query's rows."""
    bad = []
    if len(got) > k:
        bad.append(f"q{qid}: {len(got)} rows > k={k}")
    if not np.array_equal(got["rank"], np.arange(1, len(got) + 1)):
        bad.append(f"q{qid}: ranks {got['rank'].tolist()} are not 1..n")
    if len(np.unique(got["doc_id"])) != len(got):
        bad.append(f"q{qid}: duplicate doc ids")
    for doc, score in zip(got["doc_id"], got["score"]):
        if int(doc) in live.deleted:
            bad.append(f"q{qid}: deleted id {int(doc)} returned")
            continue
        p = live.position(doc)
        if p is None or not live.alive[p]:
            bad.append(f"q{qid}: unknown id {int(doc)} returned")
            continue
        if abs(score - srow[p]) > TOL:
            bad.append(f"q{qid}: id {int(doc)} score {score} != oracle {srow[p]:.9f}")
    if len(got) > 1 and np.any(np.diff(got["score"]) > TOL):
        bad.append(f"q{qid}: scores not descending by rank")
    return bad


def check_exact(live: LiveSet, qids: np.ndarray, qvecs: np.ndarray,
                res: np.ndarray, k: int) -> list[str]:
    """Violations of the exact-search contract (empty list = correct)."""
    s = live.scores(qvecs)
    by_q = _group(res)
    bad = [f"q{q}: rows for a query that was not sent" for q in set(by_q) - set(map(int, qids))]
    want = min(k, live.n_live)
    for r, qid in enumerate(map(int, qids)):
        got = by_q.get(qid, np.empty(0, dtype=RESULT_DTYPE))
        if len(got) != want:
            bad.append(f"q{qid}: {len(got)} rows, expected {want}")
        bad += _check_rows(live, qid, got, s[r], k)
        if want:
            kth = np.partition(s[r], -want)[-want]
            low = got["score"] < kth - TOL
            if low.any():
                bad.append(f"q{qid}: score {got['score'][low].min()} below k-th best {kth:.9f}")
    return bad


def check_hnsw(live: LiveSet, qids: np.ndarray, qvecs: np.ndarray,
               res: np.ndarray, k: int) -> tuple[list[str], int, int]:
    """Violations of the approximate-search contract, plus
    (hits, possible): how many returned ids are in the oracle's top-k
    (ties at the k-th score count) out of ``Q·min(k, live)``."""
    s = live.scores(qvecs)
    by_q = _group(res)
    bad = [f"q{q}: rows for a query that was not sent" for q in set(by_q) - set(map(int, qids))]
    want = min(k, live.n_live)
    hits = 0
    for r, qid in enumerate(map(int, qids)):
        got = by_q.get(qid, np.empty(0, dtype=RESULT_DTYPE))
        bad += _check_rows(live, qid, got, s[r], k)
        if want:
            kth = np.partition(s[r], -want)[-want]
            pos = [live.position(d) for d in got["doc_id"]]
            hits += min(want, sum(1 for p in pos if p is not None and s[r, p] >= kth - 1e-12))
    return bad, hits, want * len(qids)


# -- evaluation_report recomputation --

def evaluation_numpy(res: np.ndarray, qrels: np.ndarray,
                     k_recall=(1, 5, 10, 20, 50, 100),
                     k_precision=(1, 5, 10)) -> dict[tuple[str, int | None], float]:
    """Recall@K, Precision@K and MRR under ``operators/metrics.py``
    semantics: relevance is membership in qrels; recall skips queries
    without judgments (0.0 when none qualifies); precision divides by
    what was retrieved at K; MRR zero-fills. Values rounded to 6
    decimals like the engine's."""
    rel: dict[int, set[int]] = {}
    for q, d in zip(qrels["query_id"], qrels["doc_id"]):
        rel.setdefault(int(q), set()).add(int(d))
    by_q = _group(res)
    out: dict[tuple[str, int | None], float] = {}
    for k in k_recall:
        vals = []
        for q, rows in by_q.items():
            if q in rel:
                top = rows[rows["rank"] <= k]["doc_id"]
                vals.append(sum(int(d) in rel[q] for d in top) / len(rel[q]))
        out[("recall", k)] = round(float(np.mean(vals)), 6) if vals else 0.0
    for k in k_precision:
        vals = []
        for q, rows in by_q.items():
            top = rows[rows["rank"] <= k]["doc_id"]
            hit = sum(int(d) in rel.get(q, ()) for d in top)
            vals.append(hit / len(top) if len(top) else 0.0)
        out[("precision", k)] = round(float(np.mean(vals)), 6) if vals else 0.0
    rr = []
    for q, rows in by_q.items():
        ranks = [int(r) for d, r in zip(rows["doc_id"], rows["rank"]) if int(d) in rel.get(q, ())]
        rr.append(1.0 / min(ranks) if ranks else 0.0)
    out[("mrr", None)] = round(float(np.mean(rr)), 6) if rr else 0.0
    return out


def check_evaluation(engine_rows, res: np.ndarray, qrels: np.ndarray) -> list[str]:
    """Compare collected ``evaluation_report`` rows (metric, k, value)
    with the NumPy recomputation over the same result rows."""
    want = evaluation_numpy(res, qrels)
    got = {(r["metric"], r["k"]): r["value"] for r in engine_rows}
    bad = []
    if set(got) != set(want):
        bad.append(f"eval: keys {sorted(map(str, got))} != {sorted(map(str, want))}")
    for key, v in want.items():
        g = got.get(key)
        if g is None or abs(g - v) > TOL + 1e-12:
            bad.append(f"eval: {key} engine {g} != numpy {v}")
    return bad
