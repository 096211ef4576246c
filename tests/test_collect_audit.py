"""Standing audit of driver-side ``.collect()`` sites.

Every collect() ships rows through the driver; at 100 TB that is a
bottleneck or an OOM unless the relation is BOUNDED by construction.
Round-6 session 2: the labels below were re-audited against the
actual sites (several had drifted), the pq_det tombstone path and
the pq_det-deleted registry fixture moved to executor-side
DataFrames (a crawl-scale delete set must never round-trip the
driver), leaving registry/ann.py and operators/pq_det.py at zero.
Each budgeted site below has been audited as driver-sized (1-row
stats literals, k-row centroid/codebook tables, per-query probe-cid
lists, bounded BPE argmax batches, |Q|-row query matrices under a
documented broadcast contract). Adding a NEW collect() fails this
test on purpose: update the budget only with the same justification,
or keep the work on the executors (persist/localCheckpoint — see
streaming/dedup_stream.py, which this audit forced off a per-batch
driver round-trip in round 6).

``.toArrow()`` and ``.toPandas()`` ship rows through the driver just
as ``.collect()`` does, so they count as sites too; each budgeted one
names the bound that keeps it driver-sized.
"""

from __future__ import annotations

import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "inside_vectordb_spark")

# file (relative to package root) -> audited number of .collect(),
# .toArrow() and .toPandas() sites
COLLECT_BUDGET = {
    "operators/ann.py": 2,            # |Q|-row probe query matrix; the
                                      # ≤ sample_limit (8192) k-means
                                      # training sample (toPandas)
    "operators/ann_index.py": 1,      # meta fingerprints (1-row aggs); the
                                      # k-row codebook/SQ-stat reads go
                                      # through _meta_io.read_parquet_rows
                                      # (pyarrow driver read of bounded
                                      # artifacts — optimization r12); the
                                      # two |Q|-row query-matrix collects
                                      # left with the stochastic IVF and
                                      # IVF-PQ tiers
    "operators/ann_sign.py": 5,       # probed-cid lists (≤ |Q|·n_probe): the
                                      # shared pruned_scan (det-IVF, km-IVF
                                      # and det-IVFPQ read through it) and
                                      # the four sign-LSH probed-bucket sets
    "operators/bm25.py": 1,           # 1-row corpus stats literal (N, avgdl)
    "operators/compare.py": 2,        # per-method 1-row metric tables
    "operators/hnsw_index.py": 6,     # |Q|-row query matrix (broadcast
                                      # contract, as topk.py); the driver
                                      # upsert's delta read (toArrow of
                                      # limit(_DRIVER_UPSERT_MAX_VECTORS
                                      # + 1) rows, 8,000 + 1); the
                                      # incremental compaction's
                                      # tombstone routing (_route_ids,
                                      # ≤ deletes, the mark_deleted
                                      # contract; a local relation, so no
                                      # job); build's and the executor
                                      # upsert's per-part counts and the
                                      # executor compaction's live counts
                                      # (each ≤ n_parts rows — they
                                      # maintain meta part_counts so
                                      # incremental OPTIMIZE's dirty
                                      # decision costs zero graph I/O);
                                      # tombstone ids are read through
                                      # _meta_io
    "operators/lexical_index.py": 4,  # 1-row stats + per-bucket offset rows
    "operators/partitioned_ann.py": 1,  # per-partition top-k merge (≤ parts·Q·k)
    "operators/pq.py": 2,             # |Q|-row query matrix; the ≤8192-row
                                      # codebook training sample (toPandas,
                                      # documented cap)
    "operators/ranks.py": 2,          # quantile-boundary literals (≤ n_buckets rows)
    "operators/rm3.py": 1,            # |Q|×fb_terms weight table (bounded
                                      # knobs); the duplicated corpus-stats
                                      # collect moved into bm25's shared
                                      # corpus_bm25_stats (review r7)
    "operators/sq.py": 1,             # 1-row min/max stats literal
    "operators/topk.py": 2,           # query-matrix broadcast (documented
                                      # contract); the driver placement's
                                      # corpus read (toArrow), taken only
                                      # when the plan's size estimate is
                                      # ≤ _RESIDENT_MAX_BYTES (64 MiB)
    "operators/traindata.py": 3,      # BPE argmax batches (≤30 rows/round);
                                      # DSIR log-ratio table (≤ n_buckets
                                      # = 4096 rows — replaced the leaked
                                      # O(occurrences) persist, advice r6)
    "registry/core.py": 1,            # report_roundtrip's ≤10 metric rows
                                      # (the report SINK is a driver-side
                                      # json.dump by design — S11)
    "registry/pipeline.py": 1,        # temperature_mixture 1-row max-weight agg
    "registry/traindata.py": 1,       # bpe_vocab 8-row learned merge table
}


def _count_collects() -> dict[str, int]:
    out: dict[str, int] = {}
    pat = re.compile(r"\.(?:collect|toArrow|toPandas)\(\)")
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            p = os.path.join(root, f)
            rel = os.path.relpath(p, PKG)
            n = 0
            for line in open(p, encoding="utf-8"):
                stripped = line.split("#", 1)[0]
                n += len(pat.findall(stripped))
            if n:
                out[rel] = n
    return out


def test_no_new_driver_collect_sites():
    got = _count_collects()
    assert got == COLLECT_BUDGET, (
        "driver-side collect()/toArrow()/toPandas() sites changed — audit the new/removed "
        f"sites and update COLLECT_BUDGET.\n got={got}\n want={COLLECT_BUDGET}"
    )
