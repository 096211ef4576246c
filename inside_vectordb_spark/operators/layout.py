"""Storage layout operators: Z-order (Morton) clustering for
multi-column data skipping.

Parquet scans prune row groups / files with min-max statistics; a sort
on ONE column makes only that column's stats tight. Interleaving the
bits of two columns (the Morton / Z-order curve) makes BOTH columns'
value ranges locally narrow in every output file, so predicates on
either column (or both) skip most of the data — the technique behind
Delta/Iceberg ``ZORDER BY``. The reference has no storage layer at
all (NPZ blobs); at 100 TB layout IS the query optimizer's biggest
lever, so the engine ships it as a first-class operator.

The key is computed with pure Catalyst bit arithmetic (no UDF): for
each of ``bits`` positions, one term ``((x >> i) & 1) << 2i`` and one
``((y >> i) & 1) << (2i+1)``, summed with ``bitwise OR``. 16 bits per
column covers 65k distinct bucketed values — plenty, since inputs are
first rank-bucketed into [0, 2^bits) to be scale- and skew-proof.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def morton_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Interleave the low ``bits`` of two non-negative int columns into
    one Z-order key (x in even positions, y in odd)."""
    key = F.lit(0).cast("long")
    for i in range(bits):
        xb = F.shiftleft(F.shiftright(x.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i)
        yb = F.shiftleft(
            F.shiftright(y.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
        key = key.bitwiseOR(xb).bitwiseOR(yb)
    return key


def zorder_write(
    df: DataFrame,
    path: str,
    col_x: str,
    col_y: str,
    n_files: int = 8,
    bits: int = 16,
) -> None:
    """Cluster ``df`` on the Z-curve of (col_x, col_y) and land it as
    ``n_files`` parquet files, each covering a compact 2-D tile of the
    key space — the write-side half of data skipping. The inputs are
    min-max scaled into [0, 2^bits) first (Z-order needs bounded
    non-negative ints; real columns are arbitrary), with the bounds
    computed in the same single pass Spark already makes for the range
    exchange. ``repartitionByRange`` gives contiguous, balanced key
    ranges per file; the within-file sort tightens row-group stats."""
    lo_x, hi_x, lo_y, hi_y = df.select(
        F.min(col_x), F.max(col_x), F.min(col_y), F.max(col_y)
    ).first()
    span = (1 << bits) - 1

    def scaled(c: str, lo, hi) -> Column:
        if hi == lo:
            return F.lit(0)
        # the (col - lo) difference must leave integer domain BEFORE
        # the * span multiply: for a bigint column spanning more than
        # ~2^63/span (epoch-microsecond timestamps over a few years),
        # the long-domain product wraps and the Morton key interleaves
        # garbage bits — files stop covering compact tiles and the
        # min-max skipping this operator exists for is silently
        # destroyed (review r9-3)
        delta = (F.col(c) - F.lit(lo)).cast("double")
        return (delta * span / (F.lit(hi) - F.lit(lo)).cast("double")).cast("long")

    keyed = df.withColumn(
        "__z", morton_key(scaled(col_x, lo_x, hi_x), scaled(col_y, lo_y, hi_y), bits)
    )
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_small_files(
    spark,
    src: str | list[str],
    dst: str,
    target_file_bytes: int = 128 << 20,
    open_cost_bytes: int = 256 << 10,
) -> dict:
    """Small-file compaction (Delta ``OPTIMIZE`` / Iceberg
    ``rewrite_data_files`` analogue): rewrite a fragmented parquet
    directory into ~``target_file_bytes`` files WITHOUT a shuffle.

    The trick is Spark's own scan bin-packing: with
    ``spark.sql.files.maxPartitionBytes`` set to the target and
    ``openCostInBytes`` charging each file a padding cost, the
    FileSourceScan packs many small files into one input split — so a
    plain read→write emits one right-sized output file per split.
    ``open_cost_bytes`` is deliberately far below Spark's 4 MB
    default: each packed file is charged ``size + open_cost``, so a
    4 MB charge caps packing at ~2 tiny files per 8 MB split —
    exactly the fragmentation compaction is meant to remove.
    Zero exchanges in the plan; at 100 TB the job is pure sequential
    I/O and embarrassingly parallel (splits = bytes / target), which
    is why every lakehouse compactor uses exactly this shape.

    ``src`` may list several unpartitioned directories of one schema
    (a relation and its upsert deltas); they are read as one scan.

    Returns {"files_before", "files_after", "bytes"} for audit.
    """
    import glob as _glob

    def _datafiles(d: str) -> list[str]:
        return [
            p
            for p in _glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
            if os.path.isfile(p)
        ]

    srcs = [src] if isinstance(src, str) else src
    before = [p for d in srcs for p in _datafiles(d)]
    total = sum(os.path.getsize(p) for p in before)
    # minPartitionNum defaults to the cluster parallelism, which makes
    # the scan SHRINK splits below maxPartitionBytes to keep every
    # core busy — the right default for queries, the opposite of what
    # a compactor wants. Pin it to 1 so split size == target size.
    overrides = {
        "spark.sql.files.maxPartitionBytes": str(target_file_bytes),
        "spark.sql.files.openCostInBytes": str(open_cost_bytes),
        "spark.sql.files.minPartitionNum": "1",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        spark.read.parquet(*srcs).write.mode("overwrite").parquet(dst)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return {
        "files_before": len(before),
        "files_after": len(_datafiles(dst)),
        "bytes": total,
    }
