"""Storage-layout sinks: Z-order clustering, partitioned writes and
small-file compaction — physical layout only.  Per-file skipping
metadata (min/max stats, Bloom bitmaps) lives in the versioned commit
log (sinks/versioned.py).

At 100 TB, layout is a first-class operator: date/key-partitioned
parquet gives the scanner partition pruning (queries touch only the
directories they need), and periodic compaction keeps file counts sane
when a streaming pipeline lands one small file per trigger (the
reference's 30 s cadence would produce ~1M files/year per logger).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def zorder_key(cols: Sequence[Column], bits: int = 8) -> Column:
    """Z-order (Morton) key: interleave the low ``bits`` bits of each
    non-negative integer column into one sort key.

    Sorting a write by this key co-clusters rows on EVERY input
    dimension at once, so parquet row-group min/max statistics prune
    scans filtered on any of them — the multi-dimensional layout trick
    (Delta/Iceberg OPTIMIZE ZORDER) as a pure column expression.
    Callers quantize real-valued dimensions to ints first (rank,
    bucket, or min/max scale).  bit b of column c lands at position
    b * n_cols + c, so the key fits in a long for
    bits * n_cols <= 63.
    """
    n = len(cols)
    if bits * n > 63:
        raise ValueError("bits * n_cols must fit in a signed long")
    key = F.lit(0).cast("long")
    for c_idx, col in enumerate(cols):
        v = col.cast("long")
        for b in range(bits):
            key = key + F.shiftleft(
                F.shiftright(v, b).bitwiseAND(F.lit(1)), b * n + c_idx
            )
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bits: int = 8,
    n_files: int = 8,
    fmt: str = "parquet",
) -> None:
    """Write ``df`` clustered by the Z-order of ``cols`` (already
    integer-quantized): range-partition on the key so files cover
    disjoint key ranges, sort within each partition so row groups
    within a file are tight on every dimension."""
    keyed = df.withColumn("_zkey", zorder_key([F.col(c) for c in cols], bits))
    (
        keyed.repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .format(fmt)
        .save(path)
    )


def write_partitioned(
    df: DataFrame, path: str, partition_cols: Sequence[str], fmt: str = "parquet"
) -> None:
    """Hive-style partitioned write — downstream filters on the
    partition columns prune directories before any I/O."""
    df.write.mode("overwrite").partitionBy(*partition_cols).format(fmt).save(path)


def compact_directory(
    spark: SparkSession,
    src: str,
    dst: str,
    target_files: int,
    fmt: str = "parquet",
) -> None:
    """Rewrite a many-small-files dataset into ``target_files`` files.

    ``coalesce`` (not ``repartition``): no shuffle — each output task
    concatenates a set of input files.  Run per partition directory in
    production so compaction parallelizes across partitions.
    """
    df = spark.read.format(fmt).load(src)
    df.coalesce(target_files).write.mode("overwrite").format(fmt).save(dst)
