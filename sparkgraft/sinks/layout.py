"""Storage-layout sinks: partitioned writes and small-file compaction.

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


def write_with_stats(
    df: DataFrame,
    path: str,
    stats_cols: Sequence[str],
    sort_col: "str | Column | None" = None,
    n_files: int = 8,
    fmt: str = "parquet",
) -> None:
    """Write + file-level min/max manifest — Delta/Iceberg-style data
    skipping as plain parquet: after the write, one pass over the
    written files aggregates per-file (min, max, null-count) for
    ``stats_cols`` into a ``_stats`` manifest beside the data
    (underscore-prefixed → invisible to normal readers).

    ``sort_col`` range-partitions + sorts the write on that column so
    each file covers a TIGHT value range — that's what makes the
    manifest selective (an unsorted write gives every file the full
    range and skipping prunes nothing).  For multi-dimensional
    selectivity pass :func:`zorder_key` (any Column works as the sort
    key) — files then cover tight ranges on EVERY interleaved
    dimension, and one manifest prunes filters on any of them
    (asserted in tests/test_layout.py).

    At 100 TB the manifest is one row per file — millions of rows at
    most, the same scale as the driver's own file listing.
    """
    w = df
    if sort_col is not None:
        key = F.col(sort_col) if isinstance(sort_col, str) else sort_col
        w = df.repartitionByRange(n_files, key).sortWithinPartitions(key)
    w.write.mode("overwrite").format(fmt).save(path)
    written = df.sparkSession.read.format(fmt).load(path)
    aggs = []
    for c in stats_cols:
        aggs += [
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(
                f"nulls_{c}"
            ),
        ]
    man = written.groupBy(
        F.input_file_name().alias("file")
    ).agg(F.count("*").alias("n_rows"), *aggs)
    man.write.mode("overwrite").parquet(f"{path}/_stats")


def manifest_local_df(spark: SparkSession, path: str) -> DataFrame:
    """A skipping/bloom MANIFEST as a LOCAL relation (r14, guide §1
    driver round-trips): manifests are metadata-sized (one row per
    data file), yet every prune decision paid a full distributed
    parquet-scan job + collect per call.  Reading the tiny file(s)
    driver-side via pyarrow and re-entering them as a LocalRelation
    lets the predicate + collect fold to a driver-local
    LocalTableScan — ZERO jobs per prune, no AQE stage round-trips —
    while still re-reading the manifest from parquet on every call
    (nothing is cached across invocations).  Arrow→Spark type mapping
    is exact for the manifest column classes (strings, longs,
    doubles, UTC-adjusted timestamps, array<long> bitmaps) — pinned
    against the distributed read in tests/test_layout.py.  Any
    surprise (non-local path, unreadable footer) falls back to the
    distributed read."""
    try:
        import pyarrow.parquet as pq

        return spark.createDataFrame(pq.read_table(path))
    except Exception:
        return spark.read.parquet(path)


def prune_files(spark: SparkSession, path: str, keep: Column) -> list[str]:
    """Evaluate a manifest predicate (over the ``min_*``/``max_*``/
    ``nulls_*``/``n_rows`` columns) and return the surviving file list.
    The standard range predicate for ``col BETWEEN lo AND hi`` is
    ``(max_col >= lo) AND (min_col <= hi)`` — any file whose stats
    range misses the query range is skipped without opening it."""
    man = manifest_local_df(spark, f"{path}/_stats")
    return sorted(
        r["file"] for r in man.filter(keep).select("file").collect()
    )


def read_skipping(
    spark: SparkSession, path: str, keep: Column, fmt: str = "parquet"
) -> DataFrame:
    """Scan only the files the manifest predicate keeps.  The caller
    still applies the exact row-level filter — skipping is a superset
    guarantee (file stats bound the file's contents), so
    ``read_skipping(...).filter(p)`` ≡ ``read(path).filter(p)`` with
    fewer files opened (both asserted in tests/test_layout.py)."""
    files = prune_files(spark, path, keep)
    if not files:
        return spark.read.format(fmt).load(path).limit(0)
    return spark.read.format(fmt).load(files)


def append_with_stats(
    df: DataFrame,
    path: str,
    stats_cols: Sequence[str],
    sort_col: "str | Column | None" = None,
    n_files: int = 4,
    fmt: str = "parquet",
) -> None:
    """Incremental manifest maintenance — the daily-ingest shape for a
    skipping-indexed table: append the new rows as their own (sorted)
    files and compute manifest rows for ONLY those files, appended to
    the ``_stats`` manifest.  Existing data files and their manifest
    rows are untouched; no history is re-scanned, ever (the
    append_bm25_index / append_ann_index discipline applied to layout
    metadata).  The merged manifest exactly describes old ∪ new —
    asserted in tests against a from-scratch rebuild.

    New files are identified by an anti-join against the existing
    manifest's file column (never a driver-side listing collect), so
    the whole append is metadata-scale distributed work."""
    # Materialized BEFORE the append below — the manifest is both read
    # (old file set) and appended to in this function, and a lazy scan
    # could otherwise list the manifest after the new rows land.
    old_files = (
        df.sparkSession.read.parquet(f"{path}/_stats")
        .select("file")
        .localCheckpoint()
    )
    w = df
    if sort_col is not None:
        key = F.col(sort_col) if isinstance(sort_col, str) else sort_col
        w = df.repartitionByRange(n_files, key).sortWithinPartitions(key)
    w.write.mode("append").format(fmt).save(path)
    written = df.sparkSession.read.format(fmt).load(path)
    aggs = []
    for c in stats_cols:
        aggs += [
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(
                f"nulls_{c}"
            ),
        ]
    new_man = (
        written.withColumn("file", F.input_file_name())
        .join(F.broadcast(old_files), "file", "left_anti")
        .groupBy("file")
        .agg(F.count("*").alias("n_rows"), *aggs)
    )
    new_man.write.mode("append").parquet(f"{path}/_stats")


def _file_blooms(
    written: DataFrame,
    bloom_cols: Sequence[str],
    bits: int,
    hashes: int,
    salt: str,
) -> DataFrame:
    """Per-(file, column) Bloom bitmaps: the scale.bloom_bitmap
    construction grouped by file — (file, bloom_<col> array<long>)."""
    from sparkgraft.operators.scale import _bloom_pos

    n_words = bits // 64
    out = None
    for c in bloom_cols:
        positions = F.array(
            *[_bloom_pos(h, F.col(c), bits, salt) for h in range(hashes)]
        )
        words = written.select(
            F.input_file_name().alias("file"), F.explode(positions).alias("pos")
        ).select(
            "file",
            (F.col("pos") / 64).cast("int").alias("word_idx"),
            F.expr("shiftleft(1L, cast(pmod(pos, 64) as int))").alias("bit"),
        )
        per_word = words.groupBy("file", "word_idx").agg(
            F.bit_or("bit").alias("w")
        )
        bm = per_word.groupBy("file").agg(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_words - 1)),
                lambda i: F.coalesce(
                    F.element_at(
                        F.map_from_entries(
                            F.collect_list(F.struct("word_idx", "w"))
                        ),
                        i,
                    ),
                    F.lit(0).cast("long"),
                ),
            ).alias(f"bloom_{c}")
        )
        out = bm if out is None else out.join(bm, "file")
    return out


def write_bloom_manifest(
    spark: SparkSession,
    path: str,
    bloom_cols: Sequence[str],
    bits: int = 4096,
    hashes: int = 3,
    salt: str = "bloom",
    fmt: str = "parquet",
) -> None:
    """Add per-file Bloom filters for EQUALITY skipping beside the
    min/max ``_stats`` manifest: range stats can't prune point lookups
    on high-cardinality unsorted columns (every file's [min, max]
    spans the domain), a per-file Bloom can — the Delta/Iceberg
    bloom-filter-index move as plain parquet (``_blooms``, underscore-
    invisible).  One scan of the table builds all columns' bitmaps;
    query with :func:`bloom_keep` through :func:`prune_files` /
    :func:`read_skipping_blooms`.  No false negatives by construction
    (same md5 positions at build and probe)."""
    written = spark.read.format(fmt).load(path)
    _file_blooms(written, bloom_cols, bits, hashes, salt).write.mode(
        "overwrite"
    ).parquet(f"{path}/_blooms")


def bloom_keep(
    col_name: str,
    value,
    bits: int = 4096,
    hashes: int = 3,
    salt: str = "bloom",
) -> Column:
    """Manifest predicate for ``col = value`` against a ``_blooms``
    manifest: true iff every hash position's bit is set in the file's
    ``bloom_<col>`` bitmap — i.e. the file MIGHT contain the value
    (the caller's row filter stays exact).

    For int/str values the hash positions are CONSTANTS — computed
    driver-side with the same md5 recipe ``_bloom_pos`` evaluates
    (``pmod(conv(substr(md5('h|salt|value'),1,8),16,10), bits)``;
    python md5 of the identical string, bit-identical by
    construction) and rendered as one SQL text, instead of ``hashes``
    md5/conv/shift expression trees per value: a 5-value IN-lookup
    built ~500 py4j expression nodes per call (r13 optimization
    round — the dominant cost of bloom_travel's query construction,
    1.59 s/call at sf0.1).  Column-typed values keep the expression
    path."""
    import hashlib

    from sparkgraft.operators.scale import _bloom_pos, _shiftright_var

    if hashes < 1:
        # Degenerate config: the expression path used to return None
        # and the fast path an unparseable '()' — fail loudly and
        # identically instead (r13 advice item).
        raise ValueError(f"bloom_keep: hashes must be >= 1, got {hashes}")
    # EXACT types only (r13 advice item): an int subclass whose str()
    # differs from Spark's cast-to-string (e.g. IntEnum on older
    # Pythons) would hash a different string than the expression path
    # and silently prune the WRONG files — false negatives.  bool is
    # an int subclass and is excluded by the same rule.
    if type(value) in (int, str):
        tests = []
        for h in range(hashes):
            p = (
                int(
                    hashlib.md5(
                        f"{h}|{salt}|{value}".encode()
                    ).hexdigest()[:8],
                    16,
                )
                % bits
            )
            tests.append(
                f"(shiftright(element_at(`bloom_{col_name}`, "
                f"{p // 64 + 1}), {p % 64}) & 1) = 1"
            )
        return F.expr("(" + " AND ".join(tests) + ")")
    cond = None
    for h in range(hashes):
        pos = _bloom_pos(h, F.lit(value), bits, salt)
        word = F.element_at(
            F.col(f"bloom_{col_name}"), (pos / 64).cast("int") + F.lit(1)
        )
        test = (
            _shiftright_var(word, F.pmod(pos, F.lit(64))).bitwiseAND(F.lit(1))
            == 1
        )
        cond = test if cond is None else (cond & test)
    return cond


def read_skipping_blooms(
    spark: SparkSession, path: str, keep: Column, fmt: str = "parquet"
) -> DataFrame:
    """Like :func:`read_skipping` but pruning with the ``_blooms``
    manifest (predicates built with :func:`bloom_keep`).

    Staleness guard: a file present in the table but ABSENT from the
    bloom manifest (e.g. appended after the last
    :func:`write_bloom_manifest`) is always kept — skipping must never
    produce false negatives, so unindexed files are scanned until the
    manifest is rebuilt (the rebuild is one full-table pass)."""
    man = manifest_local_df(spark, f"{path}/_blooms")
    # ONE bounded collect carrying the keep verdict (and, with the
    # local manifest read, zero jobs — the filter folds to a driver
    # LocalTableScan).
    rows = man.select("file", keep.alias("__keep")).collect()
    kept = {r["file"] for r in rows if r["__keep"]}
    indexed = {r["file"] for r in rows}
    # inputFiles() is file-index metadata — no data scan.
    table_files = set(spark.read.format(fmt).load(path).inputFiles())
    files = sorted(kept | (table_files - indexed))
    if not files:
        return spark.read.format(fmt).load(path).limit(0)
    return spark.read.format(fmt).load(files)
