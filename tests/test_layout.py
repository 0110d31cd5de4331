"""Storage-layout behaviors: partition pruning reaches the scan,
compaction reduces file counts losslessly, corrupt CSV rows are
captured row-level (T3's badRecords analog)."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from sparkgraft.plans import audit
from sparkgraft.sinks.layout import compact_directory, write_partitioned
from sparkgraft.sources.readers import read_table
from tests.conftest import SF_DIR


def test_partitioned_write_prunes_at_scan(spark, tmp_path):
    events = read_table(spark, SF_DIR, "events")
    path = str(tmp_path / "by_type")
    write_partitioned(events, path, ["event_type"])
    # One directory per type on disk.
    assert len(glob.glob(f"{path}/event_type=*")) == 5
    df = spark.read.parquet(path).filter(F.col("event_type") == "purchase")
    plan = audit.explain_str(df)
    assert "PartitionFilters: [isnotnull(event_type" in plan, plan
    # Pruned read returns exactly the partition's rows.
    want = events.filter(F.col("event_type") == "purchase").count()
    assert df.count() == want


def test_compaction_reduces_files_losslessly(spark, tmp_path):
    events = read_table(spark, SF_DIR, "events").limit(1000)
    src = str(tmp_path / "small_files")
    events.repartition(16).write.parquet(src)
    assert len(glob.glob(f"{src}/part-*.parquet")) == 16
    dst = str(tmp_path / "compacted")
    compact_directory(spark, src, dst, target_files=2)
    assert len(glob.glob(f"{dst}/part-*.parquet")) == 2
    assert spark.read.parquet(dst).count() == 1000


def test_corrupt_csv_rows_captured_not_fatal(spark, tmp_path):
    p = tmp_path / "mixed.csv"
    p.write_text(
        "ts,channel,value\n"
        "2025-01-01T00:00:00,C1,1.5\n"
        "not-a-timestamp,C2,oops,extra\n"
        "2025-01-01T00:00:02,C3,2.5\n"
    )
    df = spark.read.options(header="true", mode="PERMISSIVE", columnNameOfCorruptRecord="_bad").schema(
        "ts TIMESTAMP, channel STRING, value DOUBLE, _bad STRING"
    ).csv(str(p))
    rows = df.collect()
    good = [r for r in rows if r["_bad"] is None]
    bad = [r for r in rows if r["_bad"] is not None]
    assert len(good) == 2 and len(bad) == 1
    assert bad[0]["_bad"].startswith("not-a-timestamp")


def test_backfill_date_pruning(spark):
    """The dated-directory backfill (q_backfill_dated) must prune at
    the scan: a date filter over the partitioned landing zone reaches
    PartitionFilters, and the streaming drain's counts equal the
    pruned batch counts."""
    import __spark_entry__ as m

    sf_dir = "/root/testdata/sf0.001"
    got = {
        (r["date"], r["event_type"]): r["n"]
        for r in m.q_backfill_dated(spark, sf_dir).collect()
    }
    assert got, "backfill returned no rows"

    # The memoized landing zone the drain read — never glob /tmp, where
    # stale dirs from other sessions (other scale factors) linger.
    landing = m._backfill_landing(spark, sf_dir)

    # Batch partition inference types `date` as DateType (the streaming
    # schema declares it string) — compare on the string form.
    dates = sorted(
        str(r["date"])
        for r in spark.read.parquet(landing).select("date").distinct().collect()
    )
    backfill_from = dates[1] if len(dates) > 1 else dates[0]
    batch = spark.read.parquet(landing).filter(
        F.col("date") >= F.lit(backfill_from).cast("date")
    )
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(date" in plan or (
        "PartitionFilters: [" in plan and "date#" in plan.split("PartitionFilters: [")[1][:120]
    ), plan
    want = {
        (str(r["date"]), r["event_type"]): r["n"]
        for r in batch.groupBy("date", "event_type").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert got == want
    # Only backfill-window dates are present.
    assert all(d >= backfill_from for d, _ in got)


def test_zorder_tightens_rowgroup_stats_on_both_dims(spark, tmp_path):
    """Z-order layout must give narrow row-group min/max ranges on BOTH
    dimensions; an x-only sort leaves the y ranges near-full-width —
    the property multi-dim pruning depends on."""
    import pyarrow.parquet as pq
    import glob

    from sparkgraft.sinks.layout import write_zordered

    # decorrelated dims via md5-derived bytes (id-arithmetic dims would
    # leave x and y correlated, weakening the single-sort baseline)
    df = spark.range(32768).select(
        F.conv(F.substring(F.md5(F.concat(F.lit("zx"), F.col("id"))), 1, 2), 16, 10)
        .cast("long")
        .alias("x"),
        F.conv(F.substring(F.md5(F.concat(F.lit("zy"), F.col("id"))), 1, 2), 16, 10)
        .cast("long")
        .alias("y"),
    )
    zdir, xdir = str(tmp_path / "z"), str(tmp_path / "x")
    write_zordered(df, zdir, ["x", "y"], bits=8, n_files=8)
    df.repartitionByRange(8, "x").sortWithinPartitions("x").write.parquet(xdir)

    def avg_ranges(d):
        spans = {"x": [], "y": []}
        for f in glob.glob(f"{d}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if name in spans and col.statistics is not None:
                        spans[name].append(
                            col.statistics.max - col.statistics.min
                        )
        return {k: sum(v) / len(v) for k, v in spans.items()}

    z, x = avg_ranges(zdir), avg_ranges(xdir)
    # x-sort: tight on x, near-full-width on y.  z-order with 8 files
    # ≈ a 3-bit key split (y7, x7, y6 interleaved): BOTH dims bounded
    # well under full width — the multi-dim pruning property.
    # (Observed: x-sort {x: ~2, y: ~255}; z-order {x: ~147, y: ~88}.)
    assert x["y"] > 200, x
    assert z["x"] < 192 and z["y"] < 128, z
    assert z["y"] < x["y"] / 2, (z, x)


def test_manifest_local_df_matches_distributed_read(spark, tmp_path):
    """Round-14: prune decisions read manifests as a driver-local
    LocalRelation (zero jobs) — pin schema and values, including the
    risky type classes (UTC-adjusted timestamps, array<long> bloom
    bitmaps, doubles, nulls), against the distributed parquet read,
    and confirm the filter+collect plan is a LocalTableScan."""
    from pyspark.sql import functions as F

    from sparkgraft.sinks.versioned import manifest_local_df

    p = str(tmp_path / "manifest")
    spark.range(5).select(
        F.concat(F.lit("f"), F.col("id")).alias("file"),
        F.col("id").alias("n_rows"),
        (F.col("id") * 1.5).alias("min_value"),
        F.when(F.col("id") % 2 == 0, F.col("id") * 2.5).alias("max_value"),
        F.to_timestamp(F.lit("2024-01-10 12:34:56.789012")).alias("min_ts"),
        F.array(F.col("id"), F.lit(-1).cast("long")).alias("bloom_user_id"),
    ).coalesce(1).write.parquet(p)
    local = manifest_local_df(spark, p)
    dist = spark.read.parquet(p)
    assert [f.dataType.simpleString() for f in local.schema.fields] == [
        f.dataType.simpleString() for f in dist.schema.fields
    ], (local.schema, dist.schema)
    lc = sorted(map(tuple, local.collect()))
    dc = sorted(map(tuple, dist.collect()))
    assert lc == dc
    # the prune path (filter + collect) folds to a LocalTableScan —
    # no distributed scan node in the plan
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        local.filter(F.col("n_rows") > 1).explain()
    plan = buf.getvalue()
    assert "Scan parquet" not in plan, plan
    # unreadable path -> falls back to the distributed reader (raises
    # the same AnalysisException class the old path did)
    import pytest
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException), pytest.warns(UserWarning):
        manifest_local_df(spark, str(tmp_path / "missing")).collect()


def test_manifest_local_df_fallback_warns(spark, tmp_path, monkeypatch):
    """A failed local read falls back to the distributed read and says
    so: the warning names the path and the exception class, and the
    rows are the distributed read's."""
    import pyarrow.parquet as pq
    import pytest

    from sparkgraft.sinks.versioned import manifest_local_df

    p = str(tmp_path / "manifest")
    spark.range(3).selectExpr(
        "concat('f', id) AS file", "id AS n_rows"
    ).write.parquet(p)

    def boom(*args, **kwargs):
        raise OSError("unreadable footer")

    monkeypatch.setattr(pq, "read_table", boom)
    match = r"manifest_local_df\(.*manifest\).*OSError"
    with pytest.warns(UserWarning, match=match):
        got = manifest_local_df(spark, p)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, spark.read.parquet(p).collect())
    )


def test_bloom_keep_python_positions_match_sql_expression(spark):
    """Property test (r13 verdict task 1): bloom_keep's driver-side
    fast path re-implements the _bloom_pos md5 recipe in Python — pin
    position equality against the SQL expression over a value grid
    (ints incl. negatives/extremes, strings incl. empty/unicode/
    pipes), plus the guard behaviors (bool/float take the expression
    path; hashes < 1 raises for both paths)."""
    import hashlib

    import pytest
    from pyspark.sql import functions as F

    from sparkgraft.operators.scale import _bloom_pos
    from sparkgraft.sinks.versioned import bloom_keep

    values = [
        0, 1, -1, 7, -42, 2**31, -(2**31), 2**62, 999999937,
        "", "a", "user|7", "0", "-1", "späth", "x" * 64, "`;drop",
    ]
    bits, hashes, salt = 4096, 3, "bloom"
    rows = []
    for v in values:
        for h in range(hashes):
            py = int(hashlib.md5(f"{h}|{salt}|{v}".encode()).hexdigest()[:8], 16) % bits
            rows.append((str(type(v).__name__), repr(v), h, py))
    # SQL positions for every (value, h) via the expression kernel
    df = spark.createDataFrame(
        [(repr(v), v if isinstance(v, str) else None,
          v if isinstance(v, int) else None) for v in values],
        "key string, sv string, iv long",
    )
    for h in range(hashes):
        df = df.withColumn(
            f"ps_{h}", _bloom_pos(h, F.coalesce(F.col("sv"), F.col("iv").cast("string")), bits, salt)
        )
    got = {(r["key"], h): r[f"ps_{h}"] for r in df.collect() for h in range(hashes)}
    for tname, key, h, py in rows:
        assert got[(key, h)] == py, (key, h, py, got[(key, h)])
    # guards: bool / non-exact types use the expression path (a Column
    # that references the bitmap column), never the constant fast path
    for odd in (True, False, 3.5):
        c = bloom_keep("user_id", odd)
        assert "bloom_user_id" in str(c._jc.toString())
    with pytest.raises(ValueError, match="hashes"):
        bloom_keep("user_id", 7, hashes=0)
    with pytest.raises(ValueError, match="hashes"):
        bloom_keep("user_id", F.col("x"), hashes=0)
