"""Versioned snapshot tables: time travel, append vs overwrite,
atomic pointer, vacuum of unreachable files, history audit."""

from __future__ import annotations

import os

import pytest

from sparkgraft.sinks.versioned import (
    _read_manifest,
    _side_table,
    latest_version,
    read_versioned,
    table_history,
    vacuum,
    write_versioned,
)


def _stats_table(table_dir, version):
    """The per-file stats table a committed version recorded."""
    return _side_table(
        table_dir, _read_manifest(table_dir, version), "stats_file"
    )


def df_of(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id long")


def ids(df):
    return sorted(r["id"] for r in df.collect())


def _per_version_diff(spark, t, key_cols, compare_cols, include_values=False):
    """Reference CDC rows: every committed version's snapshot_diff
    against its parent (an empty snapshot for version 0), both read
    through read_versioned(version=...)."""
    from pyspark.sql import functions as F

    from sparkgraft.operators.merge import snapshot_diff
    from sparkgraft.sinks.versioned import committed_manifests

    rows = []
    for man in committed_manifests(t):
        new = read_versioned(spark, t, version=man["version"])
        old = (
            new.limit(0)
            if man["parent"] is None
            else read_versioned(spark, t, version=man["parent"])
        )
        diff = snapshot_diff(
            old, new, key_cols, compare_cols, include_values=include_values
        )
        rows += [
            tuple(r)
            for r in diff.filter(F.col("change_type") != "unchanged")
            .withColumn("_commit_version", F.lit(man["version"]))
            .collect()
        ]
    return sorted(rows)


def _drain_cdc(spark, t, key_cols, compare_cols, ckpt, caplog,
               include_values=False):
    """Drain cdc_feed over ``t``; returns its sorted rows and the
    fallback warnings it logged (one at most, naming the first append
    commit that could not take the fast path)."""
    import logging

    from sparkgraft.streaming.pipeline import cdc_feed

    rows = []

    def sink(df, batch_id):
        rows.extend(tuple(r) for r in df.collect())

    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="sparkgraft.streaming"):
        q = cdc_feed(
            spark, t, key_cols, compare_cols, ckpt, sink,
            include_values=include_values,
        )
        q.awaitTermination(120)
    warns = [
        r.getMessage() for r in caplog.records if "failed the" in r.getMessage()
    ]
    return sorted(rows), warns


def test_time_travel_across_versions(spark, tmp_path):
    t = str(tmp_path / "tbl")
    v0 = write_versioned(df_of(spark, [1, 2]), t, mode="overwrite")
    v1 = write_versioned(df_of(spark, [3]), t, mode="append")
    v2 = write_versioned(df_of(spark, [9, 9]), t, mode="overwrite")
    assert (v0, v1, v2) == (0, 1, 2)
    assert ids(read_versioned(spark, t)) == [9, 9]
    assert ids(read_versioned(spark, t, version=0)) == [1, 2]
    assert ids(read_versioned(spark, t, version=1)) == [1, 2, 3]
    assert ids(read_versioned(spark, t, version=2)) == [9, 9]
    hist = table_history(t)
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert [h["operation"] for h in hist] == ["overwrite", "append", "overwrite"]
    assert hist[1]["parent"] == 0


def test_append_reuses_parent_files(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_versioned(df_of(spark, [1]), t)
    n_files_v0 = table_history(t)[0]["n_files"]
    write_versioned(df_of(spark, [2]), t, mode="append")
    hist = table_history(t)
    # v1 manifest includes v0's files plus the new ones
    assert hist[1]["n_files"] > n_files_v0
    data = os.listdir(os.path.join(t, "data"))
    assert all(f.startswith(("v0-", "v1-")) for f in data)


def test_vacuum_removes_only_unreachable(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_versioned(df_of(spark, [1, 2]), t, mode="overwrite")
    write_versioned(df_of(spark, [5, 6]), t, mode="overwrite")
    # plant a STALE crash orphan (unreferenced + old) and a FRESH one
    # (a concurrent writer's in-flight file under the OCC protocol —
    # landed before its manifest claim, must survive the grace window)
    orphan = os.path.join(t, "data", "v9-999.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"junk")
    os.utime(orphan, (1700000000, 1700000000))  # long past the window
    inflight = os.path.join(t, "data", "v9-888.parquet")
    with open(inflight, "wb") as fh:
        fh.write(b"inflight")
    deleted = vacuum(t, keep_versions=1)
    assert "data/v9-999.parquet" in deleted
    assert "data/v9-888.parquet" not in deleted
    assert os.path.exists(inflight)
    os.remove(inflight)
    assert any(d.startswith("data/v0-") for d in deleted)
    # latest still readable; history still auditable
    assert ids(read_versioned(spark, t)) == [5, 6]
    assert len(table_history(t)) == 2
    # time travel to the vacuumed version now fails on missing files
    with pytest.raises(Exception):
        read_versioned(spark, t, version=0).collect()


def test_vacuum_keep_versions_preserves_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_versioned(df_of(spark, [1]), t, mode="overwrite")
    write_versioned(df_of(spark, [2]), t, mode="overwrite")
    deleted = vacuum(t, keep_versions=2)
    assert deleted == []
    assert ids(read_versioned(spark, t, version=0)) == [1]


def test_empty_table_and_bad_mode(spark, tmp_path):
    t = str(tmp_path / "tbl")
    assert latest_version(t) is None
    with pytest.raises(FileNotFoundError):
        read_versioned(spark, t)
    with pytest.raises(ValueError):
        write_versioned(df_of(spark, [1]), t, mode="merge")


def test_compact_table_preserves_data(spark, tmp_path):
    from sparkgraft.sinks.versioned import compact_table

    t = str(tmp_path / "tbl")
    write_versioned(df_of(spark, [1, 2]).repartition(4), t, mode="overwrite")
    write_versioned(df_of(spark, [3, 4]).repartition(4), t, mode="append")
    before = ids(read_versioned(spark, t))
    v = compact_table(spark, t, target_files=1)
    hist = table_history(t)
    assert hist[v]["n_files"] == 1 and hist[v]["n_files"] < hist[v - 1]["n_files"]
    assert ids(read_versioned(spark, t)) == before == [1, 2, 3, 4]
    # pre-compaction version still time-travels
    assert ids(read_versioned(spark, t, version=v - 1)) == before


def test_versioned_stats_skipping_prunes_and_is_transparent(spark, tmp_path):
    """Skipping composed with versioning: per-file stats live in the
    commit metadata, a time-travel read prunes with a range predicate,
    and the pruned read is result-transparent vs the full snapshot."""
    from pyspark.sql import functions as F

    from sparkgraft.sinks.versioned import (
        read_versioned,
        read_versioned_skipping,
        write_versioned,
    )

    t = str(tmp_path / "vt")
    rows = [(i, float(i * 10)) for i in range(4000)]
    df = spark.createDataFrame(rows, "k long, v double")
    v0 = write_versioned(
        df, t, mode="overwrite", stats_cols=["k"], sort_col="k", n_files=8
    )
    assert v0 == 0
    lo, hi = 100, 300
    keep = (F.col("max_k") >= lo) & (F.col("min_k") <= hi)
    pruned = read_versioned_skipping(spark, t, keep, version=0)
    # pruning is real: the sorted 8-file layout keeps only a file subset
    assert 0 < len(pruned.inputFiles()) < len(
        read_versioned(spark, t, version=0).inputFiles()
    )
    # and transparent: pruned ∘ filter ≡ full ∘ filter
    a = sorted(
        tuple(r) for r in pruned.filter(F.col("k").between(lo, hi)).collect()
    )
    b = sorted(
        tuple(r)
        for r in read_versioned(spark, t, version=0)
        .filter(F.col("k").between(lo, hi))
        .collect()
    )
    assert a == b and len(a) == hi - lo + 1
    # a predicate no file survives: zero rows with the table's columns
    nothing = read_versioned_skipping(
        spark, t, F.col("max_k") < F.lit(-1), version=0
    )
    assert nothing.count() == 0 and nothing.columns == ["k", "v"]


def test_zorder_sort_col_with_stats_prunes_both_dims(spark, tmp_path):
    """A zorder_key sort_col and stats_cols in ONE write_versioned: the
    commit's per-file stats prune range filters on EITHER interleaved
    dimension, and both pruned reads stay exact."""
    from pyspark.sql import functions as F

    from sparkgraft.sinks.layout import zorder_key
    from sparkgraft.sinks.versioned import read_versioned_skipping
    from sparkgraft.sources.readers import read_table
    from tests.conftest import SF_DIR

    ev = read_table(spark, SF_DIR, "events").select(
        "event_id",
        F.dayofmonth("ts").cast("long").alias("day"),
        F.pmod(F.col("user_id"), 32).cast("long").alias("ubkt"),
    )
    t = str(tmp_path / "vt")
    write_versioned(
        ev, t, mode="overwrite", stats_cols=["day", "ubkt"],
        sort_col=zorder_key([F.col("day"), F.col("ubkt")], bits=5),
        n_files=16,
    )
    total = len(_read_manifest(t, 0)["files"])
    for col, lo, hi in (("day", 3, 6), ("ubkt", 10, 13)):
        keep = (F.col(f"max_{col}") >= lo) & (F.col(f"min_{col}") <= hi)
        pruned = read_versioned_skipping(spark, t, keep)
        assert 0 < len(pruned.inputFiles()) < total, (col, total)
        row_filter = F.col(col).between(lo, hi)
        got = sorted(map(tuple, pruned.filter(row_filter).collect()))
        want = sorted(
            map(tuple, read_versioned(spark, t).filter(row_filter).collect())
        )
        assert got == want and got


def test_versioned_stats_append_carries_parent_stats(spark, tmp_path):
    """Append commits stats for the NEW files only and carries the
    parent's rows — the merged stats table equals a rebuild, and
    time-travel skipping works on both versions."""
    from pyspark.sql import functions as F

    from sparkgraft.sinks.versioned import (
        read_versioned,
        read_versioned_skipping,
        write_versioned,
    )

    t = str(tmp_path / "vt")
    base = spark.createDataFrame(
        [(i, "a") for i in range(1000)], "k long, src string"
    )
    extra = spark.createDataFrame(
        [(i, "b") for i in range(1000, 1500)], "k long, src string"
    )
    write_versioned(base, t, mode="overwrite", stats_cols=["k"],
                    sort_col="k", n_files=4)
    write_versioned(extra, t, mode="append", stats_cols=["k"],
                    sort_col="k", n_files=2)
    s0 = spark.read.parquet(_stats_table(t, 0))
    s1 = spark.read.parquet(_stats_table(t, 1))
    assert s1.count() == s0.count() + 2  # parent rows carried + 2 new
    # v1 stats describe exactly v1's manifest files
    man_files = set(read_versioned(spark, t, version=1).inputFiles())
    # skipping into the appended range touches only appended files
    keep = (F.col("max_k") >= 1200) & (F.col("min_k") <= 1210)
    pruned = read_versioned_skipping(spark, t, keep, version=1)
    assert set(pruned.inputFiles()) <= man_files
    got = sorted(
        r["k"] for r in pruned.filter(F.col("k").between(1200, 1210)).collect()
    )
    assert got == list(range(1200, 1211))
    # version 0 remains independently skippable (time travel)
    keep0 = (F.col("max_k") >= 10) & (F.col("min_k") <= 20)
    p0 = read_versioned_skipping(spark, t, keep0, version=0)
    assert sorted(
        r["k"] for r in p0.filter(F.col("k").between(10, 20)).collect()
    ) == list(range(10, 21))


def test_versioned_skipping_requires_stats(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    from sparkgraft.sinks.versioned import (
        read_versioned_skipping,
        write_versioned,
    )

    t = str(tmp_path / "vt")
    write_versioned(
        spark.createDataFrame([(1,)], "k long"), t, mode="overwrite"
    )
    with pytest.raises(ValueError, match="without stats_cols"):
        read_versioned_skipping(spark, t, F.lit(True), version=0)


def test_cdc_feed_streams_commits_and_replays_identically(spark, tmp_path):
    """Streaming CDC from versioned commits: each commit's manifest
    arrives as a micro-batch and emits snapshot_diff vs its parent;
    a replay re-emits bit-identical rows; a later commit arrives
    incrementally."""
    from pyspark.sql import functions as F

    from sparkgraft.operators.merge import snapshot_diff
    from sparkgraft.sinks.versioned import read_versioned, write_versioned
    from sparkgraft.streaming.pipeline import cdc_feed

    t = str(tmp_path / "vt")
    rows0 = [(i, float(i)) for i in range(100)]
    # v1: drop 0-9, change 10-19, add 100-109
    rows1 = [(i, float(i) + (100.0 if i < 20 else 0.0)) for i in range(10, 110)]
    df0 = spark.createDataFrame(rows0, "k long, v double")
    df1 = spark.createDataFrame(rows1, "k long, v double")
    write_versioned(df0, t, mode="overwrite")
    write_versioned(df1, t, mode="overwrite")

    got: dict[int, list] = {}

    def sink(df, batch_id):
        got.setdefault(batch_id, []).extend(
            sorted(tuple(r) for r in df.collect())
        )

    q = cdc_feed(spark, t, ["k"], ["v"], str(tmp_path / "c1"), sink)
    q.awaitTermination(120)
    all_rows = sorted(r for rows in got.values() for r in rows)

    # expected: v0 all-added + v1 diff (unchanged dropped)
    v0 = read_versioned(spark, t, version=0)
    v1 = read_versioned(spark, t, version=1)
    exp0 = [
        (*r, 0)
        for r in sorted(
            tuple(x)
            for x in snapshot_diff(v0.limit(0), v0, ["k"], ["v"]).collect()
        )
    ]
    exp1 = [
        (*r, 1)
        for r in sorted(
            tuple(x)
            for x in snapshot_diff(v0, v1, ["k"], ["v"])
            .filter(F.col("change_type") != "unchanged")
            .collect()
        )
    ]
    assert all_rows == sorted(exp0 + exp1)

    # replay with a fresh checkpoint: bit-identical rows
    got2: dict[int, list] = {}

    def sink2(df, batch_id):
        got2.setdefault(batch_id, []).extend(
            sorted(tuple(r) for r in df.collect())
        )

    q2 = cdc_feed(spark, t, ["k"], ["v"], str(tmp_path / "c2"), sink2)
    q2.awaitTermination(120)
    assert sorted(r for rows in got2.values() for r in rows) == all_rows

    # incremental: a third commit emits ONLY its own diff
    df2 = spark.createDataFrame(
        [(i, float(i)) for i in range(50, 150)], "k long, v double"
    )
    write_versioned(df2, t, mode="overwrite")
    before = len(all_rows)
    q3 = cdc_feed(spark, t, ["k"], ["v"], str(tmp_path / "c1"), sink)
    q3.awaitTermination(120)
    new_rows = sorted(r for rows in got.values() for r in rows)[
        :
    ]
    only_new = [r for r in new_rows if r[-1] == 2]
    exp2 = [
        (*r, 2)
        for r in sorted(
            tuple(x)
            for x in snapshot_diff(
                v1, read_versioned(spark, t, version=2), ["k"], ["v"]
            )
            .filter(F.col("change_type") != "unchanged")
            .collect()
        )
    ]
    assert only_new == exp2
    assert len(new_rows) == before + len(exp2)


def test_stream_cdc_summary_equals_batch_version_cdc(spark):
    """The drained stream_cdc summary's v1 slice equals the batch
    version_cdc query minus its 'unchanged' row."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    stream = {
        (r["change_type"], r["cols"]): r["n"]
        for r in em.queries()["stream_cdc"](spark, sf).collect()
        if r["commit_version"] == 1
    }
    batch = {
        (r["change_type"], r["cols"]): r["n"]
        for r in em.queries()["version_cdc"](spark, sf).collect()
        if r["change_type"] != "unchanged"
    }
    assert stream == batch and len(batch) >= 3  # added/removed/changed


def test_delete_versioned_stats_pruned_rewrite(spark, tmp_path):
    """Copy-on-write DELETE: only stats-surviving files rewrite; every
    other file carries over byte-identical (same physical file in the
    child manifest); result equals a full-table delete; the parent
    stays time-travel readable."""
    from pyspark.sql import functions as F

    from sparkgraft.sinks.versioned import (
        _read_manifest,
        delete_versioned,
        read_versioned,
        read_versioned_skipping,
        write_versioned,
    )

    t = str(tmp_path / "vt")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(4000)], "k long, v double"
    )
    write_versioned(df, t, mode="overwrite", stats_cols=["k"],
                    sort_col="k", n_files=8)
    lo, hi = 500, 700
    keep = (F.col("max_k") >= lo) & (F.col("min_k") <= hi)
    v1 = delete_versioned(
        spark, t, F.col("k").between(lo, hi), stats_keep=keep,
        sort_col="k", n_files=2,
    )
    assert v1 == 1
    m0 = _read_manifest(t, 0)
    m1 = _read_manifest(t, 1)
    carried = set(m0["files"]) & set(m1["files"])
    assert len(carried) >= 5  # most of the 8 sorted files untouched
    assert len(m1["files"]) < len(m0["files"]) + 2
    got = sorted(r["k"] for r in read_versioned(spark, t, version=1).collect())
    assert got == [i for i in range(4000) if not (lo <= i <= hi)]
    # parent unchanged (time travel)
    assert read_versioned(spark, t, version=0).count() == 4000
    # child commit-log stats stay usable for skipping
    p = read_versioned_skipping(
        spark, t,
        (F.col("max_k") >= 3000) & (F.col("min_k") <= 3010), version=1,
    )
    assert sorted(
        r["k"] for r in p.filter(F.col("k").between(3000, 3010)).collect()
    ) == list(range(3000, 3011))


def test_delete_versioned_null_predicate_rows_kept(spark, tmp_path):
    from pyspark.sql import functions as F

    from sparkgraft.sinks.versioned import (
        delete_versioned,
        read_versioned,
        write_versioned,
    )

    t = str(tmp_path / "vt")
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], "k long, v double"
    )
    write_versioned(df, t, mode="overwrite")
    delete_versioned(spark, t, F.col("v") > 20.0)  # NULL -> kept
    got = sorted(r["k"] for r in read_versioned(spark, t).collect())
    assert got == [1, 2]


def test_upsert_versioned_auto_pruned_merge(spark, tmp_path):
    """MERGE upsert: updates land, new keys insert, files outside the
    source key range carry over unrewritten, and the result equals the
    SQL MERGE semantics."""
    from pyspark.sql import functions as F

    from sparkgraft.sinks.versioned import (
        _read_manifest,
        read_versioned,
        upsert_versioned,
        write_versioned,
    )

    t = str(tmp_path / "vt")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(4000)], "k long, v double"
    )
    write_versioned(df, t, mode="overwrite", stats_cols=["k"],
                    sort_col="k", n_files=8)
    src = spark.createDataFrame(
        [(100, -1.0), (150, -2.0), (4200, -3.0)], "k long, v double"
    )
    v1 = upsert_versioned(spark, t, src, ["k"], sort_col="k", n_files=2)
    assert v1 == 1
    m0, m1 = _read_manifest(t, 0), _read_manifest(t, 1)
    # source range [100, 4200] spans most files here, but at least the
    # carryover mechanism must keep manifest arithmetic consistent
    carried = set(m0["files"]) & set(m1["files"])
    got = {r["k"]: r["v"] for r in read_versioned(spark, t, version=1).collect()}
    assert got[100] == -1.0 and got[150] == -2.0 and got[4200] == -3.0
    assert len(got) == 4001 and got[99] == 99.0

    # a narrow-range upsert carries over nearly every file
    src2 = spark.createDataFrame([(10, -9.0), (11, -8.0)], "k long, v double")
    upsert_versioned(spark, t, src2, ["k"], sort_col="k", n_files=1)
    m2 = _read_manifest(t, 2)
    carried2 = set(m1["files"]) & set(m2["files"])
    assert len(carried2) >= len(m1["files"]) - 2
    got2 = {r["k"]: r["v"] for r in read_versioned(spark, t).collect()}
    assert got2[10] == -9.0 and got2[11] == -8.0 and len(got2) == 4001


def test_versioned_sink_streaming_ingest_exactly_once(spark, tmp_path):
    """Streaming ingest commits one append version per micro-batch;
    a crash replay (wiped checkpoint, same files) does not double-
    commit; cdc_feed downstream sees each ingest batch as an
    added-only commit."""
    from sparkgraft.sinks.versioned import (
        latest_version,
        read_versioned,
        stats_summary,
        table_history,
    )
    from sparkgraft.streaming.pipeline import cdc_feed, versioned_sink

    src = tmp_path / "in"
    src.mkdir()
    (src / "b1.csv").write_text("k,v\n1,10\n2,20\n")
    (src / "b2.csv").write_text("k,v\n3,30\n")
    t = str(tmp_path / "vt")

    def drain(ckpt):
        stream = (
            spark.readStream.schema("k LONG, v LONG")
            .option("header", "true")
            .option("maxFilesPerTrigger", "1")
            .csv(str(src))
        )
        q = versioned_sink(
            stream, t, str(tmp_path / ckpt), stats_cols=["k"], n_files=1
        )
        q.awaitTermination(120)

    drain("c1")
    assert latest_version(t) == 1  # two batches -> versions 0 and 1
    assert read_versioned(spark, t).count() == 3
    # metadata-only summary equals the scan
    s = stats_summary(spark, t).first()
    assert s["n_rows"] == 3 and s["min_k"] == 1 and s["max_k"] == 3

    # crash replay: wipe the checkpoint; same files replay as batches
    # 0/1 — the manifest batch-id ledger must skip BOTH commits
    import shutil

    shutil.rmtree(str(tmp_path / "c1"))
    drain("c1")
    assert latest_version(t) == 1
    assert read_versioned(spark, t).count() == 3

    # cdc_feed downstream: each ingest commit is added-only
    got: dict[int, list] = {}

    def sink(df, batch_id):
        got.setdefault(batch_id, []).extend(
            sorted(tuple(r) for r in df.collect())
        )

    q = cdc_feed(spark, t, ["k"], ["v"], str(tmp_path / "cdc"), sink)
    q.awaitTermination(120)
    rows = sorted(r for rs in got.values() for r in rs)
    # row shape: (k, change_type, changed_cols, _commit_version)
    assert [r[-3] for r in rows] == ["added"] * 3
    assert {r[-1] for r in rows} <= {0, 1}  # per-commit attribution
    assert len(table_history(t)) == 2


def test_read_versioned_merge_schema_evolution(spark, tmp_path):
    """Schema evolution: an appended version carries a new column;
    merge_schema reads reconcile (old files -> NULL)."""
    from sparkgraft.sinks.versioned import read_versioned, write_versioned

    t = str(tmp_path / "vt")
    write_versioned(
        spark.createDataFrame([(1, 10.0)], "k long, v double"), t,
        mode="overwrite",
    )
    write_versioned(
        spark.createDataFrame(
            [(2, 20.0, "x")], "k long, v double, tag string"
        ),
        t,
        mode="append",
    )
    out = read_versioned(spark, t, merge_schema=True)
    assert set(out.columns) == {"k", "v", "tag"}
    rows = {r["k"]: r["tag"] for r in out.collect()}
    assert rows == {1: None, 2: "x"}


def test_stats_summary_matches_full_scan(spark, tmp_path):
    from pyspark.sql import functions as F

    from sparkgraft.sinks.versioned import (
        read_versioned,
        stats_summary,
        write_versioned,
    )

    t = str(tmp_path / "vt")
    df = spark.createDataFrame(
        [(i, float(i) if i % 5 else None) for i in range(777)],
        "k long, v double",
    )
    write_versioned(df, t, mode="overwrite", stats_cols=["k", "v"],
                    sort_col="k", n_files=5)
    meta = stats_summary(spark, t).first()
    full = read_versioned(spark, t).agg(
        F.count("*").alias("n"),
        F.min("k").alias("mink"), F.max("k").alias("maxk"),
        F.min("v").alias("minv"), F.max("v").alias("maxv"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).alias("nullv"),
    ).first()
    assert meta["n_rows"] == full["n"]
    assert meta["min_k"] == full["mink"] and meta["max_k"] == full["maxk"]
    assert meta["min_v"] == full["minv"] and meta["max_v"] == full["maxv"]
    assert meta["nulls_v"] == full["nullv"]


def test_view_maintainer_equals_direct_aggregate(spark, tmp_path):
    """IVM: after append + COW delete + group-migrating MERGE, the
    incrementally maintained view equals the direct aggregate of the
    latest snapshot, exactly; replay applies nothing twice."""
    from pyspark.sql import functions as F

    from sparkgraft.sinks.versioned import (
        delete_versioned,
        read_versioned,
        upsert_versioned,
        write_versioned,
    )
    from sparkgraft.streaming.pipeline import view_maintainer

    t = str(tmp_path / "vt")
    rows = [(i, ["lo", "mid", "hi"][i % 3], float(i)) for i in range(600)]
    df = spark.createDataFrame(rows, "k long, grp string, v double")
    write_versioned(df, t, mode="overwrite", stats_cols=["k"],
                    sort_col="k", n_files=4)
    # append
    write_versioned(
        spark.createDataFrame(
            [(i, "hi", 1.5) for i in range(600, 650)],
            "k long, grp string, v double",
        ),
        t, mode="append", stats_cols=["k"], sort_col="k", n_files=1,
    )
    # COW delete
    delete_versioned(
        spark, t, F.col("k").between(100, 199),
        stats_keep=(F.col("max_k") >= 100) & (F.col("min_k") <= 199),
        sort_col="k", n_files=2,
    )
    # group-migrating MERGE: keys 0-49 move to grp 'moved' with v+1000
    src = spark.createDataFrame(
        [(i, "moved", float(i) + 1000.0) for i in range(50)],
        "k long, grp string, v double",
    )
    upsert_versioned(spark, t, src, ["k"], sort_col="k", n_files=2)

    view_dir = str(tmp_path / "view")

    def drain(ckpt):
        q = view_maintainer(
            spark, t, ["grp"], ["v"], ["k"], view_dir,
            str(tmp_path / ckpt),
        )
        q.awaitTermination(300)

    drain("c1")
    got = {
        r["grp"]: (r["n_rows"], r["sum_v"])
        for r in read_versioned(spark, view_dir).collect()
    }
    want = {
        r["grp"]: (r["n"], r["s"])
        for r in read_versioned(spark, t)
        .groupBy("grp")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("v").cast("decimal(27,6)"))
            .cast("decimal(38,6)")
            .alias("s"),
        )
        .collect()
    }
    assert got == want and "moved" in got

    # replay: wiped checkpoint re-delivers every commit; the view's own
    # manifest ledger must skip all of them
    import shutil

    from sparkgraft.sinks.versioned import latest_version

    v_before = latest_version(view_dir)
    shutil.rmtree(str(tmp_path / "c1"))
    drain("c1")
    assert latest_version(view_dir) == v_before
    got2 = {
        r["grp"]: (r["n_rows"], r["sum_v"])
        for r in read_versioned(spark, view_dir).collect()
    }
    assert got2 == want

    # incremental: one more commit updates the view without replaying
    # history
    write_versioned(
        spark.createDataFrame([(9000, "lo", 2.0)], "k long, grp string, v double"),
        t, mode="append", stats_cols=["k"], sort_col="k", n_files=1,
    )
    drain("c1")
    got3 = {
        r["grp"]: (r["n_rows"], r["sum_v"])
        for r in read_versioned(spark, view_dir).collect()
    }
    assert got3["lo"][0] == want["lo"][0] + 1


def test_compact_table_zorder_with_stats(spark, tmp_path):
    """OPTIMIZE ZORDER parity: z-ordered compaction + recommitted
    stats prune range filters on BOTH interleaved dimensions."""
    from pyspark.sql import functions as F

    from sparkgraft.sinks.versioned import (
        compact_table,
        read_versioned,
        read_versioned_skipping,
        write_versioned,
    )

    t = str(tmp_path / "vt")
    rows = [(x, y, float(x * 100 + y)) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x long, y long, v double").repartition(7)
    write_versioned(df, t, mode="overwrite")
    v = compact_table(
        spark, t, target_files=16, zorder_cols=["x", "y"], zorder_bits=6,
        stats_cols=["x", "y"],
    )
    total = len(read_versioned(spark, t, version=v).inputFiles())
    assert total == 16
    for col, lo, hi in (("x", 5, 8), ("y", 40, 43)):
        keep = (F.col(f"max_{col}") >= lo) & (F.col(f"min_{col}") <= hi)
        pruned = read_versioned_skipping(spark, t, keep, version=v)
        assert len(pruned.inputFiles()) < total  # pruning on this dim
        got = sorted(
            tuple(r)
            for r in pruned.filter(F.col(col).between(lo, hi)).collect()
        )
        want = sorted(r for r in rows if lo <= r[0 if col == "x" else 1] <= hi)
        assert got == want


def test_versioned_sink_expectations_quarantine(spark, tmp_path):
    """The T3 dead-letter discipline on lakehouse commits: rows
    failing an expectation commit to the quarantine table with their
    failed rules; admitted rows commit to the main table; a torn
    crash between the two commits heals on replay (per-table
    ledgers)."""
    import shutil

    from pyspark.sql import functions as F

    from sparkgraft.sinks.versioned import latest_version, read_versioned
    from sparkgraft.streaming.pipeline import versioned_sink

    src = tmp_path / "in"
    src.mkdir()
    (src / "b1.csv").write_text("k,v\n1,10\n2,-5\n3,\n4,40\n")
    t = str(tmp_path / "main")
    q = str(tmp_path / "quarantine")
    rules = {
        "v_positive": F.col("v") > 0,   # NULL v fails too
        "k_small": F.col("k") < 100,
    }

    def drain(ckpt):
        stream = (
            spark.readStream.schema("k LONG, v LONG")
            .option("header", "true")
            .csv(str(src))
        )
        s = versioned_sink(
            stream, t, str(tmp_path / ckpt), n_files=1,
            expectations=rules, quarantine_dir=q,
        )
        s.awaitTermination(120)

    drain("c1")
    good = sorted(r["k"] for r in read_versioned(spark, t).collect())
    assert good == [1, 4]
    bad = {
        r["k"]: r["_failed_rules"]
        for r in read_versioned(spark, q).collect()
    }
    assert bad == {2: "v_positive", 3: "v_positive"}

    # torn crash: quarantine commit lost, checkpoint wiped -> replay
    # must re-land ONLY the quarantine half
    shutil.rmtree(q)
    shutil.rmtree(str(tmp_path / "c1"))
    drain("c1")
    assert latest_version(t) == 0  # main not double-committed
    assert sorted(read_versioned(spark, q).toPandas()["k"]) == [2, 3]


def test_merge_sink_streaming_upsert(spark, tmp_path):
    """Streaming MERGE: per-batch upsert commits, last-writer-wins by
    order_col within a batch, cross-batch updates land, a LATE row (an
    older order_col than the stored one, or a NULL order) does not
    overwrite newer stored state while an order tie goes to the later
    batch, an all-late batch commits nothing, and replay after
    checkpoint loss applies nothing twice."""
    import shutil

    from sparkgraft.sinks.versioned import latest_version, read_versioned
    from sparkgraft.streaming.pipeline import merge_sink

    src = tmp_path / "in"
    src.mkdir()
    (src / "b1.csv").write_text("k,v,ord\n1,10,1\n1,11,2\n2,20,1\n")
    t = str(tmp_path / "tbl")

    def drain(ckpt):
        stream = (
            spark.readStream.schema("k LONG, v LONG, ord LONG")
            .option("header", "true")
            .option("maxFilesPerTrigger", "1")
            .csv(str(src))
        )
        s = merge_sink(
            stream, t, ["k"], "ord", str(tmp_path / ckpt),
            stats_cols=["k"], sort_col="k", n_files=2,
        )
        s.awaitTermination(120)

    drain("c1")
    got = {r["k"]: r["v"] for r in read_versioned(spark, t).collect()}
    assert got == {1: 11, 2: 20}  # within-batch last-writer by ord

    (src / "b2.csv").write_text("k,v,ord\n1,99,3\n3,30,1\n")
    drain("c1")
    got = {r["k"]: r["v"] for r in read_versioned(spark, t).collect()}
    assert got == {1: 99, 2: 20, 3: 30}

    # late (ord 1 < stored 3), NULL order, and a tie on ord
    (src / "b3.csv").write_text("k,v,ord\n1,10,1\n2,21,\n3,31,1\n")
    drain("c1")
    got = {r["k"]: r["v"] for r in read_versioned(spark, t).collect()}
    assert got == {1: 99, 2: 20, 3: 31}
    v_after = latest_version(t)
    (src / "b4.csv").write_text("k,v,ord\n1,5,2\n")  # every row late
    drain("c1")
    assert latest_version(t) == v_after

    # full replay: every batch re-delivers; the manifest ledger skips
    shutil.rmtree(str(tmp_path / "c1"))
    drain("c1")
    assert latest_version(t) == v_after
    got = {r["k"]: r["v"] for r in read_versioned(spark, t).collect()}
    assert got == {1: 99, 2: 20, 3: 31}


def test_cdc_feed_append_fast_path_equals_full_diff(spark, tmp_path, caplog):
    """The append fast path (new-files-only, no join) must emit rows
    identical to the per-version snapshot_diff for a keyed append; the
    append's key range is disjoint, so it takes the fast path (no
    fallback warning)."""
    t = str(tmp_path / "vt")
    write_versioned(
        spark.createDataFrame([(i, float(i)) for i in range(50)],
                              "k long, v double"),
        t, mode="overwrite", stats_cols=["k"],
    )
    write_versioned(
        spark.createDataFrame([(i, 1.0) for i in range(50, 80)],
                              "k long, v double"),
        t, mode="append", stats_cols=["k"],
    )
    fast, warns = _drain_cdc(
        spark, t, ["k"], ["v"], str(tmp_path / "cf"), caplog,
        include_values=True,
    )
    assert warns == []
    assert fast == _per_version_diff(
        spark, t, ["k"], ["v"], include_values=True
    )
    assert len(fast) == 80
    added_v1 = [r for r in fast if r[-1] == 1]
    assert len(added_v1) == 30 and all(r[1] == "added" for r in added_v1)


def test_commit_recomputes_missing_carried_stats(spark, tmp_path):
    """ADVICE r5: an append WITH stats_cols onto a parent committed
    WITHOUT stats must not commit a stats table covering only the new
    files — carried files' stats are recomputed so skipping stays a
    superset and stats_summary stays exact."""
    from pyspark.sql import functions as F

    from sparkgraft.sinks.versioned import (
        _read_manifest,
        read_versioned,
        read_versioned_skipping,
        stats_summary,
        write_versioned,
    )

    t = str(tmp_path / "vt")
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(1000)], "k long, v double"
    )
    extra = spark.createDataFrame(
        [(i, 1.0) for i in range(1000, 1200)], "k long, v double"
    )
    write_versioned(base, t, mode="overwrite")  # NO stats
    write_versioned(extra, t, mode="append", stats_cols=["k"],
                    sort_col="k", n_files=2)
    man = _read_manifest(t, 1)
    stats = spark.read.parquet(_stats_table(t, 1))
    covered = {r["file"] for r in stats.select("file").collect()}
    assert covered == set(man["files"])  # EVERY manifest file has stats
    s = stats_summary(spark, t).first()
    assert s["n_rows"] == 1200 and s["min_k"] == 0 and s["max_k"] == 1199
    # skipping into the PARENT's range still sees the parent's rows
    keep = (F.col("max_k") >= 10) & (F.col("min_k") <= 20)
    pruned = read_versioned_skipping(spark, t, keep).filter(
        F.col("k").between(10, 20)
    )
    full = read_versioned(spark, t).filter(F.col("k").between(10, 20))
    assert sorted(r["k"] for r in pruned.collect()) == sorted(
        r["k"] for r in full.collect()
    )


def test_commit_recomputes_carried_stats_on_column_mismatch(spark, tmp_path):
    """Carried stats are reused only when the parent's stats_cols match
    the child's — a mismatch recomputes instead of committing a stats
    table with mixed column meanings."""
    from sparkgraft.sinks.versioned import (
        stats_summary,
        write_versioned,
    )

    t = str(tmp_path / "vt")
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k long, v double"
    )
    write_versioned(base, t, mode="overwrite", stats_cols=["v"])
    write_versioned(
        spark.createDataFrame([(100, 5.0)], "k long, v double"),
        t, mode="append", stats_cols=["k"],
    )
    stats = spark.read.parquet(_stats_table(t, 1))
    assert {"min_k", "max_k", "nulls_k"} <= set(stats.columns)
    s = stats_summary(spark, t).first()
    assert s["n_rows"] == 101 and s["min_k"] == 0 and s["max_k"] == 100


def test_land_files_n_files_without_sort_col(spark, tmp_path):
    """ADVICE r5: n_files without sort_col must still bound the file
    count (the quarantine small-files intent), not silently no-op."""
    from sparkgraft.sinks.versioned import _read_manifest, write_versioned

    t = str(tmp_path / "vt")
    df = spark.createDataFrame(
        [(i,) for i in range(1000)], "k long"
    ).repartition(8)
    write_versioned(df, t, mode="overwrite", n_files=1)
    assert len(_read_manifest(t, 0)["files"]) == 1


def test_upsert_versioned_duplicate_source_keys_raise(spark, tmp_path):
    """ADVICE r5: MERGE requires unique source keys (Delta errors on
    multiple matches) — duplicates raise instead of committing
    duplicate key rows.  NULL source keys never match and insert."""
    import pytest

    from sparkgraft.sinks.versioned import (
        read_versioned,
        upsert_versioned,
        write_versioned,
    )

    t = str(tmp_path / "vt")
    write_versioned(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double"),
        t, mode="overwrite",
    )
    dup_src = spark.createDataFrame(
        [(1, -1.0), (1, -2.0)], "k long, v double"
    )
    with pytest.raises(ValueError, match="duplicate source key"):
        upsert_versioned(spark, t, dup_src, ["k"])
    # NULL key: never matches, inserts alongside
    null_src = spark.createDataFrame([(None, 9.0)], "k long, v double")
    upsert_versioned(spark, t, null_src, ["k"])
    rows = sorted(
        ((r["k"], r["v"]) for r in read_versioned(spark, t).collect()),
        key=str,
    )
    assert (None, 9.0) in rows and (1, 1.0) in rows and len(rows) == 3
    # ADVICE r6: MULTIPLE NULL-key source rows are NOT a duplicate-key
    # conflict — each matches nothing and inserts independently.
    multi_null = spark.createDataFrame(
        [(None, 10.0), (None, 11.0), (3, 3.0)], "k long, v double"
    )
    upsert_versioned(spark, t, multi_null, ["k"])
    rows = sorted(
        ((r["k"], r["v"]) for r in read_versioned(spark, t).collect()),
        key=str,
    )
    assert (None, 10.0) in rows and (None, 11.0) in rows
    assert (None, 9.0) in rows and (3, 3.0) in rows and len(rows) == 6


def test_cdc_append_fast_path_validates_new_keys_contract(
    spark, tmp_path, caplog
):
    """ADVICE r5: the append fast path must not emit a re-added
    existing key as 'added' — with commit-log stats the fresh key range
    is validated and an overlapping append falls back to the full diff;
    a provably disjoint append still takes the fast path.  ADVICE r6:
    the first fallback WARNS (once per stream) so the
    O(table)-per-commit cost cliff is visible to operators."""
    t = str(tmp_path / "vt")
    write_versioned(
        spark.createDataFrame([(i, float(i)) for i in range(50)],
                              "k long, v double"),
        t, mode="overwrite", stats_cols=["k"], sort_col="k", n_files=2,
    )
    # v1: disjoint range (provably new -> fast path) ...
    write_versioned(
        spark.createDataFrame([(i, 1.0) for i in range(50, 60)],
                              "k long, v double"),
        t, mode="append", stats_cols=["k"], sort_col="k", n_files=1,
    )
    # ... v2: RE-ADDS key 10 with the same value (overlapping range ->
    # full diff classifies it; an unconditional fast path would emit a
    # spurious 'added' for an unchanged key)
    write_versioned(
        spark.createDataFrame([(10, 10.0)], "k long, v double"),
        t, mode="append", stats_cols=["k"],
    )
    validated, warns = _drain_cdc(
        spark, t, ["k"], ["v"], str(tmp_path / "cv"), caplog
    )
    # once per stream, not per commit; it names v2, so v1 (drained
    # first) took the fast path
    assert len(warns) == 1 and "append commit v2 " in warns[0], warns
    assert "single-key stats_cols" in warns[0]
    assert validated == _per_version_diff(spark, t, ["k"], ["v"])
    # v2's re-add of an unchanged key emits NOTHING (it is 'unchanged'
    # under the diff; note the duplicate row itself remains in the
    # table — CDC classification is about keys)
    assert [r for r in validated if r[-1] == 2] == []
    v1 = [r for r in validated if r[-1] == 1]
    assert len(v1) == 10 and all(r[1] == "added" for r in v1)


def test_versioned_sink_auto_compaction(spark, tmp_path):
    """auto_compact_every=N runs OPTIMIZE inside the sink: after every
    N ingest commits the snapshot rewrites into compact_target_files
    files, data bit-identical; a full replay (wiped checkpoint) skips
    every append and never re-compacts."""
    import glob
    import os
    import shutil

    from sparkgraft.sinks.versioned import (
        _read_manifest,
        latest_version,
        read_versioned,
        table_history,
    )
    from sparkgraft.streaming.pipeline import versioned_sink

    src = str(tmp_path / "in")
    os.makedirs(src)
    for i in range(1, 5):
        df = spark.createDataFrame(
            [(i * 100 + j,) for j in range(50)], "k long"
        ).coalesce(1)
        df.write.mode("overwrite").json(str(tmp_path / f"stage_{i}"))
        f = sorted(glob.glob(str(tmp_path / f"stage_{i}" / "part-*.json")))[0]
        dst = f"{src}/b{i}.json"
        shutil.move(f, dst)
        os.utime(dst, (1700000000 + i, 1700000000 + i))

    def drain(ckpt):
        stream = (
            spark.readStream.schema("k long")
            .option("maxFilesPerTrigger", "1")
            .json(src)
        )
        q = versioned_sink(
            stream,
            str(tmp_path / "tbl"),
            str(tmp_path / ckpt),
            stats_cols=["k"],
            sort_col="k",
            n_files=2,
            auto_compact_every=2,
            compact_target_files=1,
        )
        q.awaitTermination(120)

    drain("ck1")
    t = str(tmp_path / "tbl")
    ops = [h["operation"] for h in table_history(t)]
    # 4 appends, compaction after the 2nd and 4th
    assert ops == ["append", "append", "overwrite",
                   "append", "append", "overwrite"]
    got = sorted(r["k"] for r in read_versioned(spark, t).collect())
    assert got == sorted(i * 100 + j for i in range(1, 5) for j in range(50))
    assert len(_read_manifest(t, latest_version(t))["files"]) == 1
    # skipping still works on the compacted snapshot (stats recommitted)
    from pyspark.sql import functions as F

    from sparkgraft.sinks.versioned import read_versioned_skipping

    keep = (F.col("max_k") >= 310) & (F.col("min_k") <= 320)
    pruned = read_versioned_skipping(spark, t, keep).filter(
        F.col("k").between(310, 320)
    )
    assert sorted(r["k"] for r in pruned.collect()) == list(range(310, 321))
    # full-checkpoint-loss replay: nothing recommits, nothing recompacts
    v_before = latest_version(t)
    drain("ck2")
    assert latest_version(t) == v_before


def test_auto_compaction_recovery_is_immediate_not_deferred(
    spark, tmp_path
):
    """ADVICE r6: compaction is driven by appends-since-last-compaction
    (recorded as appends_at_compact in the compaction manifest), not by
    an exact multiple of the total append count — attaching the sink to
    a table already past the threshold (or recovering from a crash
    between the Nth append and its compaction) compacts on the NEXT
    append instead of deferring a full extra cycle to 2N."""
    import glob
    import os
    import shutil

    from sparkgraft.sinks.versioned import (
        _read_manifest,
        latest_version,
        read_versioned,
        table_history,
        write_versioned,
    )
    from sparkgraft.streaming.pipeline import versioned_sink

    t = str(tmp_path / "tbl")
    # A table with 3 uncompacted appends — already past every=3, as if
    # the compaction after append #3 crashed before committing.
    for i in range(3):
        write_versioned(
            spark.createDataFrame([(i * 10 + j,) for j in range(5)], "k long"),
            t, mode="append", stats_cols=["k"],
        )
    assert [h["operation"] for h in table_history(t)] == ["append"] * 3

    src = str(tmp_path / "in")
    os.makedirs(src)
    df = spark.createDataFrame([(100 + j,) for j in range(5)], "k long")
    df.coalesce(1).write.mode("overwrite").json(str(tmp_path / "stage"))
    f = sorted(glob.glob(str(tmp_path / "stage" / "part-*.json")))[0]
    shutil.move(f, f"{src}/b1.json")

    stream = spark.readStream.schema("k long").json(src)
    q = versioned_sink(
        stream, t, str(tmp_path / "ck"),
        stats_cols=["k"], auto_compact_every=3, compact_target_files=1,
    )
    q.awaitTermination(120)
    # Old modulo rule: 4 % 3 != 0 -> deferred to append #6.  New rule:
    # 4 appends since compaction 0 >= 3 -> compacts right after b1.
    ops = [h["operation"] for h in table_history(t)]
    assert ops == ["append"] * 4 + ["overwrite"]
    man = _read_manifest(t, latest_version(t))
    assert man["appends_at_compact"] == 4
    got = sorted(r["k"] for r in read_versioned(spark, t).collect())
    assert got == sorted(
        [i * 10 + j for i in range(3) for j in range(5)]
        + [100 + j for j in range(5)]
    )


def test_commit_conflict_detected_and_loser_cleaned(spark, tmp_path):
    """Optimistic concurrency (round-7 verdict task): two writers
    planning the same version — the second manifest claim fails with
    CommitConflictError instead of silently overwriting the winner's
    commit (the lost-update hazard of the old single-writer protocol),
    and the loser's stats table is cleaned up."""
    import glob
    import os

    import pytest

    from sparkgraft.sinks.versioned import (
        CommitConflictError,
        _commit,
        _land_files,
        _read_manifest,
        latest_version,
        read_versioned,
        write_versioned,
    )

    t = str(tmp_path / "vt")
    write_versioned(
        spark.createDataFrame([(1, 1.0)], "k long, v double"),
        t, mode="overwrite", stats_cols=["k"],
    )
    man0 = _read_manifest(t, 0)
    # Both writers land files for version 1 (token-unique names — no
    # data clobbering even pre-commit) ...
    fa = _land_files(
        spark.createDataFrame([(2, 2.0)], "k long, v double"), t, 1
    )
    fb = _land_files(
        spark.createDataFrame([(3, 3.0)], "k long, v double"), t, 1
    )
    assert set(fa).isdisjoint(fb)
    # ... A claims v1 first and wins;
    _commit(spark, t, 1, 0, "append", man0["files"] + fa, ["k"], fa,
            man0["files"])
    winner_stats = _stats_table(t, 1)
    # ... B's claim of the same version must conflict, not overwrite.
    with pytest.raises(CommitConflictError):
        _commit(spark, t, 1, 0, "append", man0["files"] + fb, ["k"], fb,
                man0["files"])
    # Winner's commit is intact: manifest lists A's files, stats path
    # unchanged and readable, no leftover loser stats directories.
    assert _read_manifest(t, 1)["files"] == man0["files"] + fa
    assert _stats_table(t, 1) == winner_stats
    assert os.path.exists(winner_stats)
    stats_dirs = glob.glob(os.path.join(t, "_manifests", "v1_stats-*"))
    assert stats_dirs == [winner_stats]
    assert latest_version(t) == 1
    got = sorted((r["k"], r["v"]) for r in read_versioned(spark, t).collect())
    assert got == [(1, 1.0), (2, 2.0)]


def test_two_writer_merge_race_neither_update_lost(spark, tmp_path):
    """Two threads MERGE different keys against the same parent: one
    claim wins, the other detects the conflict and retries against the
    new parent — both updates land in serial order, nothing lost."""
    import threading

    from sparkgraft.sinks.versioned import (
        read_versioned,
        table_history,
        upsert_versioned,
        write_versioned,
    )

    t = str(tmp_path / "vt")
    write_versioned(
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "k long, v double"
        ),
        t, mode="overwrite", stats_cols=["k"],
    )
    barrier = threading.Barrier(2)
    results: dict = {}
    errors: list = []

    def writer(name: str, key: int) -> None:
        try:
            src = spark.createDataFrame(
                [(key, float(key))], "k long, v double"
            )
            barrier.wait(timeout=60)
            results[name] = upsert_versioned(spark, t, src, ["k"])
        except Exception as exc:  # pragma: no cover - surfaced below
            errors.append((name, exc))

    ta = threading.Thread(target=writer, args=("a", 100))
    tb = threading.Thread(target=writer, args=("b", 200))
    ta.start(); tb.start(); ta.join(120); tb.join(120)
    assert not errors, errors
    # Serial order: versions 1 and 2, one per writer, whatever the race
    assert sorted(results.values()) == [1, 2]
    ops = [h["operation"] for h in table_history(t)]
    assert ops == ["overwrite", "merge", "merge"]
    got = sorted(r["k"] for r in read_versioned(spark, t).collect())
    assert got == list(range(10)) + [100, 200]


def test_latest_version_scans_past_stale_pointer(spark, tmp_path):
    """The _latest pointer is a cache: a crash between the manifest
    claim (the commit point) and the pointer flip must not hide the
    committed version — readers scan forward, and the next commit
    heals the pointer."""
    from sparkgraft.sinks.versioned import (
        latest_version,
        read_versioned,
        write_versioned,
    )

    t = str(tmp_path / "vt")
    for i in range(3):
        write_versioned(
            spark.createDataFrame([(i,)], "k long"), t, mode="append"
        )
    assert latest_version(t) == 2
    # Simulate the crash: pointer lags at 0 while v1/v2 manifests exist
    with open(f"{t}/_manifests/_latest", "w") as fh:
        fh.write("0")
    assert latest_version(t) == 2
    assert sorted(r["k"] for r in read_versioned(spark, t).collect()) == [
        0, 1, 2,
    ]
    # Next commit appends on the TRUE latest and heals the pointer
    v = write_versioned(
        spark.createDataFrame([(3,)], "k long"), t, mode="append"
    )
    assert v == 3
    with open(f"{t}/_manifests/_latest") as fh:
        assert fh.read().strip() == "3"


def test_composite_key_cdc_fast_path_and_merge_prune(spark, tmp_path, caplog):
    """Round-7 verdict task: composite keys prune conjunctively —
    disjointness on ANY stats column proves key-tuple disjointness.
    The CDC append fast path fires on a provably-disjoint two-column
    append (no fallback warning for it), and a MERGE keyed on two
    columns auto-prunes its touched set to the files overlapping the
    source range on BOTH columns."""
    from sparkgraft.sinks.versioned import (
        _read_manifest,
        read_versioned,
        upsert_versioned,
        write_versioned,
    )

    t = str(tmp_path / "vt")
    # v0: (g, k) composite key; files range-split on k: [0..24], [25..49]
    write_versioned(
        spark.createDataFrame(
            [(1, k, float(k)) for k in range(50)], "g long, k long, v double"
        ),
        t, mode="overwrite", stats_cols=["g", "k"], sort_col="k", n_files=2,
    )
    # v1: same g range but k disjoint (50..59) -> provably new via k
    write_versioned(
        spark.createDataFrame(
            [(1, k, 1.0) for k in range(50, 60)], "g long, k long, v double"
        ),
        t, mode="append", stats_cols=["g", "k"], n_files=1,
    )
    # v2: k overlaps but g disjoint (g=2) -> provably new via g
    write_versioned(
        spark.createDataFrame(
            [(2, 10, 2.0)], "g long, k long, v double"
        ),
        t, mode="append", stats_cols=["g", "k"], n_files=1,
    )
    # v3: overlaps on BOTH columns (re-adds g=1,k=10 unchanged) -> must
    # fall back to the full diff and emit nothing
    write_versioned(
        spark.createDataFrame(
            [(1, 10, 10.0)], "g long, k long, v double"
        ),
        t, mode="append", stats_cols=["g", "k"], n_files=1,
    )

    validated, warns = _drain_cdc(
        spark, t, ["g", "k"], ["v"], str(tmp_path / "cv"), caplog
    )
    # the one fallback names v3: the conjunctive check TOOK the fast
    # path on both disjoint appends (v1, v2), drained before it
    assert len(warns) == 1 and "append commit v3 " in warns[0], warns
    assert validated == _per_version_diff(spark, t, ["g", "k"], ["v"])
    assert [r for r in validated if r[-1] == 3] == []  # v3 re-add: unchanged
    assert len([r for r in validated if r[-1] == 1]) == 10
    assert len([r for r in validated if r[-1] == 2]) == 1

    # MERGE auto-prune on the composite key: source (g=1, k in 52..54)
    # overlaps only v1's file on both columns — the two v0 files and
    # the v2/v3 files carry over untouched.
    man_before = _read_manifest(t, 3)
    src = spark.createDataFrame(
        [(1, 52, -1.0), (1, 99, 99.0)], "g long, k long, v double"
    )
    v = upsert_versioned(spark, t, src, ["g", "k"])
    man = _read_manifest(t, v)
    carried = set(man["files"]) & set(man_before["files"])
    # 5 parent files; only v1's single file (k in 50..59, g=1) may
    # overlap (g=1, k in 52..99... the source range k:[52,99] also
    # overlaps nothing else: v0 k<=49, v2/v3 k=10) -> 4 carried.
    assert len(man_before["files"]) == 5 and len(carried) == 4
    got = sorted(
        (r["g"], r["k"], r["v"]) for r in read_versioned(spark, t).collect()
    )
    assert (1, 52, -1.0) in got and (1, 99, 99.0) in got
    assert len(got) == 50 + 10 + 1 + 1 + 1  # v3's dup row remains; +insert


def test_bloom_manifest_in_commit_log_prunes_time_travel(spark, tmp_path):
    """Round-7 verdict task: per-file Bloom bitmaps live in the commit
    log (bloom_cols on write_versioned), descend through append /
    MERGE / OPTIMIZE commits indexing only each commit's new files,
    and prune point-lookup time-travel reads that min/max stats cannot
    (high-cardinality keys interleaved across every file)."""
    from pyspark.sql import functions as F

    from sparkgraft.sinks.versioned import (
        _read_manifest,
        compact_table,
        read_versioned,
        read_versioned_bloom,
        upsert_versioned,
        write_versioned,
    )

    t = str(tmp_path / "vt")
    # keys interleave mod 4 across files -> every file's [min, max]
    # spans the domain and range stats prune NOTHING; blooms can.
    base = spark.createDataFrame(
        [(k, float(k)) for k in range(400)], "k long, v double"
    ).withColumn("bucket", F.col("k") % 4)
    write_versioned(
        base.repartition(4, "bucket").drop("bucket"),
        t, mode="overwrite", stats_cols=["k"], bloom_cols=["k"],
    )
    man0 = _read_manifest(t, 0)
    assert man0["bloom_cols"] == ["k"] and man0["bloom_file"]
    # v1 append WITHOUT re-opting-in: config inherits, new files only
    write_versioned(
        spark.createDataFrame([(1000, 1.0)], "k long, v double"),
        t, mode="append", stats_cols=["k"], n_files=1,
    )
    man1 = _read_manifest(t, 1)
    assert man1["bloom_cols"] == ["k"] and man1["bloom_file"] != man0["bloom_file"]

    # point lookup at latest: exact result, files actually skipped
    got = read_versioned_bloom(spark, t, {"k": 137})
    assert [tuple(r) for r in got.filter(F.col("k") == 137).collect()] == [
        (137, 137.0)
    ]
    n_total = len(man1["files"])
    n_opened = len(got.inputFiles())
    assert n_opened < n_total  # pruning actually skips files
    # the appended key is found through the inherited index
    hit = read_versioned_bloom(spark, t, {"k": 1000})
    assert hit.filter(F.col("k") == 1000).count() == 1

    # v2 MERGE (updates k=137) and v3 OPTIMIZE both inherit coverage
    upsert_versioned(
        spark,
        t,
        spark.createDataFrame([(137, -1.0)], "k long, v double"),
        ["k"],
    )
    compact_table(spark, t, target_files=2, stats_cols=["k"])
    man3 = _read_manifest(t, 3)
    assert man3["operation"] == "overwrite" and man3["bloom_file"]
    got3 = read_versioned_bloom(spark, t, {"k": 137})
    assert [
        tuple(r) for r in got3.filter(F.col("k") == 137).collect()
    ] == [(137, -1.0)]
    # time travel: the PRE-merge snapshot still prunes with ITS blooms
    got1 = read_versioned_bloom(spark, t, {"k": 137}, version=1)
    assert [
        tuple(r) for r in got1.filter(F.col("k") == 137).collect()
    ] == [(137, 137.0)]
    # equivalence on a bloom-missing key: empty both ways
    assert (
        read_versioned_bloom(spark, t, {"k": 555})
        .filter(F.col("k") == 555)
        .count()
        == 0
    )
    # full-scan equivalence at latest
    full = sorted(
        tuple(r) for r in read_versioned(spark, t).collect()
    )
    assert len(full) == 401 and (137, -1.0) in full


def test_bloom_enabled_on_append_covers_unindexed_parent(spark, tmp_path):
    """An append that first turns on bloom_cols over a parent committed
    without Blooms indexes the carried files too (the commit's coverage
    rule), so an id living only in the parent's files is still found."""
    from pyspark.sql import functions as F

    from sparkgraft.sinks.versioned import read_versioned_bloom
    from sparkgraft.sources.readers import read_table
    from tests.conftest import SF_DIR

    ev = read_table(spark, SF_DIR, "events")
    old = ev.filter(F.col("event_id") % 2 == 0)
    new = ev.filter(F.col("event_id") % 2 == 1)
    t = str(tmp_path / "vt")
    write_versioned(old, t, mode="overwrite", stats_cols=["ts"],
                    sort_col="ts", n_files=4)
    write_versioned(new, t, mode="append", stats_cols=["ts"],
                    bloom_cols=["event_id"], sort_col="ts", n_files=4)
    man = _read_manifest(t, 1)
    bm = spark.read.parquet(_side_table(t, man, "bloom_file"))
    assert {r["file"] for r in bm.select("file").collect()} == set(man["files"])

    eid = old.select("event_id").orderBy("event_id").first()[0]
    hit = read_versioned_bloom(spark, t, {"event_id": eid})
    got = hit.filter(F.col("event_id") == eid).count()
    want = read_versioned(spark, t).filter(F.col("event_id") == eid).count()
    assert got == want and got > 0
    assert len(hit.inputFiles()) < len(man["files"])  # pruning is real


def test_gdpr_delete_propagates_and_vacuum_forgets(spark, tmp_path):
    """Round-7 verdict task (examples/gdpr_forget.py in miniature): a
    keyed DELETE flows delete_versioned -> cdc_feed -> view_maintainer
    (the forgotten user's group retires from the view via IVM, never
    re-aggregation), and vacuum then PHYSICALLY removes the rewritten
    files' predecessors — pre-delete time travel fails while
    table_history stays fully auditable."""
    import pytest
    from pyspark.sql import functions as F

    from sparkgraft.sinks.versioned import (
        delete_versioned,
        read_versioned,
        table_history,
        vacuum,
        write_versioned,
    )
    from sparkgraft.streaming.pipeline import view_maintainer

    t = str(tmp_path / "t")
    view = str(tmp_path / "view")
    rows = [(i, i % 5, float(i)) for i in range(100)]
    write_versioned(
        spark.createDataFrame(rows, "event_id long, user_id long, v double"),
        t, mode="overwrite", stats_cols=["user_id"], sort_col="user_id",
        n_files=4,
    )

    def drain():
        q = view_maintainer(
            spark, t, ["user_id"], ["v"], ["event_id"], view,
            str(tmp_path / "ck"),
        )
        q.awaitTermination(120)

    drain()
    assert read_versioned(spark, view).filter(
        F.col("user_id") == 3
    ).count() == 1
    delete_versioned(
        spark, t, F.col("user_id") == 3,
        stats_keep=(F.col("max_user_id") >= 3) & (F.col("min_user_id") <= 3),
        n_files=1,
    )
    drain()
    after = read_versioned(spark, view)
    # the forgotten group retired; everyone else intact and exact
    assert after.filter(F.col("user_id") == 3).count() == 0
    direct = sorted(
        (r["user_id"], r["n"])
        for r in read_versioned(spark, t)
        .groupBy("user_id").agg(F.count("*").alias("n")).collect()
    )
    viewed = sorted(
        (r["user_id"], r["n_rows"]) for r in after.collect()
    )
    assert direct == viewed
    # physical forgetting: predecessors gone, history auditable
    deleted = vacuum(t, keep_versions=1)
    assert deleted
    with pytest.raises(Exception):
        read_versioned(spark, t, version=0).count()
    assert [h["operation"] for h in table_history(t)] == [
        "overwrite", "delete",
    ]


def test_upsert_retry_rederives_stats_keep_on_new_parent(
    spark, tmp_path, monkeypatch
):
    """Regression: a conflict's new parent may carry DIFFERENT
    stats_cols; the retry must re-derive (or drop) the auto stats_keep
    instead of reusing a predicate referencing min_/max_ columns the
    new stats table doesn't have."""
    from sparkgraft.sinks import versioned as V

    t = str(tmp_path / "vt")
    V.write_versioned(
        spark.createDataFrame(
            [(i, float(i)) for i in range(6)], "k long, v double"
        ),
        t, mode="overwrite", stats_cols=["k"],
    )
    real_commit = V._commit
    armed = {"on": True}

    def racing_commit(*args, **kwargs):
        if armed["on"]:
            armed["on"] = False
            # a concurrent writer wins version 1 with stats on a
            # DIFFERENT column set (no k coverage)
            V.write_versioned(
                spark.createDataFrame(
                    [(i, float(i)) for i in range(6)], "k long, v double"
                ),
                t, mode="overwrite", stats_cols=["v"],
            )
        return real_commit(*args, **kwargs)

    monkeypatch.setattr(V, "_commit", racing_commit)
    src = spark.createDataFrame([(3, 99.0), (100, 1.0)], "k long, v double")
    ver = V.upsert_versioned(spark, t, src, ["k"])
    assert ver == 2  # lost v1, retried cleanly against the new parent
    got = {r["k"]: r["v"] for r in V.read_versioned(spark, t).collect()}
    assert got[3] == 99.0 and got[100] == 1.0 and len(got) == 7
