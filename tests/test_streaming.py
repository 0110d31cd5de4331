"""E1-shaped streaming-pipeline tests (SURVEY §2.9 T1–T7): file arrival
→ per-channel stats → KV sink, with quarantine on failure, archive on
success, health flags, and exactly-once across restarts."""

from __future__ import annotations

import os
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from sparkgraft.operators.stats import channel_stats
from sparkgraft.sinks.kv import stats_to_kv
from sparkgraft.streaming.pipeline import FilePipeline, HealthBoard, stable_files

SCHEMA = "ts TIMESTAMP, channel STRING, value DOUBLE"


def _write_file(d: Path, name: str, rows: list[str]) -> None:
    (d / name).write_text("ts,channel,value\n" + "\n".join(rows) + "\n")


def _mk_pipeline(spark, tmp, health, sink_rows):
    def transform(df):
        # T3 trigger: a file containing the poison channel fails hard.
        if df.filter(F.col("channel") == "BOOM").count() > 0:
            raise ValueError("poison file")
        return channel_stats(df, ["channel"], "value")

    def sink(result, stem):
        for r in stats_to_kv(result, "channel", file_stem=stem).collect():
            sink_rows[r["field"]] = r["value"]

    return FilePipeline(
        spark,
        name="lpi_100hz",
        input_dir=str(tmp / "in"),
        schema=SCHEMA,
        transform=transform,
        sink=sink,
        checkpoint_dir=str(tmp / "ckpt"),
        quarantine_dir=str(tmp / "failed"),
        archive_dir=str(tmp / "finished"),
    )


def test_stats_quarantine_archive_health(spark, tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    _write_file(
        inp,
        "Logger1_2025-06-19_12-00-00.csv",
        [
            "2025-06-19T12:00:00,T_T1,1.5",
            "2025-06-19T12:00:00,T_T1,2.5",
            "2025-06-19T12:00:00,BS_X,-1.0",
        ],
    )
    _write_file(inp, "Logger1_2025-06-19_12-10-00.csv", ["2025-06-19T12:10:00,BOOM,0.0"])

    health = HealthBoard()
    kv: dict[str, str] = {}
    p = _mk_pipeline(spark, tmp_path, health, kv)
    p.health = health
    p.run_available()

    # Success path: stats in the KV sink (rounded to 3, reference K3 shape).
    stem = "Logger1_2025-06-19_12-00-00.csv"
    assert kv[f"{stem}:T_T1:mean"] == "2.0"
    assert kv[f"{stem}:T_T1:min"] == "1.5"
    assert kv[f"{stem}:T_T1:max"] == "2.5"
    assert kv[f"{stem}:BS_X:mean"] == "-1.0"
    # T4: good file archived; T3: poison file quarantined.
    assert (tmp_path / "finished" / stem).exists()
    assert (tmp_path / "failed" / "Logger1_2025-06-19_12-10-00.csv").exists()
    # T6: both health transitions were signalled (cross-micro-batch file
    # order is best-effort, so assert on history, not the final value).
    assert ("health:lpi_100hz_file_processing", 0) in health.history
    assert ("health:lpi_100hz_file_processing", 1) in health.history


def test_file_name_with_space_keeps_stem_and_is_archived(spark, tmp_path):
    # input_file_name() percent-encodes the space; the sink must see the
    # file's own name, and the file must still move to finished/.
    inp = tmp_path / "in"
    inp.mkdir()
    stem = "Logger 1_2025-01-01_00-00-00.csv"
    _write_file(inp, stem, ["2025-01-01T00:00:00,C1,1.0"])
    kv: dict[str, str] = {}
    _mk_pipeline(spark, tmp_path, HealthBoard(), kv).run_available()
    assert kv[f"{stem}:C1:mean"] == "1.0"
    assert (tmp_path / "finished" / stem).exists()
    assert not (inp / stem).exists()


def test_exactly_once_across_restart(spark, tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    _write_file(inp, "a_2025-01-01_00-00-00.csv", ["2025-01-01T00:00:00,C1,1.0"])

    kv: dict[str, str] = {}
    seen: list[str] = []

    def transform(df):
        return channel_stats(df, ["channel"], "value")

    def sink(result, stem):
        seen.append(stem)
        for r in stats_to_kv(result, "channel", file_stem=stem).collect():
            kv[r["field"]] = r["value"]

    def mk():
        return FilePipeline(
            spark,
            name="p",
            input_dir=str(inp),
            schema=SCHEMA,
            transform=transform,
            sink=sink,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )

    mk().run_available()
    assert seen == ["a_2025-01-01_00-00-00.csv"]
    # Restart with the same checkpoint: already-processed file is NOT
    # re-emitted (D1 processed-set semantics via checkpoint).
    mk().run_available()
    assert seen == ["a_2025-01-01_00-00-00.csv"]
    # A new arrival IS picked up.
    _write_file(inp, "b_2025-01-01_00-10-00.csv", ["2025-01-01T00:10:00,C1,2.0"])
    mk().run_available()
    assert seen == ["a_2025-01-01_00-00-00.csv", "b_2025-01-01_00-10-00.csv"]


def test_continuous_trigger_processes_late_arrival(spark, tmp_path):
    """T7 — processingTime trigger: a file that arrives AFTER the
    stream starts is picked up by a later micro-batch."""
    import time

    inp = tmp_path / "in"
    inp.mkdir()
    kv: dict[str, str] = {}

    def sink(result, stem):
        for r in stats_to_kv(result, "channel", file_stem=stem).collect():
            kv[r["field"]] = r["value"]

    p = FilePipeline(
        spark,
        name="cont",
        input_dir=str(inp),
        schema=SCHEMA,
        transform=lambda df: channel_stats(df, ["channel"], "value"),
        sink=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
        archive_dir=str(tmp_path / "finished"),
    )
    q = p.start(processing_time="1 second")
    try:
        _write_file(inp, "late_2025-01-01_00-00-00.csv", ["2025-01-01T00:00:00,C9,4.5"])
        deadline = time.time() + 60
        while time.time() < deadline and "late_2025-01-01_00-00-00.csv:C9:mean" not in kv:
            time.sleep(0.5)
    finally:
        q.stop()
    assert kv["late_2025-01-01_00-00-00.csv:C9:mean"] == "4.5"
    assert (tmp_path / "finished" / "late_2025-01-01_00-00-00.csv").exists()


def test_empty_directory_drains_cleanly(spark, tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    seen: list = []
    p = FilePipeline(
        spark,
        name="empty",
        input_dir=str(inp),
        schema=SCHEMA,
        transform=lambda df: channel_stats(df, ["channel"], "value"),
        sink=lambda res, stem: seen.append(stem),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    p.run_available()  # must not raise on an empty directory
    assert seen == []


def test_entry_arrivals_order_and_bounded_await(spark, tmp_path):
    """The entry file's streaming-fixture helpers: a drain that outlives
    its bound is stopped and raises (its partial rows are never
    memoized); arrival staging lands exactly one file per frame, under
    its name, with mtimes strictly ascending across calls on one
    directory, and leaves no staging directory behind."""
    import __spark_entry__ as m

    class StuckQuery:
        stopped = False

        def awaitTermination(self, timeout):
            return False

        def stop(self):
            self.stopped = True

    q = StuckQuery()
    with pytest.raises(RuntimeError, match="stuck drain"):
        m._await(q, "stuck")
    assert q.stopped

    root = tmp_path / "in"
    df = spark.range(6).selectExpr("id", "CAST(id * 10 AS STRING) AS s")
    m._arrivals(
        str(root),
        [("b1.json", df.filter("id < 2")), ("b2.json", df.filter("id >= 2"))],
        "json",
    )
    # A file already in the directory may be newer than the wall clock
    # (copied in, clock skew); a later arrival must still sort after it.
    future = time.time() + 3600
    os.utime(root / "b2.json", (future, future))
    m._arrivals(str(root), [("b3.json", df.filter("id = 0"))], "json")
    names = ["b1.json", "b2.json", "b3.json"]
    assert sorted(os.listdir(root)) == names
    assert os.listdir(tmp_path) == ["in"]
    mtimes = [os.stat(root / n).st_mtime for n in names]
    assert mtimes[0] < mtimes[1] < mtimes[2]
    got = spark.read.schema("id long, s string").json(str(root / "b2.json"))
    assert sorted(tuple(r) for r in got.collect()) == [
        (i, str(i * 10)) for i in range(2, 6)
    ]


def test_stable_files_debounce(spark):
    now = "2025-06-19 12:01:00"
    files = spark.createDataFrame(
        [
            ("f_old.dat", "2025-06-19 12:00:00"),
            ("f_new.dat", "2025-06-19 12:00:45"),
        ],
        "name STRING, mtime_s STRING",
    ).select("name", F.col("mtime_s").cast("timestamp").alias("mtime"))
    admitted = [
        r["name"]
        for r in stable_files(files, now, min_age_sec=40).collect()
    ]
    assert admitted == ["f_old.dat"]


def test_dedup_stream_drops_in_horizon_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates arriving in the same
    or a later micro-batch (within the horizon) are dropped; distinct
    keys all survive."""
    from sparkgraft.streaming.pipeline import dedup_stream

    inp = tmp_path / "in"
    inp.mkdir()
    # batch 1: e1 twice (same batch), e2 once
    _write_file(
        inp,
        "b1.csv",
        [
            "2025-06-19T12:00:00,e1,1.0",
            "2025-06-19T12:00:00,e1,1.0",
            "2025-06-19T12:00:01,e2,2.0",
        ],
    )
    # batch 2 (separate file): e1 again within horizon + fresh e3
    _write_file(
        inp,
        "b2.csv",
        [
            "2025-06-19T12:01:00,e1,1.0",
            "2025-06-19T12:01:30,e3,3.0",
        ],
    )
    stream = (
        spark.readStream.schema("ts TIMESTAMP, key STRING, value DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .option("header", "true")
        .csv(str(inp))
    )
    deduped = dedup_stream(stream, ["key"], ts_col="ts", watermark="10 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT key FROM dedup_out").collect()
    keys = sorted(r["key"] for r in rows)
    assert keys == ["e1", "e2", "e3"], keys


def test_drift_monitor_flags_batch_over_batch_drift(spark, tmp_path):
    from sparkgraft.streaming.pipeline import drift_monitor

    inp = tmp_path / "in"
    inp.mkdir()
    # Batch 0: 10 clean rows.  Batch 1: 5 rows, one null channel —
    # rows halve (rows+distinct drift on id, range drift), nulls jump.
    rows0 = [f"2024-01-01 00:00:{i:02d},ch{i % 3},{i}.0" for i in range(10)]
    rows1 = [f"2024-01-01 01:00:{i:02d},{'' if i == 0 else 'ch0'},{i}.0" for i in range(5)]
    _write_file(inp, "b0.csv", rows0)
    _write_file(inp, "b1.csv", rows1)
    import os

    os.utime(inp / "b0.csv", (1700000000, 1700000000))
    os.utime(inp / "b1.csv", (1700000001, 1700000001))

    stream = (
        spark.readStream.format("csv")
        .schema(SCHEMA)
        .option("header", "true")
        .option("maxFilesPerTrigger", "1")
        .load(str(inp))
    )
    got: dict[str, tuple] = {}

    def sink(verdicts, batch_id):
        for r in verdicts.collect():
            got[r["column"]] = (r["drift_flags"], r["verdict"], r["rows_base"], r["rows_cur"])

    q = drift_monitor(
        stream, ["channel", "value"], sink, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination()

    assert set(got) == {"channel", "value"}
    ch_flags, ch_verdict, rb, rc = got["channel"]
    assert (rb, rc) == (10, 5)
    assert ch_verdict == "drift"
    assert "rows" in ch_flags and "nulls" in ch_flags
    v_flags, v_verdict, _, _ = got["value"]
    assert v_verdict == "drift"
    assert "range" in v_flags  # max value moved 9.0 -> 4.0


def test_drift_monitor_baseline_survives_restart(spark, tmp_path):
    import os

    from sparkgraft.streaming.pipeline import drift_monitor

    inp = tmp_path / "in"
    inp.mkdir()
    _write_file(inp, "b0.csv", [f"2024-01-01 00:00:{i:02d},ch0,{i}.0" for i in range(10)])
    os.utime(inp / "b0.csv", (1700000000, 1700000000))

    def drain():
        got = []

        def sink(verdicts, batch_id):
            got.extend((batch_id, r["column"], r["rows_base"], r["rows_cur"]) for r in verdicts.collect())

        stream = (
            spark.readStream.format("csv")
            .schema(SCHEMA)
            .option("header", "true")
            .option("maxFilesPerTrigger", "1")
            .load(str(inp))
        )
        q = drift_monitor(stream, ["value"], sink, checkpoint_dir=str(tmp_path / "ckpt"))
        q.awaitTermination()
        return got

    assert drain() == []  # single batch: baseline only, nothing to diff

    # New data arrives AFTER a restart: without the persisted baseline
    # the new batch would silently re-seed and emit nothing.
    _write_file(inp, "b1.csv", [f"2024-01-01 01:00:{i:02d},ch0,{i}.0" for i in range(5)])
    os.utime(inp / "b1.csv", (1700000001, 1700000001))
    second = drain()
    assert second == [(1, "value", 10, 5)]


def test_drift_monitor_replay_does_not_self_compare(spark, tmp_path):
    """ADVICE r3: the per-batch profile persists BEFORE the checkpoint
    commits, so a foreachBatch replay of batch N used to diff N against
    its own pre-crash profile and report 'ok'.  The baseline is now
    keyed by batch_id and a replay diffs against N's predecessor,
    re-emitting the real verdict."""
    import os

    from sparkgraft.streaming.pipeline import drift_monitor

    inp = tmp_path / "in"
    inp.mkdir()
    _write_file(inp, "b0.csv", [f"2024-01-01 00:00:{i:02d},ch0,{i}.0" for i in range(10)])
    _write_file(inp, "b1.csv", [f"2024-01-01 01:00:{i:02d},ch0,{i}.0" for i in range(5)])
    os.utime(inp / "b0.csv", (1700000000, 1700000000))
    os.utime(inp / "b1.csv", (1700000001, 1700000001))
    ckpt = tmp_path / "ckpt"

    def drain():
        got = []

        def sink(verdicts, batch_id):
            got.extend(
                (batch_id, r["column"], r["rows_base"], r["rows_cur"])
                for r in verdicts.collect()
            )

        stream = (
            spark.readStream.format("csv")
            .schema(SCHEMA)
            .option("header", "true")
            .option("maxFilesPerTrigger", "1")
            .load(str(inp))
        )
        q = drift_monitor(stream, ["value"], sink, checkpoint_dir=str(ckpt))
        q.awaitTermination()
        return got

    assert drain() == [(1, "value", 10, 5)]

    # Simulate a crash AFTER batch 1's sink ran but BEFORE the
    # checkpoint committed: drop the newest commit marker so the
    # restarted query replays batch 1.
    commits = sorted(
        f for f in os.listdir(ckpt / "commits") if not f.startswith(".")
    )
    os.remove(ckpt / "commits" / commits[-1])
    crc = ckpt / "commits" / f".{commits[-1]}.crc"
    if crc.exists():  # stale checksum sibling breaks the re-commit rename
        os.remove(crc)
    replay = drain()
    # The replayed batch re-emits the REAL verdict (10-row baseline vs
    # 5-row batch), not a self-comparison 'ok' (5 vs 5).
    assert replay == [(1, "value", 10, 5)]
