"""Alert cooldown/escalation lifecycle: planted-fixture exactness,
input-layout invariance, and the streaming monitor's equivalence to
one batch run over the union (plus crash-replay semantics)."""

from __future__ import annotations

import json
import os


def _df(spark, rows, parts=None):
    df = spark.createDataFrame(rows, "key string, ts long, alarming boolean")
    return df.repartition(parts) if parts else df


def _events(df):
    return sorted(
        (r["key"], r["ts"], r["action"], r["streak_len"], r["escalated"])
        for r in df.collect()
    )


def test_alert_lifecycle_planted(spark):
    from sparkgraft.operators.alerts import alert_lifecycle

    alarms = [
        True, True, True, True, False,   # streak of 4, then clear
        True, False, False,              # 1-long streak, clear, quiet
        True, True, True, True, True,    # streak of 5
    ]
    rows = [("k", i, a) for i, a in enumerate(alarms)]
    out = alert_lifecycle(
        _df(spark, rows), ["key"], "ts", "alarming",
        cooldown=3, escalate_after=3,
    )
    assert _events(out) == sorted([
        ("k", 0, "raise", 1, False),
        ("k", 1, "suppress", 2, False),
        ("k", 2, "suppress", 3, True),      # escalates at 3 consecutive
        ("k", 3, "repeat", 4, False),       # cooldown bucket 1 begins
        ("k", 4, "clear", 4, False),        # reports the ended streak
        ("k", 5, "raise", 1, False),
        ("k", 6, "clear", 1, False),
        # ts 7 healthy-after-healthy: no event
        ("k", 8, "raise", 1, False),
        ("k", 9, "suppress", 2, False),
        ("k", 10, "suppress", 3, True),
        ("k", 11, "repeat", 4, False),
        ("k", 12, "suppress", 5, False),
    ])


def test_alert_lifecycle_layout_invariant(spark):
    from sparkgraft.operators.alerts import alert_lifecycle

    rows = [
        (k, t, (t * 7 + ord(k)) % 5 != 0)
        for k in ("a", "b", "c")
        for t in range(40)
    ]
    kw = dict(
        key_cols=["key"], ts_col="ts", alarm_col="alarming",
        cooldown=2, escalate_after=2,
    )
    one = _events(alert_lifecycle(_df(spark, rows), **kw))
    assert one == _events(alert_lifecycle(_df(spark, rows, parts=13), **kw))
    assert any(a == "repeat" for _, _, a, _, _ in one)
    assert any(e for *_, e in one)


def _write_batch(path, rows, mtime):
    with open(path, "w") as fh:
        fh.write(
            "\n".join(
                json.dumps({"key": k, "ts": t, "alarming": a})
                for k, t, a in rows
            )
        )
    # Distinct ascending mtimes pin the file-source batch order.
    os.utime(path, (mtime, mtime))


def test_alert_monitor_matches_batch_and_replays(spark, tmp_path):
    from sparkgraft.operators.alerts import alert_lifecycle
    from sparkgraft.streaming.pipeline import alert_monitor

    b0 = [("A", 0, True), ("A", 1, True), ("B", 0, False)]
    b1 = [("A", 2, True), ("A", 3, True), ("B", 1, True), ("B", 2, True)]
    b2 = [("A", 4, False), ("A", 5, True), ("B", 3, True), ("B", 4, False)]
    union = b0 + b1 + b2
    kw = dict(cooldown=3, escalate_after=3)

    batch_events = _events(
        alert_lifecycle(
            _df(spark, union), ["key"], "ts", "alarming", **kw
        )
    )
    # The fixture must exercise a streak that SPANS batches (A raised
    # in b0, repeats in b1 off the carried streak start, clears in b2).
    assert ("A", 0, "raise", 1, False) in batch_events
    assert ("A", 3, "repeat", 4, False) in batch_events
    assert ("A", 4, "clear", 4, False) in batch_events
    assert ("B", 3, "suppress", 3, True) in batch_events

    src = tmp_path / "in"
    src.mkdir()
    _write_batch(src / "b0.json", b0, 1700000000)
    _write_batch(src / "b1.json", b1, 1700000001)
    _write_batch(src / "b2.json", b2, 1700000002)

    got = {}

    def sink(df, batch_id):
        got[batch_id] = [
            (r["key"], r["ts"], r["action"], r["streak_len"], r["escalated"])
            for r in df.collect()
        ]

    stream = (
        spark.readStream.schema("key string, ts long, alarming boolean")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    ckpt = str(tmp_path / "ck")
    q = alert_monitor(
        stream, "key", "ts", "alarming", ckpt, sink, **kw
    )
    q.awaitTermination(180)
    assert len(got) == 3
    # No cross-batch raise for A's continued streak.
    assert all(
        act != "raise" for key, _, act, _, _ in got[1] if key == "A"
    )
    streamed = sorted(e for rows in got.values() for e in rows)
    assert streamed == batch_events

    # Crash-replay: re-delivering b2 under the SAME batch id must
    # resume from the pre-b2 snapshot (prev_keys), not double-advance.
    state_full = json.load(open(os.path.join(ckpt, "alert_state.json")))
    # Cleared keys are EVICTED from carry state (B recovered in b2;
    # only A is still alarming) — state tracks currently-alarming
    # keys, not every key ever seen.
    assert set(state_full["state"]) == {"A"}
    src3 = tmp_path / "in3"
    src3.mkdir()
    _write_batch(src3 / "b2.json", b2, 1700000003)
    ck3 = tmp_path / "ck3"
    ck3.mkdir()
    replay_state = dict(state_full)
    replay_state["batch_id"] = 0  # replayed file arrives as batch 0
    with open(ck3 / "alert_state.json", "w") as fh:
        json.dump(replay_state, fh)

    got_r = {}

    def sink_r(df, batch_id):
        got_r[batch_id] = [
            (r["key"], r["ts"], r["action"], r["streak_len"], r["escalated"])
            for r in df.collect()
        ]

    stream3 = (
        spark.readStream.schema("key string, ts long, alarming boolean")
        .option("maxFilesPerTrigger", 1)
        .json(str(src3))
    )
    q3 = alert_monitor(
        stream3, "key", "ts", "alarming", str(ck3), sink_r, **kw
    )
    q3.awaitTermination(180)
    assert sorted(got_r[0]) == sorted(got[2])
