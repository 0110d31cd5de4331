"""Streaming weighted reservoir: running state equals the batch
weighted_sample of the streamed union at every batch; replays never
re-admit."""

from __future__ import annotations

import json
import os


def _write_batch(path, rows):
    with open(path, "w") as fh:
        fh.write("\n".join(json.dumps({"id": i, "w": w}) for i, w in rows))


def test_sample_monitor_matches_batch_and_replays(
    spark, tmp_path, monkeypatch
):
    from sparkgraft.operators.scale import weighted_sample
    from sparkgraft.streaming.pipeline import sample_monitor

    synced = []  # inodes fsync()ed by the monitor's state writes
    real_fsync = os.fsync

    def spy_fsync(fd):
        synced.append(os.fstat(fd).st_ino)
        real_fsync(fd)

    monkeypatch.setattr(os, "fsync", spy_fsync)

    b1 = [(i, float(1 + i % 7)) for i in range(0, 300)]
    b2 = [(i, float(1 + i % 5)) for i in range(300, 600)]

    src = tmp_path / "in"
    src.mkdir()
    _write_batch(src / "b1.json", b1)
    _write_batch(src / "b2.json", b2)

    got = {}

    def sink(df, batch_id):
        got[batch_id] = sorted(tuple(r) for r in df.collect())

    stream = (
        spark.readStream.schema("id long, w double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    ckpt = str(tmp_path / "ck")
    q = sample_monitor(stream, "w", ["id"], 25, ckpt, sink)
    q.awaitTermination(120)
    assert len(got) == 2

    def batch_ref(rows):
        df = spark.createDataFrame(rows, "id long, w double")
        return sorted(
            tuple(r) for r in weighted_sample(df, "w", ["id"], 25).collect()
        )

    # after each batch the reservoir IS the batch operator on the union
    assert got[min(got)] == batch_ref(b1)
    assert got[max(got)] == batch_ref(b1 + b2)

    # the state file was fsync()ed before it was renamed into place
    state_path = os.path.join(ckpt, "reservoir_state.json")
    assert os.stat(state_path).st_ino in synced

    # replay the last batch against the stored state — identical output
    state = json.load(open(state_path))
    state["batch_id"] = 0
    src2 = tmp_path / "in2"
    src2.mkdir()
    _write_batch(src2 / "b2.json", b2)
    ck2 = tmp_path / "ck2"
    ck2.mkdir()
    with open(ck2 / "reservoir_state.json", "w") as fh:
        json.dump(state, fh)
    got2 = {}

    def sink2(df, batch_id):
        got2[batch_id] = sorted(tuple(r) for r in df.collect())

    stream2 = (
        spark.readStream.schema("id long, w double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src2))
    )
    q2 = sample_monitor(stream2, "w", ["id"], 25, str(ck2), sink2)
    q2.awaitTermination(120)
    assert got2[0] == got[max(got)]
