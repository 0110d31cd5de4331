"""Right-to-be-forgotten for the persisted dedup-admission index
(the third persisted index next to ann/bm25): logical tombstone stops
matches immediately, physical compaction removes the shingle bytes
from exactly the affected batch partitions, and replay idempotence
survives a fully-forgotten batch via the compaction ledger."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from sparkgraft.streaming.pipeline import (
    compact_dedup_index,
    dedup_admission,
    delete_dedup_index,
)

TEXTS = {
    "a": "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    "b": "one two three four five six seven eight nine ten eleven",
    "c": "red orange yellow green blue indigo violet crimson amber teal",
}


def _write_batch(src, name, rows, mtime):
    p = src / name
    with open(p, "w") as fh:
        fh.write("\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in rows))
    os.utime(p, (mtime, mtime))


def _drain(spark, src, hist, ckpt, sink):
    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = dedup_admission(stream, hist, ckpt, sink, min_jaccard=0.5)
    q.awaitTermination(120)


def test_dedup_index_forget_and_compact(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    hist = str(tmp_path / "hist")
    _write_batch(src, "b1.json", [("a", TEXTS["a"]), ("b", TEXTS["b"])], 1700000000)
    got: dict = {}

    def sink(df, bid):
        got[bid] = {r["doc_id"]: (r["is_duplicate"], r["dup_of"]) for r in df.collect()}

    _drain(spark, src, hist, str(tmp_path / "c1"), sink)
    assert got[0]["a"] == (False, None) and got[0]["b"] == (False, None)

    # Forget doc a (logical): a re-submitted copy is ADMITTED, while a
    # copy of the surviving doc b is still flagged.
    delete_dedup_index(spark, hist, ["a"])
    _write_batch(
        src, "b2.json", [("a2", TEXTS["a"]), ("b2", TEXTS["b"])], 1700000001
    )
    _drain(spark, src, hist, str(tmp_path / "c1"), sink)
    assert got[1]["a2"] == (False, None)  # forgotten content can't match
    assert got[1]["b2"] == (True, "b")

    # Physical compaction: a's shingle rows are gone from both tables,
    # tombstones cleared, and verdicts stay identical afterwards.
    n = compact_dedup_index(spark, hist)
    assert n >= 2  # batch-0 partition rewritten in base AND banded
    for sub in ("base", "banded"):
        ids = {
            r["id"] for r in spark.read.parquet(f"{hist}/{sub}").select("id").collect()
        }
        assert "a" not in ids and "b" in ids and "a2" in ids
    assert not os.path.isdir(f"{hist}/tombstones")
    _write_batch(
        src, "b3.json", [("a3", TEXTS["a"]), ("b3", TEXTS["b"])], 1700000002
    )
    _drain(spark, src, hist, str(tmp_path / "c1"), sink)
    assert got[2]["a3"][0] is True  # a2 (re-admitted copy) matches now
    assert got[2]["a3"][1] == "a2"
    assert got[2]["b3"] == (True, "b")


def test_compact_rewrites_only_affected_batch_partitions(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    hist = str(tmp_path / "hist")
    _write_batch(src, "b1.json", [("a", TEXTS["a"])], 1700000000)
    _write_batch(src, "b2.json", [("b", TEXTS["b"])], 1700000001)
    _drain(spark, src, hist, str(tmp_path / "c1"), lambda df, bid: df.count())
    before = {
        sub: set(os.listdir(f"{hist}/{sub}/_batch_id=1")) for sub in ("base", "banded")
    }
    delete_dedup_index(spark, hist, ["a"])  # lives in batch 0 only
    compact_dedup_index(spark, hist)
    for sub in ("base", "banded"):
        # batch 1's partition files are byte-untouched
        assert set(os.listdir(f"{hist}/{sub}/_batch_id=1")) == before[sub]
        # batch 0's partition was dropped entirely (its only doc forgotten)
        assert not os.path.isdir(f"{hist}/{sub}/_batch_id=0")
    # The ledger remembers the emptied batch…
    ledger = spark.read.parquet(f"{hist}/compacted_batches").collect()
    assert {r["_batch_id"] for r in ledger} == {0}
    # …so a full-checkpoint-loss replay does NOT resurrect batch 0's
    # forgotten signatures from the source data.
    _drain(spark, src, hist, str(tmp_path / "c_fresh"), lambda df, bid: df.count())
    assert not os.path.isdir(f"{hist}/base/_batch_id=0")
    base = spark.read.parquet(f"{hist}/base")
    assert {r["id"] for r in base.select("id").collect()} == {"b"}


def test_forget_accepts_dataframe_ids(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    hist = str(tmp_path / "hist")
    _write_batch(
        src, "b1.json", [("a", TEXTS["a"]), ("c", TEXTS["c"])], 1700000000
    )
    _drain(spark, src, hist, str(tmp_path / "c1"), lambda df, bid: df.count())
    delete_dedup_index(
        spark, hist, spark.createDataFrame([("c",)], ["doc_id"])
    )
    compact_dedup_index(spark, hist)
    ids = {r["id"] for r in spark.read.parquet(f"{hist}/base").collect()}
    assert ids == {"a"}

