"""Crash safety of the partition-bounded compaction that the ANN and
dedup-admission indexes share (sinks/tombstones.py): a compaction that
dies right before a staged partition moves in must lose no live row,
a write between the crash and the retry must see the parked rows, and
the retried compaction must finish the forget."""

from __future__ import annotations

import os

import pytest

from sparkgraft.sinks.ann_index import (
    append_ann_index,
    compact_ann_index,
    delete_ann_index,
    write_ann_index,
)
from sparkgraft.streaming.pipeline import compact_dedup_index, delete_dedup_index
from tests.test_dedup_forget import TEXTS, _drain, _write_batch
from tests.test_index_forget import _meta, _serve_ann, _vectors


def _crash_compaction(monkeypatch, compact_fn, spark, index_dir):
    """Run ``compact_fn`` with ``os.replace`` raising right before a
    staged partition moves in."""
    real = os.replace

    def replace(src, dst, *args, **kwargs):
        if "_staging" in str(src):
            raise OSError("simulated crash before the staged partition moves in")
        return real(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "replace", replace)
    with pytest.raises(OSError, match="simulated crash"):
        compact_fn(spark, index_dir)
    monkeypatch.undo()


def _ann_after_crash(spark, tmp_path, monkeypatch):
    """60 vectors, vector 7 deleted, its cluster's compaction crashed."""
    vecs = _vectors(spark)
    cents, cbs = _meta()
    idx = str(tmp_path / "idx")
    write_ann_index(idx, vecs, cents, cbs)
    delete_ann_index(spark, idx, [7])
    logical = _serve_ann(vecs, idx)
    _crash_compaction(monkeypatch, compact_ann_index, spark, idx)
    return vecs, idx, logical


def _codes_ids(spark, idx):
    codes = spark.read.parquet(f"{idx}/codes").select("neighbor_id")
    return sorted(r["neighbor_id"] for r in codes.collect())


def test_ann_compact_crash_loses_no_live_vector(spark, tmp_path, monkeypatch):
    vecs, idx, logical = _ann_after_crash(spark, tmp_path, monkeypatch)
    with pytest.raises(RuntimeError, match="compaction is running or crashed"):
        _serve_ann(vecs, idx)  # never a silent miss of the parked vectors

    assert compact_ann_index(spark, idx) == 1
    assert _codes_ids(spark, idx) == [i for i in range(60) if i != 7]
    assert _serve_ann(vecs, idx) == logical
    assert not os.path.isdir(f"{idx}/tombstones")
    assert not os.path.isdir(f"{idx}/codes_trash")


def test_ann_append_after_crash_keeps_parked_vectors(spark, tmp_path, monkeypatch):
    vecs, idx, _ = _ann_after_crash(spark, tmp_path, monkeypatch)

    # a copy of vector 7 lands in the parked cluster before the retry
    seven = vecs.filter("vec_id = 7").selectExpr("60L AS vec_id", "embedding")
    append_ann_index(idx, seven)
    assert _codes_ids(spark, idx) == list(range(61))  # 7 is only tombstoned

    assert compact_ann_index(spark, idx) == 1
    assert _codes_ids(spark, idx) == [i for i in range(61) if i != 7]


def _dedup_after_crash(spark, tmp_path, monkeypatch):
    """Docs a and b admitted in batch 0, a deleted, the compaction of
    batch 0 crashed.  Returns the next-batch runner and its verdicts."""
    src = tmp_path / "in"
    src.mkdir()
    hist = str(tmp_path / "hist")
    got: dict = {}

    def sink(df, bid):
        got[bid] = {r["doc_id"]: (r["is_duplicate"], r["dup_of"]) for r in df.collect()}

    def run_batch(name, docs, mtime):
        _write_batch(src, name, docs, mtime)
        _drain(spark, src, hist, str(tmp_path / "c1"), sink)

    run_batch("b1.json", [("a", TEXTS["a"]), ("b", TEXTS["b"])], 1700000000)
    delete_dedup_index(spark, hist, ["a"])
    _crash_compaction(monkeypatch, compact_dedup_index, spark, hist)
    return hist, run_batch, got


def _index_ids(spark, hist):
    return [
        {r["id"] for r in spark.read.parquet(f"{hist}/{sub}").collect()}
        for sub in ("base", "banded")
    ]


def test_dedup_compact_crash_loses_no_admitted_doc(spark, tmp_path, monkeypatch):
    hist, run_batch, got = _dedup_after_crash(spark, tmp_path, monkeypatch)

    assert compact_dedup_index(spark, hist) == 2  # batch 0 in base and banded
    assert _index_ids(spark, hist) == [{"b"}, {"b"}]
    # the surviving doc still matches; the forgotten one is admitted
    run_batch("b2.json", [("a2", TEXTS["a"]), ("b2", TEXTS["b"])], 1700000001)
    assert got[1] == {"a2": (False, None), "b2": (True, "b")}


def test_dedup_batch_after_crash_sees_parked_docs(spark, tmp_path, monkeypatch):
    hist, run_batch, got = _dedup_after_crash(spark, tmp_path, monkeypatch)

    # the next batch runs before the retry and still matches the
    # surviving doc of the parked batch
    run_batch("b2.json", [("a2", TEXTS["a"]), ("b2", TEXTS["b"])], 1700000001)
    assert got[1] == {"a2": (False, None), "b2": (True, "b")}

    assert compact_dedup_index(spark, hist) == 2
    assert _index_ids(spark, hist) == [{"a2", "b"}, {"a2", "b"}]
