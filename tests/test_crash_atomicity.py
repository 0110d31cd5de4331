"""Crash atomicity of the multi-artifact index rewrites (round-8
ADVICE fixes): delete_bm25_index/compact_bm25_index commit all their
artifact swaps through one atomic journal rename, appends survive a
crash before or at their commit, and legacy bucket counts are
layout-verified before a destructive rewrite.

Crash states are constructed by intercepting the commit helper (crash
exactly at / just before the commit point) or by creating the leftover
directories a crashed writer leaves behind.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

import sparkgraft.sinks.bm25_index as bm
from sparkgraft.sinks.bm25_index import (
    bm25_topk_indexed,
    compact_bm25_index,
    delete_bm25_index,
    write_bm25_index,
)


def _docs(spark):
    rows = [
        (0, "spark join hash join shuffle"),
        (1, "hash table probe build hash"),
        (2, "vector index scan"),
        (3, "join vector hash vector"),
        (4, "broadcast join plan"),
        (5, "hash hash hash hash"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _serve(spark, idx):
    return sorted(
        tuple(r)
        for r in bm25_topk_indexed(
            spark, idx, ["hash", "join"], k=10, n_buckets=8
        ).collect()
    )


def _stats(spark, idx):
    r = spark.read.parquet(f"{idx}/stats").first()
    return (r["n_docs"], r["sum_dl"])


def test_bm25_delete_crash_after_journal_is_finished_by_repair(
    spark, tmp_path, monkeypatch
):
    """Crash right AFTER the journal rename (the commit point): every
    artifact is staged but none swapped.  The next index entry point
    (here: serving) must finish the delete — victims unservable, stats
    decremented exactly once — and a retried delete must be a no-op
    (no double-decrement)."""
    idx = str(tmp_path / "idx")
    write_bm25_index(idx, _docs(spark), n_buckets=8)
    before = _stats(spark, idx)

    def journal_only(index_dir, staged, clear=()):
        j = f"{index_dir}/_commit_journal"
        with open(j + ".tmp", "w") as f:
            json.dump({"staged": list(staged), "clear": list(clear)}, f)
        os.replace(j + ".tmp", j)
        raise RuntimeError("simulated crash at commit point")

    monkeypatch.setattr(bm, "_commit_bm25_journal", journal_only)
    with pytest.raises(RuntimeError, match="simulated crash"):
        delete_bm25_index(spark, idx, [1, 5], n_buckets=8)
    monkeypatch.undo()

    # crash state: journal present, live artifacts untouched
    assert os.path.isfile(f"{idx}/_commit_journal")
    assert _stats(spark, idx) == before
    assert not os.path.isdir(f"{idx}/tombstones")

    # serving reads THROUGH the committed journal (staged dirs are the
    # truth) WITHOUT mutating anything — round-8: a read-only caller
    # must never apply or discard another process's commit state
    served = _serve(spark, idx)
    assert os.path.isfile(f"{idx}/_commit_journal")
    assert os.path.isdir(f"{idx}/stats_staging")
    rebuilt = str(tmp_path / "rebuilt")
    write_bm25_index(
        rebuilt,
        _docs(spark).filter(~F.col("doc_id").isin([1, 5])),
        n_buckets=8,
    )
    assert served == _serve(spark, rebuilt)

    # retried delete of the same ids: its entry repair FINISHES the
    # committed journal first, then the tombstone guard makes the
    # retry a no-op (no double-decrement)
    delete_bm25_index(spark, idx, [1, 5], n_buckets=8)
    assert not os.path.isfile(f"{idx}/_commit_journal")
    assert _stats(spark, idx) == _stats(spark, rebuilt)
    assert _serve(spark, idx) == served


def test_bm25_delete_crash_before_journal_leaves_index_untouched(
    spark, tmp_path, monkeypatch
):
    """Crash just BEFORE the journal rename: the live index must be
    byte-for-byte live (staging is garbage), and the next delete must
    discard the stale staging and run cleanly."""
    idx = str(tmp_path / "idx")
    write_bm25_index(idx, _docs(spark), n_buckets=8)
    before_serve = _serve(spark, idx)
    before_stats = _stats(spark, idx)

    def crash(index_dir, staged, clear=()):
        raise RuntimeError("simulated crash before commit point")

    monkeypatch.setattr(bm, "_commit_bm25_journal", crash)
    with pytest.raises(RuntimeError, match="before commit"):
        delete_bm25_index(spark, idx, [1, 5], n_buckets=8)
    monkeypatch.undo()

    assert os.path.isdir(f"{idx}/terms_staging")  # pre-commit garbage
    assert _serve(spark, idx) == before_serve
    assert _stats(spark, idx) == before_stats

    delete_bm25_index(spark, idx, [1, 5], n_buckets=8)
    assert not os.path.isdir(f"{idx}/terms_staging")
    rebuilt = str(tmp_path / "rebuilt")
    write_bm25_index(
        rebuilt,
        _docs(spark).filter(~F.col("doc_id").isin([1, 5])),
        n_buckets=8,
    )
    assert _serve(spark, idx) == _serve(spark, rebuilt)
    assert _stats(spark, idx) == _stats(spark, rebuilt)


def test_bm25_compact_crash_after_journal_is_finished_by_repair(
    spark, tmp_path, monkeypatch
):
    """Compaction's postings swap + tombstone clear commit together: a
    crash at the commit point is finished by the next entry (postings
    physically clean, tombstones cleared)."""
    idx = str(tmp_path / "idx")
    write_bm25_index(idx, _docs(spark), n_buckets=8)
    delete_bm25_index(spark, idx, [1, 5], n_buckets=8)
    served = _serve(spark, idx)

    real = bm._commit_bm25_journal

    def journal_only(index_dir, staged, clear=()):
        j = f"{index_dir}/_commit_journal"
        with open(j + ".tmp", "w") as f:
            json.dump({"staged": list(staged), "clear": list(clear)}, f)
        os.replace(j + ".tmp", j)
        raise RuntimeError("simulated crash at commit point")

    monkeypatch.setattr(bm, "_commit_bm25_journal", journal_only)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_bm25_index(spark, idx)
    monkeypatch.undo()
    assert real is bm._commit_bm25_journal

    # serving reads through the pending journal (staged postings,
    # cleared tombstones) without mutating
    assert _serve(spark, idx) == served
    assert os.path.isfile(f"{idx}/_commit_journal")

    # the next mutator entry applies it physically: postings clean,
    # tombstones cleared, nothing left to compact
    assert compact_bm25_index(spark, idx) == 0
    assert not os.path.isfile(f"{idx}/_commit_journal")
    assert not os.path.isdir(f"{idx}/tombstones")
    left = {
        r["id"]
        for r in spark.read.parquet(f"{idx}/postings").select("id").collect()
    }
    assert left.isdisjoint({1, 5})


def _bucket(term: str, n: int) -> int:
    return int.from_bytes(hashlib.md5(term.encode()).digest()[:2], "big") % n


def _strip_n_buckets(spark, idx):
    """Rewrite stats the way a pre-round-7 build left it (no
    n_buckets column)."""
    r = spark.read.parquet(f"{idx}/stats").first()
    shutil.rmtree(f"{idx}/stats")
    spark.createDataFrame(
        [(int(r["n_docs"]), int(r["sum_dl"]))], "n_docs long, sum_dl long"
    ).write.mode("overwrite").parquet(f"{idx}/stats")


def test_legacy_index_bucket_count_is_layout_verified(spark, tmp_path):
    """Pre-round-7 index (stats lack n_buckets): a destructive delete
    must derive/verify the build-time bucket count from the layout —
    with the top bucket occupied, even a WRONG caller default is
    overridden by the verified derived count."""
    # vocabulary wide enough to occupy bucket 7 of 8 (checked)
    terms = [f"term{i}" for i in range(64)]
    assert max(_bucket(t, 8) for t in terms) == 7
    rows = [(i, " ".join(terms[i : i + 8])) for i in range(0, 64, 8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "idx")
    write_bm25_index(idx, docs, n_buckets=8)
    _strip_n_buckets(spark, idx)

    delete_bm25_index(spark, idx, [0], n_buckets=64)  # wrong caller value
    # the rewritten terms table must still be 8-bucketed: every term's
    # partition dir matches its md5 bucket mod 8
    t = spark.read.parquet(f"{idx}/terms").select("term", "bucket").collect()
    assert t and all(r["bucket"] == _bucket(r["term"], 8) for r in t)


def test_legacy_index_unverifiable_bucket_count_raises(spark, tmp_path):
    """If neither the layout-derived candidate nor the caller's value
    reproduces the existing bucketing, the delete must refuse rather
    than rewrite terms with a guessed count (silently dropped matches
    at serve time)."""
    # vocabulary chosen so bucket 7 is EMPTY and the derived candidate
    # (max occupied + 1) provably disagrees with mod-8 for some term
    pool = [f"w{i}" for i in range(400)]
    terms = [t for t in pool if _bucket(t, 8) != 7][:48]
    cand = max(_bucket(t, 8) for t in terms) + 1
    assert any(_bucket(t, cand) != _bucket(t, 8) for t in terms)
    rows = [(i, " ".join(terms[i : i + 8])) for i in range(0, 48, 8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "idx")
    write_bm25_index(idx, docs, n_buckets=8)
    _strip_n_buckets(spark, idx)

    with pytest.raises(ValueError, match="bucket count"):
        delete_bm25_index(spark, idx, [0], n_buckets=64)
    # explicit build-time value verifies and proceeds
    delete_bm25_index(spark, idx, [0], n_buckets=8)
    t = spark.read.parquet(f"{idx}/terms").select("term", "bucket").collect()
    assert t and all(r["bucket"] == _bucket(r["term"], 8) for r in t)


def _more_docs(spark):
    rows = [
        (10, "join probe spark"),
        (11, "hash plan scan scan"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_serve_never_touches_precommit_staging(spark, tmp_path):
    """Round-8 review: a read-only serve entering while a LIVE writer
    is still staging (no journal yet) must neither discard the staging
    nor change what it serves — the old serve-entry repair deleted the
    staging and could corrupt the writer's subsequent commit."""
    idx = str(tmp_path / "idx")
    write_bm25_index(idx, _docs(spark), n_buckets=8)
    baseline = _serve(spark, idx)

    # a writer mid-staging: half-written artifacts, journal NOT yet
    # renamed into place
    os.makedirs(f"{idx}/terms_staging")
    with open(f"{idx}/terms_staging/part-half-written", "w") as fh:
        fh.write("not parquet yet")
    os.makedirs(f"{idx}/postings_incoming/bucket=0")

    assert _serve(spark, idx) == baseline
    assert os.path.isfile(f"{idx}/terms_staging/part-half-written")
    assert os.path.isdir(f"{idx}/postings_incoming/bucket=0")
    # a mutator entering OWNS the write role and discards the garbage
    bm._repair_bm25_index(idx)
    assert not os.path.isdir(f"{idx}/terms_staging")
    assert not os.path.isdir(f"{idx}/postings_incoming")


def test_bm25_append_crash_before_commit_then_retry_counts_once(
    spark, tmp_path, monkeypatch
):
    """Round-8 review: the postings/docs appends must sit INSIDE the
    journal commit.  A crash before the journal rename leaves the live
    index bit-identical to pre-append (incoming/staging are garbage),
    and the natural retry appends exactly once — no doubled tf/df."""
    idx = str(tmp_path / "idx")
    write_bm25_index(idx, _docs(spark), n_buckets=8)
    before_stats = _stats(spark, idx)
    before_serve = _serve(spark, idx)

    def crash(*a, **k):
        raise RuntimeError("simulated crash before commit")

    monkeypatch.setattr(bm, "_commit_bm25_journal", crash)
    with pytest.raises(RuntimeError, match="before commit"):
        bm.append_bm25_index(idx, _more_docs(spark), n_buckets=8)
    monkeypatch.undo()

    # live index untouched; serve unchanged and non-mutating
    assert _stats(spark, idx) == before_stats
    assert _serve(spark, idx) == before_serve
    assert os.path.isdir(f"{idx}/postings_incoming")

    # retry: discards the garbage at entry, appends exactly once
    bm.append_bm25_index(idx, _more_docs(spark), n_buckets=8)
    rebuilt = str(tmp_path / "rebuilt")
    write_bm25_index(
        rebuilt, _docs(spark).unionByName(_more_docs(spark)), n_buckets=8
    )
    assert _stats(spark, idx) == _stats(spark, rebuilt)
    assert _serve(spark, idx) == _serve(spark, rebuilt)


def test_bm25_append_crash_at_commit_reads_through_then_applies(
    spark, tmp_path, monkeypatch
):
    """Crash right AFTER the append's journal rename: the committed
    append is the index's truth.  Serving reads THROUGH it (union of
    live + incoming postings, staged terms/stats) without mutating;
    the next mutator entry applies it physically, and the result is
    the rebuild over old ∪ new."""
    idx = str(tmp_path / "idx")
    write_bm25_index(idx, _docs(spark), n_buckets=8)

    real_repair = bm._repair_bm25_index

    def journal_only(index_dir, staged, clear=(), append=()):
        j = f"{index_dir}/_commit_journal"
        with open(j + ".tmp", "w") as f:
            json.dump(
                {"staged": list(staged), "clear": list(clear),
                 "append": list(append)}, f,
            )
        os.replace(j + ".tmp", j)
        raise RuntimeError("simulated crash at commit point")

    monkeypatch.setattr(bm, "_commit_bm25_journal", journal_only)
    with pytest.raises(RuntimeError, match="at commit point"):
        bm.append_bm25_index(idx, _more_docs(spark), n_buckets=8)
    monkeypatch.undo()

    rebuilt = str(tmp_path / "rebuilt")
    write_bm25_index(
        rebuilt, _docs(spark).unionByName(_more_docs(spark)), n_buckets=8
    )
    # read-through serve: new docs visible, journal untouched
    assert _serve(spark, idx) == _serve(spark, rebuilt)
    assert os.path.isfile(f"{idx}/_commit_journal")

    # mutator entry applies physically; everything matches the rebuild
    real_repair(idx)
    assert not os.path.isfile(f"{idx}/_commit_journal")
    assert not os.path.isdir(f"{idx}/postings_incoming")
    assert _stats(spark, idx) == _stats(spark, rebuilt)
    assert _serve(spark, idx) == _serve(spark, rebuilt)


def test_bm25_append_empty_batch_is_clean_noop(spark, tmp_path):
    """Round-8 review: an empty ingest batch's partitionBy write
    leaves a file-less postings_incoming the read-back couldn't
    schema-infer — the append must instead be a clean no-op (modulo
    n_docs accounting of zero docs) with the index fully intact."""
    idx = str(tmp_path / "idx")
    write_bm25_index(idx, _docs(spark), n_buckets=8)
    before_serve = _serve(spark, idx)
    before_stats = _stats(spark, idx)

    empty = _docs(spark).filter("doc_id < 0")
    bm.append_bm25_index(idx, empty, n_buckets=8)

    assert _serve(spark, idx) == before_serve
    assert _stats(spark, idx) == before_stats
    assert not os.path.isfile(f"{idx}/_commit_journal")
    assert not os.path.isdir(f"{idx}/postings_incoming")
    # and a real append afterwards still works end to end
    bm.append_bm25_index(idx, _more_docs(spark), n_buckets=8)
    rebuilt = str(tmp_path / "rebuilt")
    write_bm25_index(
        rebuilt, _docs(spark).unionByName(_more_docs(spark)), n_buckets=8
    )
    assert _serve(spark, idx) == _serve(spark, rebuilt)
    assert _stats(spark, idx) == _stats(spark, rebuilt)
