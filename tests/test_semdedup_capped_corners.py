"""Adversarial corners of the capped-semdedup split policy (the
round-12 witness-mutation discipline applied to the round-13
operator): minimal oversize, empty seed slots, and shuffle-partition
invariance of the full capped pipeline, and NULL-label rows."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkgraft.operators.similarity import (
    semantic_dedup,
    semantic_dedup_labeled,
)

CENTS = [(0, [2.0, 0.0, 0.0, 0.0]), (1, [-2.0, 0.0, 0.0, 0.0])]


def _df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_minimal_oversize_m_plus_one(spark):
    """|c| = M+1 is the smallest split: nsub = 2, and the pipeline must
    (a) keep every row, (b) stay deterministic, (c) place every
    dup_of in the dupe's own final group (dup_of < vec_id always)."""
    rows = [
        (i, [2.0 + 0.001 * i, 0.1 * (i % 3), 0.0, 1.0]) for i in range(11)
    ]
    out = semantic_dedup(_df(spark, rows), CENTS, 0.9, max_cluster_size=10)
    got = out.collect()
    assert len(got) == 11
    assert {r["vec_id"] for r in got} == set(range(11))
    assert all(
        r["dup_of"] is None or r["dup_of"] < r["vec_id"] for r in got
    )
    again = semantic_dedup(
        _df(spark, rows), CENTS, 0.9, max_cluster_size=10
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_sparse_ids_leave_seed_slots_empty_without_crashing(spark):
    """With nsub larger than the count of distinct md5 residues hit,
    some seed slots are EMPTY — the refinement must simply produce
    fewer sub-centroids (no crash, no dropped rows, deterministic).
    Forced here by a cluster of 23 rows with M=3 → nsub=8 over sparse
    pseudo-random residues."""
    rows = [(i * 977 + 13, [2.0, float(i % 5), 1.0, 0.0]) for i in range(23)]
    out = semantic_dedup(_df(spark, rows), CENTS, 0.999, max_cluster_size=3)
    got = out.collect()
    assert len(got) == 23
    assert {r["vec_id"] for r in got} == {i * 977 + 13 for i in range(23)}


def test_capped_pipeline_is_shuffle_partition_invariant(spark):
    """The whole capped path (sizes collect, seed min_by, refit,
    broadcast-join cap, triangle pairwise) must be bit-identical at 7
    vs 64 shuffle partitions — the class of bug the driver gate would
    flake on."""
    rows = [
        (i, [2.0 * ((i % 2) * 2 - 1), 0.01 * i, float(i % 7), 1.0])
        for i in range(90)
    ]
    results = []
    try:
        for n in ("7", "64"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            results.append(
                sorted(
                    map(
                        tuple,
                        semantic_dedup(
                            _df(spark, rows),
                            CENTS,
                            0.99,
                            max_cluster_size=12,
                        ).collect(),
                    )
                )
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    assert results[0] == results[1]
    # both clusters exist and at least one was split
    clusters = {r[1] for r in results[0]}
    subs = {r[2] for r in results[0]}
    assert clusters == {0, 1} and len(subs) > 1


def test_capped_keeps_null_label_rows(spark):
    """One output row per input row on the capped path too: a row whose
    label is NULL matches no group count in the hard-cap join, and must
    come back as a non-duplicate, exactly as on the uncapped path."""
    rows = [
        (i, [1.0, 0.001 * i, 0.0, 0.0], None if i == 4 else i % 2)
        for i in range(9)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    for cap in (None, 2):
        got = semantic_dedup_labeled(
            df, "label", 0.9, max_cluster_size=cap
        ).collect()
        assert sorted(r["vec_id"] for r in got) == list(range(9)), cap
        (null_row,) = [r for r in got if r["vec_id"] == 4]
        assert not null_row["is_duplicate"] and null_row["dup_of"] is None
