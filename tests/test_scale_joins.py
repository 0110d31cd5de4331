"""Scale-path join strategies: bucketed joins run shuffle-free and
salted joins equal their unsalted counterparts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkgraft.operators.scale import bucketed_join, salted_join, write_bucketed
from sparkgraft.plans import audit
from sparkgraft.sources.readers import read_table
from tests.conftest import SF_DIR


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    orders = read_table(spark, SF_DIR, "orders")
    li = read_table(spark, SF_DIR, "lineitem")
    write_bucketed(orders, "b_orders", ["o_orderkey"], 8)
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        ["o_orderkey"],
        8,
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # Force a non-broadcast join so the exchange question is real.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, "b_orders", "b_lineitem", ["o_orderkey"])
        assert audit.count_shuffles(joined) == 0, audit.explain_str(joined)
        # And it still computes the right thing.
        n = joined.count()
        plain = read_table(spark, SF_DIR, "orders").join(
            read_table(spark, SF_DIR, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        assert n == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_join_equals_plain_join(spark):
    events = read_table(spark, SF_DIR, "events")
    # Synthetic skew: every event keyed to one hot nation + a tail.
    skewed = events.select(
        F.when(F.col("event_id") % 10 < 8, 0)
        .otherwise((F.col("event_id") % 25).cast("int"))
        .alias("n_nationkey"),
        "event_id",
        "value",
    )
    nation = read_table(spark, SF_DIR, "nation")
    plain = skewed.join(nation, "n_nationkey").groupBy("n_name").agg(
        F.count("*").alias("n"), F.sum("event_id").alias("s")
    )
    salted = salted_join(
        skewed, nation, "n_nationkey", n_salts=8, salt_source=F.col("event_id")
    ).groupBy("n_name").agg(F.count("*").alias("n"), F.sum("event_id").alias("s"))
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_stratified_sample_rates_and_determinism(spark):
    from pyspark.sql import functions as F

    from sparkgraft.operators.scale import stratified_sample

    df = spark.range(4000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("s"), (F.col("id") % 2).cast("string")).alias("g"),
    )
    kept = stratified_sample(
        df, "g", {"s0": 1.0, "s1": 0.5}, ["k"], default_rate=0.0
    )
    counts = {r["g"]: r["n"] for r in kept.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts["s0"] == 2000          # rate 1.0 keeps everything
    assert 800 < counts["s1"] < 1200     # ~50%
    # deterministic: a second evaluation keeps the identical row set
    a = {r["k"] for r in kept.collect()}
    b = {r["k"] for r in kept.collect()}
    assert a == b
    # rate 0.0 via default: unknown stratum drops everything
    none = stratified_sample(df, "g", {}, ["k"], default_rate=0.0)
    assert none.count() == 0


def test_shuffle_key_and_shard_assignment(spark):
    from pyspark.sql import functions as F

    from sparkgraft.operators.scale import shard_assignment, shuffle_key

    df = spark.range(1000)
    out = df.select(
        "id",
        shuffle_key(["id"], seed=1).alias("k1"),
        shuffle_key(["id"], seed=2).alias("k2"),
        shard_assignment(["id"], 8).alias("shard"),
    ).collect()
    k1_order = [r["id"] for r in sorted(out, key=lambda r: r["k1"])]
    k2_order = [r["id"] for r in sorted(out, key=lambda r: r["k2"])]
    assert k1_order != k2_order          # independent permutations
    assert k1_order != list(range(1000))  # actually shuffled
    shards = {r["shard"] for r in out}
    assert shards <= set(range(8)) and len(shards) == 8
    # every shard gets a roughly even cut
    from collections import Counter

    c = Counter(r["shard"] for r in out)
    assert min(c.values()) > 60


def test_domain_weights_temperature_properties(spark):
    from pyspark.sql import functions as F

    from sparkgraft.operators.scale import domain_weights

    df = spark.range(1000).select(
        F.when(F.col("id") < 810, "big").otherwise(
            F.when(F.col("id") < 990, "mid").otherwise("tiny")
        ).alias("g")
    )
    # T=1: weights == natural shares
    w1 = {r["g"]: r for r in domain_weights(df, "g", temperature=1.0).collect()}
    assert abs(w1["big"]["weight"] - 0.81) < 1e-6
    assert abs(sum(r["weight"] for r in w1.values()) - 1.0) < 1e-5
    # T=2: small domains upweighted, big downweighted, order preserved
    w2 = {r["g"]: r for r in domain_weights(df, "g", temperature=2.0).collect()}
    assert w2["tiny"]["weight"] > w1["tiny"]["weight"]
    assert w2["big"]["weight"] < w1["big"]["weight"]
    assert w2["big"]["weight"] > w2["mid"]["weight"] > w2["tiny"]["weight"]


def test_bloom_prefilter_no_false_negatives_and_reduces(spark):
    from pyspark.sql import functions as F

    from sparkgraft.operators.scale import bloom_bitmap, bloom_prefilter

    big = spark.range(20000).select(F.col("id").alias("k"))
    small = spark.range(300).select((F.col("id") * 61).alias("k"))  # sparse keys
    bm = bloom_bitmap(small.select(F.col("k").alias("key")), "key", bits=4096, hashes=3)
    pre = bloom_prefilter(big, bm, "k", bits=4096, hashes=3)
    # every true match survives the prefilter (no false negatives)
    joined_pre = pre.join(small, "k").count()
    joined_plain = big.join(small, "k").count()
    assert joined_pre == joined_plain > 0
    # and the prefilter actually cut the big side (few false positives)
    n_pre = pre.count()
    assert n_pre < 2000, n_pre  # 20000 rows -> ~matches + fp
    assert n_pre >= joined_plain


def test_widen_narrow_scan_is_plan_free_for_file_scans(spark, tmp_path):
    """Round-4: the width check estimates scan partitions from the file
    listing + Spark's split math — no RDD conversion of the plan for
    file sources — and still widens a narrow single-file scan."""
    from pyspark.sql import functions as F

    from sparkgraft.operators.scale import (
        _estimated_scan_partitions,
        widen_narrow_scan,
    )

    p = str(tmp_path / "narrow")
    spark.range(1000).select(F.col("id"), (F.col("id") * 2).alias("v")).coalesce(
        1
    ).write.parquet(p)
    df = spark.read.parquet(p)
    par = spark.sparkContext.defaultParallelism
    est = _estimated_scan_partitions(df)
    assert est is not None and 1 <= est < par
    widened = widen_narrow_scan(df)
    assert widened.rdd.getNumPartitions() == par
    assert widened.count() == 1000
    # Non-file source (in-memory) -> estimate unavailable, fallback
    # path still widens correctly.
    mem = spark.range(100).coalesce(1)
    assert _estimated_scan_partitions(mem) is None
    assert widen_narrow_scan(mem).rdd.getNumPartitions() == par


def test_widen_narrow_scan_rows_per_task_bounds_fanout(spark, tmp_path):
    """Round-14: with ``rows_per_task`` the widened partition count is
    bounded by the data (ceil(rows / rows_per_task), capped at
    defaultParallelism, never below the scan's own width) — the guard
    for mapInPandas synthesis kernels where per-task worker overhead
    exceeds the kernel below a few hundred rows.  The row count comes
    from parquet footers driver-side; a non-file source falls back to
    the unbounded widen."""
    from pyspark.sql import functions as F

    from sparkgraft.operators.scale import _scan_row_count, widen_narrow_scan

    p = str(tmp_path / "narrow_rows")
    spark.range(1000).select(F.col("id"), (F.col("id") * 2).alias("v")).coalesce(
        1
    ).write.parquet(p)
    df = spark.read.parquet(p)
    par = spark.sparkContext.defaultParallelism
    assert _scan_row_count(df) == 1000
    # 1000 rows at 300/task -> ceil = 4 partitions (par is larger)
    w = widen_narrow_scan(df, rows_per_task=300)
    assert w.rdd.getNumPartitions() == min(par, 4)
    assert w.count() == 1000
    # a floor larger than the table still widens to >= the scan width
    w1 = widen_narrow_scan(df, rows_per_task=10**6)
    assert 1 <= w1.rdd.getNumPartitions() <= min(par, 1) or (
        w1.rdd.getNumPartitions() == 1
    )
    # tiny floor -> capped at defaultParallelism, same rows
    w2 = widen_narrow_scan(df, rows_per_task=1)
    assert w2.rdd.getNumPartitions() == par
    # non-file source: row count unavailable, falls back to full widen
    mem = spark.range(100).coalesce(1)
    assert _scan_row_count(mem) is None
    assert widen_narrow_scan(mem, rows_per_task=300).rdd.getNumPartitions() == par
    # a non-positive bound is rejected before any planning
    for bad in (0, -3):
        with pytest.raises(ValueError, match="rows_per_task"):
            widen_narrow_scan(df, rows_per_task=bad)


def test_read_table_caches_plan_per_session(spark):
    from sparkgraft.sources.readers import read_table

    a = read_table(spark, "/root/testdata/sf0.001", "region")
    b = read_table(spark, "/root/testdata/sf0.001", "region")
    assert a is b  # same immutable logical plan, no re-listing
    c = read_table(spark, "/root/testdata/sf0.001", "nation")
    assert c is not a
    assert a.count() == 5


def test_triangle_self_pairs_matches_plain_join(spark):
    """The triangle decomposition must be bit-identical to the plain
    blocked self-join: same unordered pair set (each exactly once),
    payloads oriented to the lesser id — including a hot block holding
    most rows and a block smaller than the block count."""
    from pyspark.sql import functions as F

    from sparkgraft.operators.scale import triangle_self_pairs

    rows = [("hot", i, f"p{i}") for i in range(40)] + [
        ("cold", 100 + i, f"q{i}") for i in range(3)
    ]
    df = spark.createDataFrame(rows, "block string, rid long, name string")
    got = {
        (r["block"], r["id_a"], r["id_b"], r["name_a"], r["name_b"])
        for r in triangle_self_pairs(
            df, ["block"], "rid", ["name"], n_blocks=8
        ).collect()
    }
    a = df.select("block", F.col("rid").alias("id_a"), F.col("name").alias("name_a"))
    b = df.select("block", F.col("rid").alias("id_b"), F.col("name").alias("name_b"))
    want = {
        tuple(r)
        for r in a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("block", "id_a", "id_b", "name_a", "name_b")
        .collect()
    }
    assert got == want
    assert len(want) == 40 * 39 // 2 + 3


def test_triangle_self_pairs_drops_null_ids(spark):
    """Round-11 ADVICE fix: NULL-id rows must not pair.  The plain
    join's id_a < id_b drops NULL pairs implicitly; an off-diagonal
    triangle cell pairs rows WITHOUT that check, so the helper filters
    NULL ids up front — otherwise two NULL-id rows in different hash
    blocks would emit a pair with NULL id_a/id_b."""
    from pyspark.sql import functions as F

    from sparkgraft.operators.scale import triangle_self_pairs

    rows = [("g", i, f"p{i}") for i in range(6)] + [
        ("g", None, "n1"),
        ("g", None, "n2"),
        ("g", None, "n3"),
    ]
    df = spark.createDataFrame(rows, "block string, rid long, name string")
    got = triangle_self_pairs(
        df, ["block"], "rid", ["name"], n_blocks=8
    ).collect()
    assert all(
        r["id_a"] is not None and r["id_b"] is not None for r in got
    )
    assert len(got) == 6 * 5 // 2  # NULL-id rows contribute nothing
