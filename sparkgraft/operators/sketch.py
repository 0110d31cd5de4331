"""Count-min sketch as DataFrame operators.

The engine's other sketches (HLL cardinality, approx percentile) are
native Spark aggregates exercised by oracle queries; count-min has no
portable built-in surface, so it is built here from the same md5
toolkit as the dedup/sampling operators — which keeps BOTH the build
and the lookup oracle-checkable in DuckDB, and the cell table mergeable
across partitions/streams by plain cell-wise addition (the distributed
sketch law the tests assert).

Scale shape: the build is ONE pass over the data (an explode of depth
(row, bucket) pairs into a map-side-combined count whose result is at
most depth x width cells); a lookup broadcasts that tiny cell table
against the probe keys.  Estimates are exact integer arithmetic — no
floating point anywhere — so results are deterministic in any engine.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _cms_bucket(
    d: int, key_cols: Sequence[str], width: int, salt: str
) -> Column:
    """Row-``d`` bucket: the first 4 hex chars of md5(d|salt|key) mod
    width — 16 bits of hash, plenty for any practical width."""
    h = F.md5(
        F.concat_ws(
            "|", F.lit(str(d)), F.lit(salt), *[F.col(c) for c in key_cols]
        )
    )
    return F.pmod(
        F.conv(F.substring(h, 1, 4), 16, 10).cast("long"), F.lit(width)
    ).cast("int")


def cms_build(
    df: DataFrame,
    key_cols: Sequence[str],
    depth: int = 4,
    width: int = 256,
    salt: str = "cms",
) -> DataFrame:
    """Build the (depth x width) count table: one row per non-empty
    cell, ``(d, bucket, n)``.  Two sketches over disjoint data merge by
    summing ``n`` cell-wise (unionByName + groupBy(d, bucket))."""
    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _cms_bucket(d, key_cols, width, salt).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("cell")
    )
    return (
        cells.select("cell.d", "cell.bucket")
        .groupBy("d", "bucket")
        .agg(F.count("*").alias("n"))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Cell-wise sum of two sketches built with identical parameters —
    the distributive property that lets per-partition / per-stream
    sketches roll up without touching raw data."""
    return (
        a.unionByName(b)
        .groupBy("d", "bucket")
        .agg(F.sum("n").alias("n"))
    )


def cms_lookup(
    cms: DataFrame,
    probes: DataFrame,
    key_cols: Sequence[str],
    depth: int = 4,
    width: int = 256,
    salt: str = "cms",
) -> DataFrame:
    """Point-estimate the count of each probe key: min over the depth
    rows of the key's cell — always >= the true count (cells only ever
    over-count on collisions).  The cell table broadcasts; probes never
    shuffle more than (key, d, bucket)."""
    exploded = probes.select(
        *key_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _cms_bucket(d, key_cols, width, salt).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("cell"),
    ).select(*key_cols, "cell.d", "cell.bucket")
    joined = exploded.join(F.broadcast(cms), ["d", "bucket"], "left")
    return joined.groupBy(*key_cols).agg(
        F.min(F.coalesce(F.col("n"), F.lit(0))).alias("n_est")
    )


# --- KMV (k-minimum-values) distinct sketch ---------------------------------
#
# The mergeable distinct-count sketch that, unlike HLL, also supports
# SET OPERATIONS: two KMV sketches intersect/union by combining their
# hash lists, which is how cross-dataset overlap (train/eval leakage,
# audience intersection) is estimated without a distinct-join.  Built
# from md5 like everything else here, so it is deterministic: same data
# -> bit-identical sketch in any engine, and the merge law
# merge(build(A), build(B)) == build(A ∪ B) holds EXACTLY, not just in
# distribution (the tests assert equality).


def _kmv_h60(h: Column) -> Column:
    """md5 hex -> the exact 60-bit integer draw (first 15 hex chars).
    The KMV estimators are ratios of integers over this draw —
    (k-1)·2^60 / h60 — so they emit through the exact integer-ratio
    kernel (round-9 discipline: round(double) of an integer ratio is
    engine-dependent exactly when it terminates on a rounding
    half-boundary)."""
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long")


def _dec_lit(v: int) -> Column:
    """An arbitrary-precision integer literal as DECIMAL(38,0)
    (python ints beyond 2^63 cannot pass through F.lit)."""
    return F.expr(f"CAST('{int(v)}' AS DECIMAL(38,0))")


def kmv_build(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-group KMV sketch: the ``k`` smallest distinct md5 hashes of
    the value.  One distinct aggregate, then a rank-filter (row_number
    ≤ k per group) BEFORE the collect — per-group aggregation state is
    bounded by k even when a group holds millions of distinct values;
    the shuffle carries (group, 32-hex) pairs only.

    Returns ``(group..., ks array<string>)`` — hex-sorted ascending,
    which equals numeric order for fixed-width hex.
    """
    hashed = df.select(
        *group_cols, F.md5(F.col(value_col).cast("string")).alias("h")
    ).distinct()
    return _k_smallest(hashed, group_cols, k)


def _k_smallest(hashed: DataFrame, group_cols: Sequence[str], k: int) -> DataFrame:
    """(group, h) pairs → ``(group..., ks)`` with the k smallest h per
    group: rank first so no aggregation buffer ever holds more than k
    hashes."""
    w = Window.partitionBy(*group_cols).orderBy("h")
    return (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .groupBy(*group_cols)
        .agg(F.array_sort(F.collect_list("h")).alias("ks"))
    )


def kmv_merge(a: DataFrame, b: DataFrame, group_cols: Sequence[str], k: int = 64) -> DataFrame:
    """Merge sketches built with the same ``k``: union the hash lists,
    dedup, keep the k smallest — exactly ``kmv_build`` of the union."""
    u = a.unionByName(b)
    hashed = u.select(*group_cols, F.explode("ks").alias("h")).distinct()
    return _k_smallest(hashed, group_cols, k)


def kmv_estimate(sketch: DataFrame, k: int = 64, digits: int = 2) -> DataFrame:
    """Distinct-count estimate per group: if the sketch holds fewer
    than k hashes the count is EXACT (= its size); otherwise the
    classic (k-1)/frac(k-th smallest) estimator.  Rounded once for
    engine portability."""
    from sparkgraft.operators.stats import exact_ratio

    n_held = F.size("ks")
    kth60 = _kmv_h60(F.element_at("ks", k))
    est = F.when(n_held < k, n_held.cast("double")).otherwise(
        exact_ratio(_dec_lit((k - 1) << 60), kth60, digits)
    )
    return sketch.withColumn("distinct_est", est)


def kmv_intersection(
    a: DataFrame,
    b: DataFrame,
    group_cols: Sequence[str],
    k: int = 64,
    digits: int = 2,
) -> DataFrame:
    """Estimated overlap of two sketched sets per group: Jaccard over
    the k smallest hashes of the union (shared / kept), scaled by the
    union estimate — the standard KMV set-operation construction that
    HLL cannot express.  Columns: ``jaccard_est``, ``union_est``,
    ``intersection_est``.
    """
    av = a.select(*group_cols, F.explode("ks").alias("h")).withColumn(
        "in_a", F.lit(1)
    )
    bv = b.select(*group_cols, F.explode("ks").alias("h")).withColumn(
        "in_b", F.lit(1)
    )
    both = av.join(bv, [*group_cols, "h"], "full").na.fill(
        0, ["in_a", "in_b"]
    )
    ranked = both.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy(*group_cols).orderBy("h")),
    ).filter(F.col("rn") <= k)
    from sparkgraft.operators.stats import exact_ratio, exact_ratio_scaled

    agg = ranked.groupBy(*group_cols).agg(
        F.count("*").alias("kept"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("shared"),
        F.max(F.when(F.col("rn") == k, _kmv_h60(F.col("h")))).alias(
            "kth60"
        ),
    )
    # union at `digits` as an exact scaled integer, so the composed
    # intersection (jaccard x ROUNDED union — the documented estimator
    # composition) is again one integer ratio through the kernel.
    u_scale = 10**digits
    union_s = F.when(
        F.col("kept") < k,
        (F.col("kept") * F.lit(u_scale)).cast("decimal(38,0)"),
    ).otherwise(
        exact_ratio_scaled(_dec_lit((k - 1) << 60), F.col("kth60"), digits)
    )
    return agg.select(
        *group_cols,
        exact_ratio(F.col("shared"), F.col("kept"), 6).alias("jaccard_est"),
        (union_s.cast("double") / F.lit(float(u_scale))).alias("union_est"),
        exact_ratio(
            F.col("shared").cast("decimal(38,0)") * union_s,
            F.col("kept").cast("decimal(38,0)") * F.lit(u_scale),
            digits,
        ).alias("intersection_est"),
    )


# ---------------------------------------------------------------------------
# DDSketch (Masson, Lee & Rong, VLDB 2019): relative-error quantile
# sketch.  Bucket i = ceil(log_gamma(x)) with gamma = (1+alpha)/(1-alpha)
# guarantees every estimate is within alpha relative error of the true
# quantile.  The sketch is a tiny (group, sign, bucket, cnt) table —
# mergeable by plain cell-wise addition (same law as the CMS above),
# which is what makes it the production shape for distributed and
# streaming percentiles: each partition/micro-batch sketches locally,
# merge is a groupBy sum, quantile reads are a cumulative walk.
# Zero and negative values get a sign column (-1/0/+1); walk order is
# (sign, sign*bucket) ascending, i.e. most-negative first.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters (Misra & Gries 1982; mergeable-summaries
# form per Agarwal et al., PODS 2012).  The frequency complement of the
# sketches above: which keys exceed n/k of a 100 TB stream, without
# ever shuffling the full distinct-key set.  Phase 1 keeps at most k-1
# counters PER PARTITION (an Arrow-batched kernel; no shuffle, bounded
# memory regardless of key cardinality) with the classic guarantee
# that every key with global count > n/k survives in at least one
# partition summary.  Phase 2 broadcasts the tiny candidate set back
# for an exact rescan count — so the FINAL output (candidates filtered
# by exact count*k > n) is the exact heavy-hitter set, deterministic
# and independent of partitioning even though the intermediate
# summaries are not.
# ---------------------------------------------------------------------------


def mg_summaries(df: DataFrame, key_col: str, k: int = 100) -> DataFrame:
    """Per-partition Misra-Gries summaries: ``(key, lb)`` rows (at most
    k-1 per partition; ``lb`` is a lower bound on the key's partition
    count, undercounting by at most n_p/k) plus one ``(NULL, n_p)`` row
    carrying the partition's row count so downstream thresholds need no
    second corpus pass.

    Batches merge by counter addition followed by the mergeable-
    summaries trim (subtract the k-th largest counter, drop non-
    positive) — vectorized over each Arrow batch's value_counts, never
    per row.
    """
    import pandas as pd

    def summarize(batches):
        counters = pd.Series(dtype="int64")
        n_part = 0
        for pdf in batches:
            col = pdf[key_col].dropna().astype(str)
            n_part += len(col)
            counters = counters.add(col.value_counts(), fill_value=0)
            if len(counters) > k - 1:
                import numpy as np

                vals = counters.to_numpy()
                # k-th largest (index len-k): strictly-greater survivors are
                # at most k-1, and undercount stays bounded by n_p/k.  The
                # (k-1)-th largest over-trims: with k=3 and counts {4,4,1}
                # (n=9) it would evict BOTH true heavy hitters.
                sub = np.partition(vals, len(vals) - k)[len(vals) - k]
                counters = counters[counters > sub] - sub
        out = pd.DataFrame(
            {"key": counters.index.astype(str), "lb": counters.astype("int64")}
        )
        total = pd.DataFrame({"key": [None], "lb": [n_part]})
        yield pd.concat([out, total], ignore_index=True)

    return df.select(F.col(key_col).cast("string").alias(key_col)).mapInPandas(
        summarize, "key string, lb long"
    )


def heavy_hitters(
    df: DataFrame, key_col: str, k: int = 100, digits: int = 6
) -> DataFrame:
    """Exact heavy hitters (count*k > n) in two passes: Misra-Gries
    candidates per partition, then an exact broadcast-rescan count of
    the candidate set only.  Output ``(key_col, n, share)`` — exact
    counts, deterministic for any partitioning (every true heavy
    hitter is guaranteed into the candidate set; false candidates are
    removed by the exact filter)."""
    from sparkgraft.operators.stats import exact_ratio

    summ = mg_summaries(df, key_col, k=k)
    cand = summ.filter(F.col("key").isNotNull()).select("key").distinct()
    totals = summ.filter(F.col("key").isNull()).agg(
        F.sum("lb").alias("n_total")
    )
    exact = (
        df.select(F.col(key_col).cast("string").alias("key"))
        .join(F.broadcast(cand), "key")
        .groupBy("key")
        .agg(F.count("*").alias("n"))
    )
    return (
        exact.crossJoin(F.broadcast(totals))
        .filter(F.col("n") * k > F.col("n_total"))
        .select(
            F.col("key").alias(key_col),
            "n",
            exact_ratio(F.col("n"), F.col("n_total"), digits).alias(
                "share"
            ),
        )
    )


def _dd_gamma(alpha: float) -> float:
    return (1.0 + alpha) / (1.0 - alpha)


def ddsketch_build(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    alpha: float = 0.01,
) -> DataFrame:
    """One pass -> (group..., sign, bucket, cnt); map-side combined."""
    import math

    lng = math.log(_dd_gamma(alpha))
    v = F.col(value_col)
    sign = F.when(v > 0, 1).when(v < 0, -1).otherwise(0)
    bucket = (
        F.when(v > 0, F.ceil(F.log(v) / F.lit(lng)))
        .when(v < 0, F.ceil(F.log(-v) / F.lit(lng)))
        .otherwise(F.lit(0))
        .cast("long")
    )
    return (
        df.filter(~F.isnan(v) & v.isNotNull())
        .groupBy(*group_cols, sign.alias("sign"), bucket.alias("bucket"))
        .agg(F.count("*").alias("cnt"))
    )


def ddsketch_merge(
    a: DataFrame, b: DataFrame, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Cell-wise addition — the distributed/streaming merge law."""
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "sign", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def ddsketch_quantiles(
    sketch: DataFrame,
    group_cols: Sequence[str] = (),
    qs: Sequence[float] = (0.5, 0.9, 0.99),
    alpha: float = 0.01,
    digits: int = 4,
) -> DataFrame:
    """Quantile reads: per group and q, the first bucket (in value
    order) whose cumulative count reaches rank floor(q*(n-1))+1;
    estimate = sign * 2*gamma^bucket / (gamma+1).  Deterministic —
    exact integer ranks, fixed walk order."""
    import math

    g = _dd_gamma(alpha)
    gc = list(group_cols)
    w_ord = Window.partitionBy(*gc).orderBy("sign", F.col("sign") * F.col("bucket"))
    w_all = Window.partitionBy(*gc)
    cum = sketch.select(
        *gc,
        "sign",
        "bucket",
        F.sum("cnt").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    spark = sketch.sparkSession
    qdf = spark.createDataFrame([(float(q),) for q in qs], "q double")
    rank = F.floor(F.col("q") * (F.col("n") - 1)) + 1
    hit = cum.crossJoin(F.broadcast(qdf)).filter(F.col("cum") >= rank)
    first = hit.groupBy(*gc, "q", "n").agg(
        F.min(
            F.struct(
                F.col("sign"),
                (F.col("sign") * F.col("bucket")).alias("ord"),
                F.col("bucket"),
            )
        ).alias("fb")
    )
    est = F.when(
        F.col("fb.sign") == 0, F.lit(0.0)
    ).otherwise(
        F.col("fb.sign")
        * F.lit(2.0)
        * F.pow(F.lit(g), F.col("fb.bucket"))
        / F.lit(g + 1.0)
    )
    return first.select(
        *gc, "q", F.col("n").alias("n_values"), F.round(est, digits).alias("estimate")
    )
