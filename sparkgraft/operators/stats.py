"""Descriptive-statistics operators (SURVEY §2.4 A1/A2/A5/A6, §2.5).

All operators are single-shuffle grouped aggregations with map-side
partial aggregation (Spark's default HashAggregate partial+final), so
they scale linearly with input size: at 100 TB the only shuffle moves
one partial-agg row per (group, task), not raw samples.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Fixed-point scale for exact means: values are scaled to integers at
# this precision before summing, so the rounded mean is derived from
# exact integer arithmetic (see exact_mean_parts).
MEAN_SCALE = 1_000_000


def scaled_long(v: Column, scale: int = MEAN_SCALE) -> Column:
    """Value → exact fixed-point integer (nearest; doubles are never at
    an exact .5 boundary for real-world decimal data)."""
    return F.round(v * F.lit(float(scale)), 0).cast("long")


def _dec(c: Column) -> Column:
    return c.cast("decimal(38,0)")


def exact_rounded_sum(sum_scaled: Column, digits: int) -> Column:
    """HALF-UP-rounded sum from an exact scaled-integer sum — the sum
    counterpart of :func:`exact_mean` (same tie-proof integer rounding,
    and long sums run at hardware speed where decimal sums don't).

    The rounding division runs in DECIMAL(38,0) via integral ``div`` —
    never through a double — so it stays exact far past the 2^53 scaled
    sums where ``floor(double/double)`` silently misrounds.  The decimal
    arithmetic touches one row per group (post-aggregation), not the
    fact table, so the long-sum hot path is unchanged.
    """
    assert 10**digits <= MEAN_SCALE
    unit = MEAN_SCALE // (10**digits)
    s_abs = _dec(F.abs(sum_scaled))
    num = F.lit(2).cast("decimal(38,0)") * s_abs + F.lit(unit).cast("decimal(38,0)")
    den = F.lit(2 * unit).cast("decimal(38,0)")
    r = F.call_function("div", num, den)  # exact integral quotient (long)
    signed = F.when(sum_scaled < 0, -r).otherwise(r)
    return signed.cast("double") / F.lit(float(10**digits))


def exact_mean(sum_scaled: Column, n: Column, digits: int) -> Column:
    """HALF-UP-rounded mean from an exact scaled-integer sum.

    mean = S/(scale*n) rounded to ``digits`` — computed as an integral
    division in DECIMAL(38,0) (operands are non-negative, so truncating
    ``div`` == floor), so the result is bit-identical in every engine
    and under every partitioning: no float tie can flip the rounding
    (round(double, d) differs between engines exactly at rational .5
    boundaries, which per-group means hit routinely), and no 2^53
    double-mantissa ceiling applies to the scaled sum.
    """
    assert 10**digits <= MEAN_SCALE
    unit = MEAN_SCALE // (10**digits)  # S units per output quantum
    s_abs = _dec(F.abs(sum_scaled))
    n_dec = _dec(n)
    num = (
        F.lit(2).cast("decimal(38,0)") * s_abs
        + F.lit(unit).cast("decimal(38,0)") * n_dec
    )
    den = F.lit(2 * unit).cast("decimal(38,0)") * n_dec
    r = F.call_function("div", num, den)  # exact integral quotient (long)
    signed = F.when(sum_scaled < 0, -r).otherwise(r)
    return signed.cast("double") / F.lit(float(10**digits))


def exact_ratio_scaled(num: Column, den: Column, digits: int) -> Column:
    """HALF-UP-rounded ``num/den * 10**digits`` as an exact integer
    (DECIMAL(38,0) ``div`` — no double ever forms): the generic
    integer-ratio kernel behind :func:`exact_ratio`.

    ``num`` may be negative; ``den`` must be positive.  Exposed
    separately so per-row quantized terms (e.g. Fleiss P_i at 12
    digits, AP P@r terms) can be summed as exact integers before a
    final :func:`exact_ratio` division — the engine's answer to the
    round-8 driver flip, where Fleiss ``p_e`` (a ratio of integer
    marginals) terminated exactly ON the round(·,6) half-boundary and
    Spark's BigDecimal HALF_UP disagreed with the driver DuckDB
    build's float rounding.  Ratios of integers routinely terminate on
    half-boundaries; ``round(double, d)`` of one is engine-dependent
    BY CONSTRUCTION and must never be emitted.
    """
    two = F.lit(2).cast("decimal(38,0)")
    p = _dec(F.abs(num)) * F.lit(10**digits).cast("decimal(38,0)")
    q = _dec(den)
    r = F.call_function("div", two * p + q, two * q)
    return F.when(num < 0, -r).otherwise(r)


def exact_ratio(num: Column, den: Column, digits: int) -> Column:
    """HALF-UP-rounded ratio of integers ``num/den`` at ``digits``,
    engine-invariant: the rounding happens in exact DECIMAL(38,0)
    arithmetic (:func:`exact_ratio_scaled`), and the final
    ``scaled/10**digits`` double is the nearest double to a d-digit
    decimal — unambiguous on every engine (the exact_mean discipline).
    """
    return exact_ratio_scaled(num, den, digits).cast("double") / F.lit(
        float(10**digits)
    )


def channel_stats(
    df: DataFrame,
    keys: Sequence[str | Column],
    value: str | Column = "value",
    digits: int = 3,
) -> DataFrame:
    """A1 — per-key mean/min/max of a value column, rounded.

    Reference: DataConverterUDBF.py:213-282 (per-channel column slices →
    numpy mean/min/max, rounded to BASIC_ROUNDING=3, emitted as rows
    ``Sensor, Mean, Minimum, Maximum``).  Here the wide matrix is the
    long form (§1.3) and one ``groupBy`` replaces the per-channel loop —
    Catalyst runs it as partial+final HashAggregate (map-side combine),
    so no raw-sample shuffle.

    The mean is computed from an exact fixed-point integer sum
    (``exact_mean``): deterministic under any partitioning/AQE re-plan,
    and its HALF-UP rounding is tie-proof across engines — which makes
    the oracle comparison exact and reruns bit-identical.
    """
    v = F.col(value) if isinstance(value, str) else value
    return df.groupBy(*keys).agg(
        exact_mean(F.sum(scaled_long(v)), F.count(v), digits).alias("mean"),
        F.round(F.min(v), digits).alias("min"),
        F.round(F.max(v), digits).alias("max"),
    )


def extended_stats(
    df: DataFrame,
    keys: Sequence[str | Column],
    value: str | Column = "value",
    digits: int = 4,
) -> DataFrame:
    """A6 — the upstream "sens statistics" metric set, computed natively.

    Reference: modbus/setup/mapping.json (fields ``stats_<i>_<j>_<metric>``,
    e.g. :2220-2286): mean/max/p50/p90, counts (rows, nans), plus
    mean/min/max/std — produced *outside* the reference repo and only
    consumed there; this engine computes them from raw rows, closing the
    gap (SURVEY §2.4 A6).

    std uses the exact-decimal sum/sum-of-squares so the result is
    deterministic across partitionings; percentiles use Spark's exact
    ``percentile`` (sort-based within group).

    NaN rows are *excluded* from every moment (they are reported in
    ``n_nans``, matching the numpy ``nanmean``-style upstream metrics) —
    without the exclusion the non-ANSI long cast would silently absorb
    NaN as 0 while the count still included the row, biasing mean/std.
    ``std`` is NULL for groups with fewer than 2 valid rows.
    """
    v = F.col(value) if isinstance(value, str) else value
    vv = F.when(~F.isnan(v), v)  # NaN → NULL: skipped by every aggregate
    # Fixed-point integer moments at MEAN_SCALE (1e6): w = round(v*1e6)
    # is EXACT for data with <= 6 decimals — the same quantum as the
    # DuckDB oracle's DECIMAL(27,6) cast, so the two engines square and
    # sum identical integers (a 1e3 quantum would silently diverge on
    # 4-6-decimal data).  Long sums run at hardware speed; the square
    # is accumulated in DECIMAL(38,0) (w*w up to 1e32 for |v| ~ 1e10)
    # so nothing wraps — the decimal cast happens once per row
    # pre-aggregation and keeps the sum exact to 10^38.
    w = F.round(vv * F.lit(float(MEAN_SCALE)), 0).cast("long")
    wd = w.cast("decimal(38,0)")
    n = F.count(vv)  # non-NaN denominator for mean/var
    s1 = F.sum(w).cast("double") / F.lit(1.0e6)
    s2 = F.sum(wd * wd).cast("double") / F.lit(1.0e12)
    var = (s2 - s1 * s1 / n) / (n - F.lit(1))
    return df.groupBy(*keys).agg(
        F.count(v).alias("n_rows"),
        F.count(F.when(F.isnan(v), F.lit(1))).alias("n_nans"),
        exact_mean(F.sum(scaled_long(vv)), n, digits).alias("mean"),
        F.round(F.min(vv), digits).alias("min"),
        F.round(F.max(vv), digits).alias("max"),
        F.when(
            n > 1, F.round(F.sqrt(F.greatest(var, F.lit(0.0))), digits)
        ).alias("std"),
        F.round(F.percentile(vv, F.lit(0.5)), digits).alias("p50"),
        F.round(F.percentile(vv, F.lit(0.9)), digits).alias("p90"),
    )


def latest_rows(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """A2/O2 — latest row per key (full row), deterministic under ties.

    Reference: sens_file_analysis.py:58-90 (stable sort on DatetimeIndex,
    take last row; fallback chain for unparsable timestamps is handled at
    read time by ``try_cast`` → NULL ordering).  Implemented with
    ``row_number`` over (ts DESC, tiebreak DESC): one shuffle on the key,
    no self-join.  At scale this is the standard "latest snapshot"
    pattern; with AQE the skewed-key case is split automatically.
    """
    order = [F.col(ts).desc_nulls_last()] + [F.col(c).desc() for c in tiebreak]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_row_fallback(
    df: DataFrame,
    keys: Sequence[str],
    ts_raw: str,
    row_index: str,
) -> DataFrame:
    """A2 with the reference's full fallback chain
    (sens_file_analysis.py:58-90): prefer the latest *parsable*
    timestamp; if no row of the key parses, fall back to the last
    physical row (highest ingest index).

    One window pass: order by (parsed_ts NULLS LAST desc, row_index
    desc) — rows with parsable timestamps always outrank unparsable
    ones, and the physical index both breaks ts ties and carries the
    all-unparsable fallback.
    """
    parsed = F.col(ts_raw).try_cast("timestamp")
    w = Window.partitionBy(*keys).orderBy(
        parsed.desc_nulls_last(), F.col(row_index).desc()
    )
    return (
        df.withColumn("parsed_ts", parsed)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def windowed_channel_stats(
    df: DataFrame,
    ts: str = "ts",
    key: str = "channel",
    value: str = "value",
    duration: str = "10 minutes",
    digits: int = 3,
) -> DataFrame:
    """A1 over event-time tumbling windows (the file cadence, SURVEY §2.9).

    The reference's per-file statistics are per-10-minute-file; with
    event-time windows the same statistics become cadence-independent:
    ``window(ts, '10 minutes')`` groups samples exactly as the 10-min
    aligned files do (DataConverterUDBF.py:59-63).
    """
    g = df.groupBy(F.window(F.col(ts), duration).alias("w"), F.col(key))
    v = F.col(value)
    return g.agg(
        exact_mean(F.sum(scaled_long(v)), F.count(v), digits).alias("mean"),
        F.round(F.min(v), digits).alias("min"),
        F.round(F.max(v), digits).alias("max"),
    ).select(
        F.col("w.start").alias("window_start"),
        F.col(key),
        "mean",
        "min",
        "max",
    )


def robust_outlier_stats(
    df: DataFrame,
    keys: Sequence[str],
    value: str = "value",
    z: float = 3.0,
) -> DataFrame:
    """Median/MAD robust outlier statistics per group — the
    breakdown-resistant alternative to the z-score outlier count in
    :func:`extended_stats` (a single wild value shifts mean AND std,
    masking itself; the median absolute deviation does not).

    All order statistics run over exact scaled longs (value × 1e6), so
    the median of an even group is int-or-int+0.5 — exactly
    representable, no float ties, engine-portable without rounding
    heuristics.  The outlier threshold is the usual 1.4826·z·MAD
    (1.4826 ≈ consistency constant for normal data).

    Plan: three same-key aggregates (median → MAD → counts) with the
    tiny per-group tables broadcast back — the fact table shuffles
    once, the rest are broadcast joins.
    """
    kz = 1.4826 * z
    t = df.select(*keys, scaled_long(F.col(value)).alias("vs"))
    med = t.groupBy(*keys).agg(F.median("vs").alias("med_s"))
    dev = t.join(F.broadcast(med), list(keys)).withColumn(
        "dev", F.abs(F.col("vs") - F.col("med_s"))
    )
    mad = dev.groupBy(*keys).agg(F.median("dev").alias("mad_s"))
    flagged = dev.join(F.broadcast(mad), list(keys))
    return (
        flagged.groupBy(*keys)
        .agg(
            F.count("*").alias("n"),
            F.first("med_s").alias("_med"),
            F.first("mad_s").alias("_mad"),
            F.sum(
                F.when(
                    F.col("dev") > F.lit(kz) * F.col("mad_s"), F.lit(1)
                ).otherwise(F.lit(0))
            ).alias("n_outliers"),
        )
        .select(
            *keys,
            "n",
            (F.col("_med") / F.lit(1e6)).alias("median"),
            (F.col("_mad") / F.lit(1e6)).alias("mad"),
            "n_outliers",
        )
    )


def equidepth_histogram(
    df: DataFrame,
    value: str,
    tiebreak: Sequence[str],
    buckets: int = 8,
    digits: int = 3,
) -> DataFrame:
    """Equi-depth (equal-frequency) histogram: ``ntile`` over a TOTAL
    order (value + unique tie-break columns, so bucket assignment is
    deterministic), then per-bucket count/min/max — the quantile-sketch
    companion to the equi-width ``value_histogram`` query.

    Scale: a global ntile sorts on a single reducer; acceptable for the
    histogram's purpose (it summarizes, so run it on a sample or
    pre-aggregated values at 100 TB — same guidance as any global sort).
    """
    order = [F.col(value).asc()] + [F.col(c).asc() for c in tiebreak]
    w = Window.orderBy(*order)
    tiled = df.select(
        F.col(value).alias("v"), F.ntile(buckets).over(w).alias("bucket")
    )
    return (
        tiled.groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("v"), digits).alias("lo"),
            F.round(F.max("v"), digits).alias("hi"),
        )
        .orderBy("bucket")
    )


def profile_columns(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """ANALYZE-style column profiling in one pass: per column the row
    count, null count, distinct count, and min/max (rendered as
    strings so heterogeneous types stack into one long-format table).

    One ``agg`` over the input — Catalyst plans the multiple DISTINCT
    aggregates as a single Expand pass, so the table is read once
    regardless of how many columns are profiled; the explode at the
    end reshapes the one summary row, not data.
    """
    aggs: list[Column] = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"__nn_{c}"),
            F.countDistinct(F.col(c)).alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
        ]
    row = df.agg(*aggs)
    packed = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("__rows").alias("n_rows"),
                (F.col("__rows") - F.col(f"__nn_{c}")).alias("n_nulls"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                F.col(f"__mn_{c}").alias("min_val"),
                F.col(f"__mx_{c}").alias("max_val"),
            )
            for c in cols
        ]
    )
    return row.select(F.explode(packed).alias("p")).select("p.*")


def drift_report(
    baseline: DataFrame,
    current: DataFrame,
    tol_pct: int = 10,
    null_tol_permille: int = 20,
) -> DataFrame:
    """Per-column drift verdicts between two :func:`profile_columns`
    snapshots — the monitoring step the reference's health flags imply
    (README.txt:7-12, helper/redis_utility.py:10-35): profile today's
    snapshot, diff against the stored baseline, alarm on movement.

    Joined on ``column`` (full outer, so appearing/disappearing
    columns surface as drift too).  Every threshold is an INTEGER
    cross-multiplication — no float division anywhere, so verdicts are
    tie-proof and engine-portable:

    - ``rows``:     |rows_cur − rows_base| · 100  >  tol_pct · rows_base
    - ``nulls``:    |nn_cur·rows_base − nn_base·rows_cur| · 1000
                    >  null_tol_permille · rows_base · rows_cur
                    (i.e. the null RATE moved more than n permille)
    - ``distinct``: |nd_cur − nd_base| · 100  >  tol_pct · nd_base
    - ``range``:    min_val or max_val changed (null-safe compare)

    Displayed null rates use the exact HALF-UP fixed-point mean, like
    every ratio in this engine.  Output: one row per column with both
    snapshots' figures, a comma-joined ``drift_flags`` list, and an
    ``ok``/``drift`` verdict.  Scale shape: inputs are one-row-per-
    column summaries, so the diff is broadcast-trivial regardless of
    the profiled table's size — the expensive pass is profile_columns
    itself, one scan per snapshot.
    """
    b = baseline.select(
        "column",
        F.col("n_rows").alias("rows_base"),
        F.col("n_nulls").alias("nn_base"),
        F.col("n_distinct").alias("nd_base"),
        F.col("min_val").alias("min_base"),
        F.col("max_val").alias("max_base"),
    )
    c = current.select(
        "column",
        F.col("n_rows").alias("rows_cur"),
        F.col("n_nulls").alias("nn_cur"),
        F.col("n_distinct").alias("nd_cur"),
        F.col("min_val").alias("min_cur"),
        F.col("max_val").alias("max_cur"),
    )
    j = b.join(c, "column", "full_outer")
    rows_drift = (
        F.abs(F.col("rows_cur") - F.col("rows_base")) * 100
        > F.lit(tol_pct) * F.col("rows_base")
    )
    nulls_drift = (
        F.abs(
            F.col("nn_cur") * F.col("rows_base")
            - F.col("nn_base") * F.col("rows_cur")
        )
        * 1000
        > F.lit(null_tol_permille) * F.col("rows_base") * F.col("rows_cur")
    )
    distinct_drift = (
        F.abs(F.col("nd_cur") - F.col("nd_base")) * 100
        > F.lit(tol_pct) * F.col("nd_base")
    )
    range_drift = ~F.col("min_cur").eqNullSafe(F.col("min_base")) | ~F.col(
        "max_cur"
    ).eqNullSafe(F.col("max_base"))
    missing = F.col("rows_base").isNull() | F.col("rows_cur").isNull()

    def flag(cond: Column, name: str) -> Column:
        return F.when(~missing & F.coalesce(cond, F.lit(False)), F.lit(name))

    flags = F.concat_ws(
        ",",
        F.when(missing, F.lit("presence")),
        flag(rows_drift, "rows"),
        flag(nulls_drift, "nulls"),
        flag(distinct_drift, "distinct"),
        flag(range_drift, "range"),
    )
    return j.select(
        "column",
        "rows_base",
        "rows_cur",
        exact_mean(
            F.col("nn_base") * F.lit(MEAN_SCALE), F.col("rows_base"), 4
        ).alias("null_rate_base"),
        exact_mean(
            F.col("nn_cur") * F.lit(MEAN_SCALE), F.col("rows_cur"), 4
        ).alias("null_rate_cur"),
        F.col("nd_base").alias("distinct_base"),
        F.col("nd_cur").alias("distinct_cur"),
        flags.alias("drift_flags"),
        F.when(flags == "", F.lit("ok")).otherwise(F.lit("drift")).alias(
            "verdict"
        ),
    )


def ks_test(
    a: DataFrame,
    b: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    crit_num: int = 1358,
    crit_den: int = 1000,
    digits: int = 6,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift test per group — the
    distribution-level complement of :func:`drift_report`'s profile
    diffs: D = max_x |F_a(x) - F_b(x)| over the two samples' ECDFs.

    Scale shape: one union + one groupBy collapses both samples to
    per-distinct-value counts (map-side combined), so the subsequent
    running-sum window walks the VALUE DOMAIN per group, not the raw
    rows.  For high-cardinality continuous values at 100 TB, use
    :func:`ks_test_binned` (DDSketch-bucketed, bounded domain) instead.

    Everything is exact integer arithmetic: D's numerator is
    max |cum_a·n_b - cum_b·n_a| in DECIMAL(38,0); ``ks_stat`` is that
    ratio HALF-UP-rounded via integral division (the exact_mean
    pattern); the verdict compares (M·crit_den)² against
    crit_num²·(n_a+n_b)·n_a·n_b — the squared form of the classic
    D > c(α)·sqrt((n_a+n_b)/(n_a·n_b)) rejection rule (c(0.05) =
    1.358) — so verdicts are tie-proof and engine-portable.  DECIMAL
    headroom covers n_a·n_b up to ~3e15 per group; beyond that, bin
    first (the binned variant's cumulative counts are per-bucket and
    the domain is ~log-bounded).
    """
    gc = list(group_cols)

    def prep(df: DataFrame) -> DataFrame:
        v = F.col(value_col).cast("double")
        return df.filter(v.isNotNull() & ~F.isnan(v)).select(
            *gc, v.alias("v")
        )

    counts = (
        prep(a)
        .withColumn("ca", F.lit(1))
        .withColumn("cb", F.lit(0))
        .unionByName(
            prep(b).withColumn("ca", F.lit(0)).withColumn("cb", F.lit(1))
        )
        .groupBy(*gc, "v")
        .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
    )
    return ks_from_counts(
        counts, gc, crit_num=crit_num, crit_den=crit_den, digits=digits
    )


def ks_from_counts(
    counts: DataFrame,
    group_cols: Sequence[str] = (),
    crit_num: int = 1358,
    crit_den: int = 1000,
    digits: int = 6,
) -> DataFrame:
    """KS statistic + verdict from pre-aggregated per-value counts
    ``(group..., v, ca, cb)`` — the core :func:`ks_test` delegates to,
    and the entry point for histogram/sketch inputs (the statistic
    depends only on the ORDER of ``v`` and the counts, so any
    monotone encoding of the domain works — see
    ``streaming.pipeline.ks_monitor``)."""
    gc = list(group_cols)
    w_ord = Window.partitionBy(*gc).orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy(*gc)
    cum = counts.select(
        *gc,
        F.sum("ca").over(w_ord).alias("cum_a"),
        F.sum("cb").over(w_ord).alias("cum_b"),
        F.sum("ca").over(w_all).alias("na"),
        F.sum("cb").over(w_all).alias("nb"),
    )
    m = F.abs(
        _dec(F.col("cum_a")) * _dec(F.col("nb"))
        - _dec(F.col("cum_b")) * _dec(F.col("na"))
    )
    agg = cum.select(*gc, m.alias("m"), "na", "nb").groupBy(*gc).agg(
        F.max("m").alias("m"), F.max("na").alias("na"), F.max("nb").alias("nb")
    )
    na, nb = _dec(F.col("na")), _dec(F.col("nb"))
    scale = F.lit(10**digits).cast("decimal(38,0)")
    two = F.lit(2).cast("decimal(38,0)")
    ks_r = F.call_function(
        "div", two * F.col("m") * scale + na * nb, two * na * nb
    )
    lhs = (F.col("m") * F.lit(crit_den).cast("decimal(38,0)")) * (
        F.col("m") * F.lit(crit_den).cast("decimal(38,0)")
    )
    rhs = (
        F.lit(crit_num * crit_num).cast("decimal(38,0)")
        * (na + nb)
        * na
        * nb
    )
    return agg.select(
        *gc,
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        (ks_r.cast("double") / F.lit(float(10**digits))).alias("ks_stat"),
        (lhs > rhs).alias("drift"),
    )


def ks_test_binned(
    a: DataFrame,
    b: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    alpha: float = 0.01,
    crit_num: int = 1358,
    crit_den: int = 1000,
    digits: int = 6,
) -> DataFrame:
    """KS over DDSketch log-buckets — the 100 TB path: each sample
    collapses to ~log-many (sign, bucket) cells per group (map-side
    combined, domain bounded regardless of value cardinality), then
    the exact KS machinery runs on the bucket representatives.  The
    statistic differs from the exact one by at most the mass inside a
    single alpha-relative-error bucket — the standard sketch trade."""
    import math

    lng = math.log((1.0 + alpha) / (1.0 - alpha))
    g = (1.0 + alpha) / (1.0 - alpha)

    def to_rep(df: DataFrame) -> DataFrame:
        v = F.col(value_col).cast("double")
        bucket = (
            F.when(v > 0, F.ceil(F.log(v) / F.lit(lng)))
            .when(v < 0, F.ceil(F.log(-v) / F.lit(lng)))
            .otherwise(F.lit(0))
            .cast("long")
        )
        sign = F.when(v > 0, 1).when(v < 0, -1).otherwise(0)
        rep = F.when(sign == 0, F.lit(0.0)).otherwise(
            sign.cast("double")
            * F.lit(2.0)
            * F.pow(F.lit(g), bucket)
            / F.lit(g + 1.0)
        )
        return df.filter(v.isNotNull() & ~F.isnan(v)).select(
            *group_cols, rep.alias("__rep")
        )

    return ks_test(
        to_rep(a),
        to_rep(b),
        "__rep",
        group_cols,
        crit_num=crit_num,
        crit_den=crit_den,
        digits=digits,
    )


def winsorize(
    df: DataFrame,
    keys: Sequence[str],
    value: str = "value",
    lo: float = 0.01,
    hi: float = 0.99,
    digits: int = 6,
) -> DataFrame:
    """Per-group winsorization: clip the value to its group's
    [lo, hi] percentile band — the standard heavy-tail tamer before
    averaging metrics a single wild sensor reading would dominate.

    Thresholds are exact ``percentile`` interpolation over scaled longs
    rounded ONCE (both engines interpolate (n-1)·q identically on
    integers), then the clip is a plain comparison — per-row output,
    no order-dependent aggregation, deterministic.  One shuffle for
    the tiny threshold table, broadcast back.
    """
    vs = scaled_long(F.col(value))
    t = df.withColumn("__vs", vs)
    bands = t.groupBy(*keys).agg(
        F.round(F.percentile(F.col("__vs"), F.lit(lo)), digits).alias("__lo"),
        F.round(F.percentile(F.col("__vs"), F.lit(hi)), digits).alias("__hi"),
    )
    clipped = (
        F.least(F.greatest(F.col("__vs").cast("double"), F.col("__lo")), F.col("__hi"))
        / F.lit(1e6)
    )
    return (
        t.join(F.broadcast(bands), list(keys))
        .withColumn("w_value", F.round(clipped, digits))
        .withColumn(
            "clipped",
            (F.col("__vs") < F.col("__lo")) | (F.col("__vs") > F.col("__hi")),
        )
        .drop("__vs", "__lo", "__hi")
    )


def impute_missing(
    df: DataFrame,
    keys: Sequence[str],
    value: str = "value",
    digits: int = 3,
) -> DataFrame:
    """Group-mean imputation: NULL values are filled with their group's
    exact fixed-point mean over the non-null rows (tie-proof HALF-UP —
    the imputed constant is bit-identical in any engine / partitioning).
    Adds ``imputed`` so downstream quality gates can weigh filled rows.
    """
    v = F.col(value)
    means = df.groupBy(*keys).agg(
        exact_mean(
            F.sum(scaled_long(v)), F.count(v), digits
        ).alias("__fill")
    )
    return (
        df.join(F.broadcast(means), list(keys))
        .withColumn("imputed", v.isNull())
        .withColumn(value, F.coalesce(v, F.col("__fill")))
        .drop("__fill")
    )


def rolling_anomaly(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    value: str = "value",
    window_rows: int = 10,
    z: int = 3,
) -> DataFrame:
    """Rolling z-score anomaly flag with NO floating point at all: over
    the trailing ``window_rows`` frame, flag |v − mean| > z·std via the
    cross-multiplied integer identity

        (n·v − s)²  >  z² · (n·m2 − s²)

    (s = Σ scaled values — exact long; m2 = Σ squares — squared and
    summed in DECIMAL(38,0), because vs² exceeds Long.MAX already at
    |value| ≈ 3037 and the windowed sum at |value| ≈ 960).  The final
    compare also runs in DECIMAL(38), so there is no tie, no rounding,
    no overflow, and the flag is bit-identical in every engine and
    partitioning.  One shuffle on the key; the running sums share one
    window sort.
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
        .rowsBetween(-(window_rows - 1), 0)
    )
    vs = scaled_long(F.col(value))
    t = df.withColumn("__vs", vs)
    t = (
        t.withColumn("__n", F.count("__vs").over(w))
        .withColumn("__s", F.sum("__vs").over(w))
        .withColumn("__m2", F.sum(_dec(F.col("__vs")) * _dec(F.col("__vs"))).over(w))
    )
    dev = _dec(F.col("__n") * F.col("__vs") - F.col("__s"))
    var_n2 = _dec(F.col("__n")) * _dec(F.col("__m2")) - _dec(F.col("__s")) * _dec(
        F.col("__s")
    )
    flag = (dev * dev) > (F.lit(z * z).cast("decimal(38,0)") * var_n2)
    return t.select(
        id_col,
        key_col,
        value,
        F.col("__n").alias("n_window"),
        flag.alias("is_anomaly"),
    )


def cusum_changepoints(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    value: str = "value",
    k: float = 0.0,
    h: float = 5.0,
    baseline_n: int = 50,
    digits: int = 6,
) -> DataFrame:
    """Tabular CUSUM mean-shift detection (Page 1954) per series, with
    NO floating point in the recurrence: the one-sided statistic

        S⁺_t = max(0, S⁺_{t-1} + (x_t − μ₀ − k))

    rewrites to the window identity  S⁺_t = C_t − min(0, min_{j≤t} C_j)
    with C the running sum of the increments — so the sequential
    recurrence becomes two ordered window sums Spark (and any SQL
    engine) evaluates in one partition sort, no loop, no UDF.

    μ₀ is the per-series mean of the first ``baseline_n`` rows.  To
    stay exact, every increment is cross-multiplied by the baseline
    count n_b:  y_t = n_b·x̂_t − Σ_b − n_b·k̂  (x̂ fixed-point scaled),
    summed in DECIMAL(38,0); the alarm compare ``S > n_b·ĥ`` and the
    HALF-UP statistic rounding are integral, so flags and stats are
    bit-identical in every engine and under any partitioning (the
    reference's alarm-trigger semantics, SURVEY §2.4 A3, generalized
    from level-crossing to mean-shift detection).

    Output: one row per ALARM sample only — (key, ts, id, value, side
    ∈ {up, down}, stat) — so at 100 TB the result is alarm-sized, not
    corpus-sized.  One shuffle on the key; the three window layers
    share a single partition sort (same ORDER BY).
    """
    k_s = int(round(k * MEAN_SCALE))
    h_s = int(round(h * MEAN_SCALE))
    w_rn = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    w_all = Window.partitionBy(key_col)
    w_cum = w_rn.rowsBetween(Window.unboundedPreceding, 0)
    t = df.select(
        key_col,
        ts_col,
        id_col,
        F.col(value).alias("__v"),
        scaled_long(F.col(value)).alias("__xs"),
    ).withColumn("__rn", F.row_number().over(w_rn))
    in_base = F.col("__rn") <= baseline_n
    t = t.withColumn(
        "__nb", F.sum(F.when(in_base, 1).otherwise(0)).over(w_all)
    ).withColumn("__sb", F.sum(F.when(in_base, F.col("__xs"))).over(w_all))
    nb, sb, xs = _dec(F.col("__nb")), _dec(F.col("__sb")), _dec(F.col("__xs"))
    kd = F.lit(k_s).cast("decimal(38,0)")
    t = t.withColumn("__yp", nb * xs - sb - nb * kd).withColumn(
        "__yn", sb - nb * xs - nb * kd
    )
    t = t.withColumn("__cp", F.sum("__yp").over(w_cum)).withColumn(
        "__cn", F.sum("__yn").over(w_cum)
    )
    zero = F.lit(0).cast("decimal(38,0)")
    t = t.withColumn(
        "__sp", F.col("__cp") - F.least(zero, F.min("__cp").over(w_cum))
    ).withColumn(
        "__sn", F.col("__cn") - F.least(zero, F.min("__cn").over(w_cum))
    )
    thresh = nb * F.lit(h_s).cast("decimal(38,0)")

    def _stat(s: Column) -> Column:
        # HALF-UP round of S/(n_b·scale) to `digits` via integral div
        # (S ≥ 0 by construction, so truncating div == floor).
        unit = nb * F.lit(MEAN_SCALE // (10**digits)).cast("decimal(38,0)")
        r = F.call_function(
            "div", F.lit(2).cast("decimal(38,0)") * s + unit, 2 * unit
        )
        return r.cast("double") / F.lit(float(10**digits))

    up = F.col("__sp") > thresh
    down = F.col("__sn") > thresh
    return (
        t.filter(up | down)
        .select(
            key_col,
            ts_col,
            id_col,
            F.col("__v").alias(value),
            F.when(up, F.lit("up")).otherwise(F.lit("down")).alias("side"),
            F.when(up, _stat(F.col("__sp")))
            .otherwise(_stat(F.col("__sn")))
            .alias("stat"),
        )
    )
