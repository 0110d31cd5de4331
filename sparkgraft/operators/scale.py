"""Scale-path join strategies (SURVEY §4 "Catalyst gives us free" —
plus the two knobs it doesn't: physical co-location and manual skew
control).

- **Bucketing**: pre-shuffle both fact tables into the same bucket
  layout at write time; equi-joins on the bucket key then run with ZERO
  exchanges — at 100 TB this turns the recurring join shuffle into a
  one-time write cost.  (AQE can't do this; it's a storage-layout
  decision.)
- **Salting**: when one join key dominates (hot sensor, hot user), AQE
  skew-join splitting handles sort-merge joins, but pre-salting is
  still the portable fix when the small side can be replicated: the
  skewed side spreads across ``n_salts`` sub-keys, the small side is
  exploded to all salts, and the join parallelizes evenly.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) by the join key.

    Matching bucket counts on both sides of a future join remove the
    exchange entirely; sorting inside buckets additionally removes the
    sort of a sort-merge join.
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: Sequence[str], how: str = "inner"
) -> DataFrame:
    """Join two co-bucketed tables — plan should show no hash exchange
    (asserted in tests/test_scale_joins.py)."""
    return spark.table(left_table).join(spark.table(right_table), list(on), how)


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int,
    salt_source: Column,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi join: deterministic salt from ``salt_source`` (any
    stable per-row column on the skewed side) spreads each hot key over
    ``n_salts`` shuffle partitions; the small side is replicated once
    per salt.  Result is identical to the plain join.
    """
    sk = skewed.withColumn("_salt", F.pmod(F.hash(salt_source), F.lit(n_salts)))
    sm = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = sk.join(sm, [on, "_salt"], how)
    return out.drop("_salt")


def bloom_bitmap(
    small: DataFrame,
    key_col: str,
    bits: int = 4096,
    hashes: int = 3,
    salt: str = "bloom",
) -> DataFrame:
    """Build a Bloom-filter bitmap of the small join side as ONE row of
    ``bits/64`` longs — the broadcastable pre-filter that lets the big
    side drop non-matching rows BEFORE the join shuffle (the runtime-
    filter trick, as an explicit engine-portable operator).

    Bit positions are md5-derived (portable, deterministic); words are
    bit_or-aggregated (map-side combined) and densified via a map
    lookup over the full word range, so the bitmap is position-stable
    regardless of which words are non-zero.
    """
    if bits % 64 != 0:
        raise ValueError("bits must be a multiple of 64")
    n_words = bits // 64
    positions = F.array(
        *[_bloom_pos(h, F.col(key_col), bits, salt) for h in range(hashes)]
    )
    words = small.select(F.explode(positions).alias("pos")).select(
        (F.col("pos") / 64).cast("int").alias("word_idx"),
        F.expr("shiftleft(1L, cast(pmod(pos, 64) as int))").alias("bit"),
    )
    per_word = words.groupBy("word_idx").agg(F.bit_or("bit").alias("w"))
    return per_word.agg(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda i: F.coalesce(
                F.element_at(
                    F.map_from_entries(
                        F.collect_list(F.struct("word_idx", "w"))
                    ),
                    i,
                ),
                F.lit(0).cast("long"),
            ),
        ).alias("bitmap")
    )


def _bloom_pos(h: int, key: Column, bits: int, salt: str) -> Column:
    raw = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.lit(str(h)), F.lit(salt), key)), 1, 8
        ),
        16,
        10,
    ).cast("long")
    return F.pmod(raw, F.lit(bits))


def bloom_prefilter(
    big: DataFrame,
    bitmap: DataFrame,
    key_col: str,
    bits: int = 4096,
    hashes: int = 3,
    salt: str = "bloom",
) -> DataFrame:
    """Keep only big-side rows that MIGHT match the small side (no
    false negatives — the follow-up equi join is exact): cross-join the
    broadcast 1-row bitmap, test every hash position's bit.  At 100 TB
    this is the difference between shuffling the whole fact table and
    shuffling ~the matching fraction."""
    cond = None
    for h in range(hashes):
        pos = _bloom_pos(h, F.col(key_col), bits, salt)
        word = F.element_at(F.col("bitmap"), (pos / 64).cast("int") + F.lit(1))
        test = (
            _shiftright_var(word, F.pmod(pos, F.lit(64))).bitwiseAND(F.lit(1))
            == 1
        )
        cond = test if cond is None else (cond & test)
    return big.crossJoin(F.broadcast(bitmap)).filter(cond).drop("bitmap")


def _shiftright_var(col: Column, amount: Column) -> Column:
    """shiftright with a column shift amount (the DSL function only
    accepts a literal int; the SQL form accepts expressions)."""
    from pyspark.sql.functions import call_function

    return call_function("shiftright", col, amount.cast("int"))


def domain_weights(
    df: DataFrame,
    strata_col: str,
    temperature: float = 1.0,
    digits: int = 6,
) -> DataFrame:
    """Temperature-scaled domain mixing weights: each domain's sampling
    weight is proportional to share^(1/T), renormalized — the standard
    multinomial temperature trick (T > 1 upweights small domains,
    T = 1 reproduces natural proportions).  The output ``weight``
    column feeds :func:`stratified_sample` rate dictionaries.

    One count aggregate on the stratum key; the share/weight math runs
    on the tiny domain table (one row per domain), so the single-
    partition window there is free at any corpus size.
    """
    counts = df.groupBy(strata_col).agg(F.count("*").alias("n"))
    total = Window.partitionBy()
    share = F.col("n").cast("double") / F.sum("n").over(total)
    raw = F.pow(share, F.lit(1.0 / temperature))
    return counts.select(
        F.col(strata_col),
        F.col("n"),
        F.round(share, digits).alias("share"),
        F.round(raw / F.sum(raw).over(total), digits).alias("weight"),
    )


def sample_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    id_cols: Sequence[str],
    k: int,
    salt: str = "gsample",
) -> DataFrame:
    """Deterministic k-per-group sample (the distributed reservoir
    analog): rank rows inside each group by their key hash and keep the
    first k.  Same-key rows land in the same sample forever, in any
    engine — the "show me k examples per domain" curation primitive.

    One shuffle (the group window); the hash order makes the pick
    uniform-ish and reproducible, unlike rand()-based sampling.
    """
    h = F.md5(
        F.concat_ws("|", F.lit(salt), *[F.col(c) for c in id_cols])
    )
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(
        h.asc(), *[F.col(c).asc() for c in id_cols]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _size_bytes(text: str, default: int) -> int:
    """Parse a Spark byte-size conf value ('128MB', '4m', '134217728')."""
    import re

    m = re.fullmatch(r"\s*(\d+)\s*([kmgt]?)b?\s*", str(text), re.IGNORECASE)
    if not m:
        return default
    mult = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    return int(m.group(1)) * mult[m.group(2).lower()]


def _estimated_scan_partitions(df: DataFrame) -> int | None:
    """Plan-free estimate of the file-scan partition count, mirroring
    Spark's split math (``FilePartition.maxSplitBytes``): driver-side
    file listing + local stat only — no RDD conversion of the plan.
    Returns None when the estimate can't be made cheaply (non-file
    source, or remote files with fewer files than cores)."""
    import math
    import os
    from urllib.parse import urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    # More files than cores -> the scan is at least core-wide no matter
    # how Spark packs splits; skip the per-file stat entirely (the
    # 100 TB path: thousands of objects, zero driver stat calls).
    if len(files) >= par:
        return par
    sizes = []
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("file", ""):
            return None
        try:
            sizes.append(os.path.getsize(u.path))
        except OSError:
            return None
    conf = df.sparkSession.conf
    max_pb = _size_bytes(
        conf.get("spark.sql.files.maxPartitionBytes", "128MB"), 128 << 20
    )
    open_cost = _size_bytes(
        conf.get("spark.sql.files.openCostInBytes", "4MB"), 4 << 20
    )
    total = sum(sizes) + open_cost * len(files)
    max_split = min(max_pb, max(open_cost, total // max(par, 1) + 1))
    return max(1, math.ceil(total / max_split))


def _scan_row_count(df: DataFrame) -> int | None:
    """Driver-side parquet-footer row count of a file scan — local
    stat only, no Spark job (the same cost class as the per-file
    ``getsize`` in :func:`_estimated_scan_partitions`).  Returns None
    when it can't be read cheaply (non-file / non-parquet source)."""
    from urllib.parse import urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("file", ""):
            return None
        try:
            import pyarrow.parquet as pq

            total += pq.ParquetFile(u.path).metadata.num_rows
        except Exception:
            return None
    return total


def widen_narrow_scan(
    df: DataFrame, rows_per_task: int | None = None
) -> DataFrame:
    """Repartition ONLY when the input is narrower than the cluster —
    the guard for CPU-heavy per-row stages (md5 shingling, signature
    computation) that must not serialize on a single-file scan.  A wide
    production scan (thousands of partitions at 100 TB) passes through
    untouched: an unconditional repartition would shrink it to
    defaultParallelism through a pointless full shuffle.

    The width check is PLAN-FREE (file listing + Spark's own split
    math via :func:`_estimated_scan_partitions`); the analyzed plan is
    converted to an RDD only as a last-resort fallback for non-file
    sources — at 100 TB plan sizes the conversion itself is the cost
    the estimate avoids.

    ``rows_per_task`` (round 14) bounds the fan-out BY THE DATA for
    stages whose per-row work runs in a Python worker (mapInPandas
    synthesis kernels): the widened partition count becomes
    ``min(defaultParallelism, ceil(rows / rows_per_task))``, so a
    small table never fans out to more workers than its rows can keep
    busy — per-task worker round-trip/startup is ~50-100 ms, so below
    a few hundred rows per task the scheduling overhead exceeds the
    kernel it parallelizes (measured at sf0.1, quiet 32-core box:
    phash synthesis 32 parts = 1.17 s vs 8 parts = 0.96 s; audio 32 =
    1.86 s vs 8 = 1.33 s — and the r13 driver run showed the same
    fan-out amplifying box contention 4.9x).  The row count is a
    driver-side parquet-footer stat on the narrow path only; a wide
    scan never reads it (zero driver stats at 100 TB, where the min
    binds to defaultParallelism anyway).  Row-identical either way —
    only the RoundRobin partition count changes.  The footer counts
    the rows of the scanned files BEFORE any filter, so a selective
    filter over the scan sizes the fan-out by the whole table (a
    conservative over-widening).  ``rows_per_task`` must be >= 1.
    """
    if rows_per_task is not None and rows_per_task < 1:
        raise ValueError(f"rows_per_task must be >= 1, got {rows_per_task}")
    sc = df.sparkSession.sparkContext
    est = _estimated_scan_partitions(df)
    if est is None:
        est = df.rdd.getNumPartitions()
    par = sc.defaultParallelism
    if est >= par:
        return df
    target = par
    if rows_per_task is not None:
        rows = _scan_row_count(df)
        if rows is not None:
            target = min(par, max(est, -(-rows // int(rows_per_task))))
    if target > est:
        return df.repartition(target)
    return df


def triangle_self_pairs(
    df: DataFrame,
    part_cols: Sequence[str],
    id_col: str,
    payload_cols: Sequence[str],
    n_blocks: int = 8,
) -> DataFrame:
    """Skew-safe unordered self-pairs within a partition key — the
    triangle decomposition from :func:`similarity.semantic_dedup`'s
    round-2 fix, factored out for every blocked-pairwise operator
    (round 10).

    A plain self-join on the blocking key caps parallelism at the
    number of blocks and hands a hot block its entire |c|² work in ONE
    task — the skew killer at 100 TB.  Here each row gets a
    deterministic hash block b ∈ [0, B); the left side participates in
    upper-triangle cells (b, q ≥ b), the right side in cells (p ≤ b,
    b), and the join key is (part, p, q) — every unordered pair meets
    in exactly one of the B(B+1)/2 cells per partition, the heaviest
    task does |c|²/B² work, and replication cost is ~(B+1)/2 per side.
    Cell ids never reach the output, so the result is bit-identical to
    the plain join.

    Output: one row per unordered pair — ``part_cols``, ``id_a`` <
    ``id_b``, and each payload column as ``{c}_a`` / ``{c}_b`` oriented
    to match (a row whose id is the lesser contributes the ``_a``
    payloads).  Rows sharing an id never pair (matching the plain
    join's strict ``id_a < id_b``).

    NULL ids are dropped up front: the plain join's ``id_a < id_b``
    silently excludes any NULL-id pair, but an off-diagonal cell here
    (p != q) pairs rows WITHOUT the lid < rid check — without the
    filter, two NULL-id rows landing in different hash blocks would
    pair up (with least/greatest yielding NULL ``id_a``), diverging
    from the plain-join semantics this helper promises to preserve
    bit-identically.
    """
    part_cols = list(part_cols)
    payload_cols = list(payload_cols)
    B = max(1, int(n_blocks))
    base = df.filter(F.col(id_col).isNotNull()).select(
        *part_cols,
        F.pmod(F.xxhash64(id_col), F.lit(B)).cast("int").alias("__b"),
        F.col(id_col).alias("__id"),
        *payload_cols,
    )
    left = base.select(
        *part_cols,
        F.col("__b").alias("__p"),
        F.explode(F.sequence(F.col("__b"), F.lit(B - 1))).alias("__q"),
        F.col("__id").alias("__lid"),
        *[F.col(c).alias(f"__l_{c}") for c in payload_cols],
    )
    right = base.select(
        *part_cols,
        F.explode(F.sequence(F.lit(0), F.col("__b"))).alias("__p"),
        F.col("__b").alias("__q"),
        F.col("__id").alias("__rid"),
        *[F.col(c).alias(f"__r_{c}") for c in payload_cols],
    )
    # Diagonal cells (p == q) hold a full block x block product — keep
    # each unordered pair once via lid < rid; off-diagonal cells pair
    # disjoint blocks (already unique), the lesser id on either side.
    joined = left.join(right, part_cols + ["__p", "__q"]).filter(
        (F.col("__p") != F.col("__q")) | (F.col("__lid") < F.col("__rid"))
    )
    lt = F.col("__lid") < F.col("__rid")
    return joined.select(
        *part_cols,
        F.least("__lid", "__rid").alias("id_a"),
        F.greatest("__lid", "__rid").alias("id_b"),
        *[
            F.when(lt, F.col(f"__l_{c}")).otherwise(F.col(f"__r_{c}")).alias(f"{c}_a")
            for c in payload_cols
        ],
        *[
            F.when(lt, F.col(f"__r_{c}")).otherwise(F.col(f"__l_{c}")).alias(f"{c}_b")
            for c in payload_cols
        ],
    )


def hash_split(
    df,
    id_cols,
    train_frac: float = 0.9,
    salt: str = "split",
):
    """Deterministic train/holdout assignment by content hash — the
    leakage-safe dataset split (same key → same split, forever, in any
    engine; no RNG, no ordering dependence).

    The first 4 hex chars of ``md5(salt|key)`` are compared against the
    fraction threshold AS STRINGS — lowercase-hex lexicographic order
    equals numeric order, which keeps the predicate portable to engines
    without hex→int conversion.  Pure projection: scan-speed at 100 TB.
    """
    from pyspark.sql import functions as F

    thresh = format(int(train_frac * 65536), "04x")
    bucket = F.substring(
        F.md5(F.concat_ws("|", F.lit(salt), *[F.col(c) for c in id_cols])), 1, 4
    )
    return df.withColumn(
        "split",
        F.when(bucket < F.lit(thresh), F.lit("train")).otherwise(
            F.lit("holdout")
        ),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    id_cols: Sequence[str],
    default_rate: float = 0.0,
    salt: str = "sample",
) -> DataFrame:
    """Deterministic per-stratum sampling — the domain-mixing step of a
    training-data pipeline (keep 100% of books, 30% of common-crawl,
    ...), with the same hash-threshold trick as :func:`hash_split`:
    membership depends only on (salt, key), never on RNG state,
    partitioning, or row order, so the mix is reproducible in any
    engine and stable under re-runs.

    Pure projection + filter (scan-speed at 100 TB); the rate lookup is
    a literal CASE chain, no join.
    """
    def _thresh(rate: float) -> str:
        # "g" sorts after every hex char — the keep-everything sentinel
        # (format(65536, "04x") would be 5 chars and break the 4-char
        # lexicographic compare).
        return "g" if rate >= 1.0 else format(int(rate * 65536), "04x")

    bucket = F.substring(
        F.md5(F.concat_ws("|", F.lit(salt), *[F.col(c) for c in id_cols])), 1, 4
    )
    thresh: Column = F.lit(_thresh(default_rate))
    for stratum in sorted(rates):
        thresh = F.when(
            F.col(strata_col) == stratum, F.lit(_thresh(rates[stratum]))
        ).otherwise(thresh)
    return df.filter(bucket < thresh)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    key_cols: Sequence[str],
    k: int,
    salt: str = "ws",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis & Spirakis
    2006, algorithm A-ES) — the quality-weighted subsampling step of a
    curation pipeline (sample training docs ∝ quality score / token
    count): each row draws a deterministic md5-uniform u ∈ (0,1] from
    its key and takes priority ln(u)/w; the k LARGEST priorities are a
    without-replacement sample with inclusion ∝ weight.

    RNG-free: the draw depends only on (salt, key), never on RNG
    state, partitioning, or row order — reproducible in any engine.
    Scale shape: pure projection + global top-k via orderBy+limit
    (TakeOrderedAndProject: per-partition heaps + tiny merge, never a
    single-partition sort).  Non-positive weights are excluded.
    """
    # u ∈ (0, 1]: (hash + 1) / 2^60 — a raw hash of exactly 0 would
    # make ln(u) NULL, sort last under desc ordering and silently drop
    # the row from the sample regardless of weight.  +1 keeps ln(u)
    # finite for every key (u = 1 → priority 0, the best possible —
    # correct A-ES behaviour for the luckiest draw).
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.lit(salt),
                            *[F.col(c).cast("string") for c in key_cols],
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            + F.lit(1)
        ).cast("double")
        / F.lit(float(1 << 60))
    )
    w = F.col(weight_col).cast("double")
    out = df.filter(w > 0).withColumn("__pri", F.log(u) / w)
    return (
        out.orderBy(F.col("__pri").desc(), *[F.col(c) for c in key_cols])
        .limit(k)
        .drop("__pri")
    )


def shuffle_key(
    id_cols: Sequence[str], salt: str = "shuffle", seed: int = 0
) -> Column:
    """Deterministic global-shuffle sort key: ``md5(salt|seed|key)``.

    ``df.orderBy(shuffle_key(...))`` is the scalable way to shuffle a
    training corpus — Spark range-partitions the sort, so no single
    task ever sees the whole dataset, unlike a row_number/zipWithIndex
    position assignment.  Different ``seed`` → independent permutation;
    same seed → byte-identical order, forever.
    """
    return F.md5(
        F.concat_ws(
            "|", F.lit(salt), F.lit(str(seed)), *[F.col(c) for c in id_cols]
        )
    )


def shard_assignment(
    id_cols: Sequence[str], n_shards: int, salt: str = "shard"
) -> Column:
    """Deterministic output-shard id from the first 8 hex chars of the
    key hash — the writer-side counterpart of :func:`shuffle_key` for
    producing N stable training-data shards (``df.repartition(n,
    col)`` or partitionBy on it)."""
    h = F.md5(F.concat_ws("|", F.lit(salt), *[F.col(c) for c in id_cols]))
    return F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(n_shards)
    ).cast("int")


def skew_diagnostics(df: DataFrame, key_col: str) -> DataFrame:
    """One-row skew profile for a prospective join/aggregation key:
    key cardinality, heaviest key and its share, and the salt-bucket
    count that would level it (``ceil(max_cnt / mean_cnt)``) — the
    input :func:`salted_join` needs, measured instead of guessed.

    Two aggregates (per-key count → global summary), both map-side
    combined, so nothing but (key, count) ever shuffles.  The heaviest
    key is a deterministic top-1 (``cnt`` desc, key asc) over the same
    counts — compiled to TakeOrderedAndProject, it works for ANY
    orderable key type (a struct-max over ``-key`` would fail on
    string keys under ANSI).  Ratios are exact integer divisions
    (HALF-UP DECIMAL div), engine-portable.
    """
    from sparkgraft.operators.stats import MEAN_SCALE, _dec, exact_mean

    counts = df.groupBy(key_col).agg(F.count("*").alias("cnt"))
    top = (
        counts.orderBy(F.desc("cnt"), F.asc(key_col))
        .limit(1)
        .select(F.col(key_col).alias("top_key"))
    )
    summary = counts.agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
    ).crossJoin(top)
    num = _dec(F.col("max_cnt") * F.col("n_keys") + F.col("n_rows") - 1)
    return summary.select(
        "n_keys",
        "n_rows",
        "max_cnt",
        "top_key",
        exact_mean(
            F.col("n_rows") * F.lit(MEAN_SCALE), F.col("n_keys"), 4
        ).alias("mean_cnt"),
        exact_mean(
            F.col("max_cnt") * F.lit(MEAN_SCALE), F.col("n_rows"), 6
        ).alias("max_share"),
        F.call_function("div", num, _dec(F.col("n_rows")))
        .cast("long")
        .alias("salt_buckets"),
    )


def preference_pairs(
    scored: DataFrame,
    group_col: str,
    id_col: str,
    score_col: str,
    margin: float = 0.0,
    per_group: int = 3,
    digits: int = 6,
) -> DataFrame:
    """Preference-pair mining for DPO/RLHF-style training data: per
    group (prompt), pair the highest-scoring candidate (``chosen``)
    with up to ``per_group`` lower-scoring candidates (``rejected``)
    whose score deficit is at least ``margin`` — the standard
    best-vs-rest construction, preferring the LARGEST margins first
    (most informative contrast pairs).

    Ties break deterministically everywhere (score desc, id asc for
    the chosen; margin desc ≡ score asc, id asc for the rejected), so
    the emitted pair set is a pure function of the input.  Output:
    ``(group, chosen_id, rejected_id, chosen_score, rejected_score,
    score_margin)``.

    Scale: one rank window + one within-group broadcast-sized join of
    the 1-row-per-group chosen side — shuffles on the group key only;
    candidate lists are per-prompt-sized, never corpus-sized."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    ranked = scored.select(group_col, id_col, score_col).withColumn(
        "_rnk", F.row_number().over(w)
    )
    chosen = ranked.filter(F.col("_rnk") == 1).select(
        group_col,
        F.col(id_col).alias("chosen_id"),
        F.col(score_col).alias("chosen_score"),
    )
    rest = ranked.filter(F.col("_rnk") > 1).select(
        group_col,
        F.col(id_col).alias("rejected_id"),
        F.col(score_col).alias("rejected_score"),
    )
    pw = Window.partitionBy(group_col).orderBy(
        F.col("rejected_score").asc(), F.col("rejected_id").asc()
    )
    return (
        chosen.join(rest, group_col)
        .filter(
            F.col("chosen_score") - F.col("rejected_score") >= F.lit(margin)
        )
        .withColumn("_prn", F.row_number().over(pw))
        .filter(F.col("_prn") <= per_group)
        .select(
            group_col,
            "chosen_id",
            "rejected_id",
            "chosen_score",
            "rejected_score",
            F.round(
                F.col("chosen_score") - F.col("rejected_score"), digits
            ).alias("score_margin"),
        )
    )


def dsir_weights(
    docs: DataFrame,
    target: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    smoothing: float = 1.0,
    digits: int = 6,
    target_pred: Column | None = None,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    2023): score every raw document by how much its hashed-unigram
    distribution looks like the TARGET corpus — log importance weight
    w(d) = Σ_tokens [log p_target(bucket) − log p_raw(bucket)] with
    add-``smoothing`` bucket LMs.  Select the top-k by weight to skew
    a raw crawl toward a high-quality / in-domain target.

    Tokens hash to ``n_buckets`` md5 buckets (the engine's portable
    hash toolkit — the feature space stays bounded no matter the
    vocabulary, DSIR's core scaling trick).  The two bucket LMs are
    metadata-sized (n_buckets rows) and broadcast; per-doc weights
    quantize each token's log-ratio term to 6 decimals (the ngram_lm
    log discipline — coarse enough that engine log() ulp differences
    never flip a digit) and sum as DECIMAL(18,6), so weights are
    partition/order/engine invariant.  Output: ``(id, n_tokens,
    logw)`` per raw document.

    ``target_pred`` (round 14, mutually exclusive with ``target``):
    when the target corpus is a PREDICATE-DEFINED SUBSET of ``docs``
    (the common DSIR deployment — "the English slice", "the wiki
    source"), both bucket LMs come out of ONE tokenize+count pass
    (``nt`` = the flagged subset's count inside the same aggregate)
    instead of a second tokenize pass over the target plus a
    full-outer join of the two LMs — one less full pass over the
    corpus and two fewer exchanges, with bucket counts (and therefore
    every emitted weight) identical by construction."""
    from sparkgraft.operators.textops import tokenize

    if (target is None) == (target_pred is None):
        raise ValueError("pass exactly one of target / target_pred")

    bucket_of = F.pmod(
        F.conv(F.substring(F.md5("term"), 1, 4), 16, 10).cast("long"),
        F.lit(n_buckets),
    )

    def bucketize(df):
        return df.select(
            F.col(id_col).alias("id"),
            F.explode(tokenize(F.col(text_col))).alias("term"),
        ).select("id", bucket_of.alias("bucket"))

    if target_pred is not None:
        raw = docs.select(
            F.col(id_col).alias("id"),
            target_pred.cast("boolean").alias("__t"),
            F.explode(tokenize(F.col(text_col))).alias("term"),
        ).select("id", "__t", bucket_of.alias("bucket"))
        lms = raw.groupBy("bucket").agg(
            F.count("*").alias("nr"),
            F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("nt"),
        )
        tot = lms.agg(
            F.coalesce(F.sum("nr"), F.lit(0)).alias("tr"),
            F.coalesce(F.sum("nt"), F.lit(0)).alias("tt"),
        )
        lm_src = lms.crossJoin(F.broadcast(tot))
        raw = raw.select("id", "bucket")
    else:
        tgt = bucketize(target).groupBy("bucket").agg(F.count("*").alias("nt"))
        raw = bucketize(docs)
        rawlm = raw.groupBy("bucket").agg(F.count("*").alias("nr"))
        # Corpus totals arrive as broadcast 1-row aggregates (the ngram_lm
        # vocab pattern) — the whole operator stays one lazy plan with no
        # driver-side action.
        tot_t = tgt.agg(F.coalesce(F.sum("nt"), F.lit(0)).alias("tt"))
        tot_r = rawlm.agg(F.coalesce(F.sum("nr"), F.lit(0)).alias("tr"))
        lm_src = (
            rawlm.join(tgt, "bucket", "full")
            .crossJoin(F.broadcast(tot_t))
            .crossJoin(F.broadcast(tot_r))
        )
    lm = (
        lm_src
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("nt"), F.lit(0)) + F.lit(smoothing))
                    / (
                        F.col("tt").cast("double")
                        + F.lit(smoothing * n_buckets)
                    )
                )
                - F.log(
                    (F.coalesce(F.col("nr"), F.lit(0)) + F.lit(smoothing))
                    / (
                        F.col("tr").cast("double")
                        + F.lit(smoothing * n_buckets)
                    )
                )
            ).alias("logratio"),
        )
    )
    return (
        raw.join(F.broadcast(lm), "bucket")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.round(F.col("logratio"), 6).cast("decimal(18,6)")
            ).alias("_lw"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.round(F.col("_lw").cast("double"), digits).alias("logw"),
        )
    )
