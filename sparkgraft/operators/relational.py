"""Relational operators beyond plain ``df.join`` (SURVEY §2.3, §2.5, §2.6).

Spark provides hash/sort-merge/broadcast equi joins, semi/anti joins,
window functions, sorts and set ops natively — those are exposed
directly by the query layer (``__spark_entry__``).  This module adds the
compositions the reference implies but Spark lacks as single calls.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dcg_weights_scaled(k: int) -> list[int]:
    """The DCG rank-discount constants ``1/log2(r+1)``, r = 1..k, as
    10^12-scaled integer literals.

    Computed ONCE in Python and embedded as literals on BOTH the engine
    and oracle sides (round-9 discipline): `F.log2` (JVM libm) vs
    DuckDB's libm `log2` is an engine-variant float surface, and
    ``round(double, d)`` of the resulting terms flips between engines
    when a value lands on a rounding half-boundary.  With literal
    integer weights, DCG/iDCG become exact integer dot products with
    the (integer) relevance grades.
    """
    import math

    return [round(10**12 / math.log2(r + 1)) for r in range(1, k + 1)]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_payload: Sequence[str],
    tolerance: str | None = None,
) -> DataFrame:
    """J2 — as-of join: for each left row, the most recent right row with
    ``right.ts <= left.ts`` sharing the equi keys.

    Reference: udbf_file_analysis.py:94-154 (legacy alarm correlation:
    pair an alarm file with the file/CSV covering the same time window).

    Scale design: NOT a pairwise theta join (which explodes to
    |L|x|R| per key before filtering).  Instead both sides are unioned,
    shuffled **once** on the equi keys, and a running ``last_value(...,
    ignorenulls)`` ordered by time carries each right row forward to the
    left rows that follow it — O((|L|+|R|) log) per key, AQE-skew-safe.
    Same algorithm Flink/kdb use for as-of.

    ``tolerance``: optional max staleness (SQL interval string, e.g.
    ``'30 days'``): matches older than it are nulled out.
    """
    on = list(on)
    lcols = [c for c in left.columns]
    l = left.select(
        *[F.col(c) for c in lcols],
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__is_left"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in right_payload],
        F.lit(None).cast(right.schema[right_ts].dataType).alias("__rt"),
    )
    r = right.select(
        *[F.col(c) if c in on else F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__is_left"),
        *[F.col(c).alias(f"__r_{c}") for c in right_payload],
        F.col(right_ts).alias("__rt"),
    )
    u = l.unionByName(r)
    # Right rows sort before left rows at the same timestamp → `<=` semantics.
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("__t").asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = [
        F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"__c_{c}")
        for c in right_payload
    ]
    carried_ts = F.last("__rt", ignorenulls=True).over(w).alias("__ct")
    out = u.select(*lcols, "__t", "__is_left", *carried, carried_ts).filter(
        F.col("__is_left") == 1
    )
    if tolerance is not None:
        fresh = F.col("__ct") >= F.col("__t") - F.expr(f"INTERVAL {tolerance}")
        sel = [
            F.when(fresh, F.col(f"__c_{c}")).alias(c2)
            for c, c2 in zip(right_payload, right_payload)
        ]
    else:
        sel = [F.col(f"__c_{c}").alias(c) for c in right_payload]
    return out.select(*lcols, *sel)


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    on: Sequence[str],
    point_ts: str,
    start_ts: str,
    end_ts: str,
    bucket: str = "1 day",
) -> DataFrame:
    """Interval/range join: point rows matched to interval rows of the
    same equi keys with ``start <= point_ts < end``.

    Scale design: a naive theta join degenerates to per-key cross
    products.  Here both sides map onto coarse time buckets — each
    point to its single bucket, each interval to the buckets it spans
    (bounded explode) — the join is EQUI on (keys, bucket), and the
    exact range predicate refines.  Each (point, interval) pair meets
    in exactly one bucket (the point's), so no dedup is needed.  This
    is the standard bucketized range join (what Databricks' range-join
    hint does under the hood).
    """
    on = list(on)
    # Bucket width in seconds, derived once (driver-side literal).
    import re as _re

    m = _re.match(r"(\d+)\s*(second|minute|hour|day)s?", bucket)
    n, unit = int(m.group(1)), m.group(2)
    width = n * {"second": 1, "minute": 60, "hour": 3600, "day": 86400}[unit]

    p = points.withColumn(
        "_bkt", F.floor(F.unix_timestamp(F.col(point_ts)) / F.lit(width))
    )
    i = intervals.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(start_ts)) / F.lit(width)),
                F.floor(F.unix_timestamp(F.col(end_ts)) / F.lit(width)),
            )
        ),
    )
    joined = p.join(i, on + ["_bkt"]).filter(
        (F.col(point_ts) >= F.col(start_ts)) & (F.col(point_ts) < F.col(end_ts))
    )
    return joined.drop("_bkt")


def top_k_per_group(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column],
    k: int,
    rank_col: str = "rnk",
) -> DataFrame:
    """§2.6 top-k per group via ``row_number`` (deterministic with a full
    tie-breaking ``order``).

    One shuffle on ``keys``; Spark inserts a rank-limit pushdown
    (WindowGroupLimit) so each map task keeps only k rows per group
    before the shuffle — safe at 100 TB.
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def broadcast_lookup(
    facts: DataFrame,
    mapping: DataFrame,
    on: str,
    how: str = "inner",
) -> DataFrame:
    """J1 — equi lookup join against a small mapping table, broadcast.

    Reference: modbus/modbus_writer.py:100-122 — for each stats field, an
    ``hget`` against the 628-entry register mapping; misses skipped
    (inner join).  Broadcasting the mapping removes the shuffle: each
    executor joins its partitions locally.
    """
    return facts.join(F.broadcast(mapping), on=on, how=how)


def merge_intervals(
    df: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Gaps-and-islands: merge overlapping or touching ``[start, end]``
    intervals per key into maximal islands, returning one row per
    island with its span and member count.

    Classic running-max formulation: an interval starts a new island
    iff its start exceeds the max end seen so far in its key (strictly
    — touching intervals merge); the island id is the running count of
    such breaks.  One shuffle on the key; both window scans and the
    final aggregate reuse the same partitioning.  Interval bounds
    should be exact types (longs/timestamps) — island boundaries are
    integer comparisons, so the result is engine-portable.
    """
    w = Window.partitionBy(key_col).orderBy(
        F.col(start_col).asc(), F.col(end_col).asc()
    )
    prev_max_end = F.max(F.col(end_col)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    is_new = F.when(
        prev_max_end.isNull() | (F.col(start_col) > prev_max_end), 1
    ).otherwise(0)
    islanded = df.withColumn(
        "island",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return islanded.groupBy(key_col, "island").agg(
        F.min(start_col).alias("island_start"),
        F.max(end_col).alias("island_end"),
        F.count("*").alias("n_merged"),
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rnk",
    k: int = 60,
    topk: int = 10,
    digits: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) — the standard
    hybrid-retrieval combiner: given N ranked lists over the same id
    space, score(id) = sum over lists of 1/(k + rank), rank the fused
    scores, keep the top-k.  How lexical (BM25) and semantic (ANN)
    retrieval merge in a RAG stack.

    Determinism: each reciprocal term quantizes to DECIMAL(18,12)
    before an exact sum (union order can't perturb the score), the
    fused rank ties break on id.  Scale: inputs are top-k lists —
    already tiny — so the union/aggregate is driver-light metadata
    work no matter the corpus size behind the rankings.
    """
    from functools import reduce

    from pyspark.sql import Window

    tagged = [
        r.select(F.col(id_col).alias("id"), F.col(rank_col).alias("rnk"))
        for r in rankings
    ]
    u = reduce(lambda a, b: a.unionByName(b), tagged)
    term = (
        F.round(F.lit(1.0) / (F.lit(k) + F.col("rnk")), 12)
        .cast("decimal(18,12)")
    )
    scored = (
        u.select("id", term.alias("t"))
        .groupBy("id")
        .agg(F.sum("t").alias("s"), F.count("*").alias("n_lists"))
    )
    w = Window.orderBy(F.desc("s"), F.asc("id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= topk)
        .select(
            F.col("id").alias(id_col),
            F.round(F.col("s").cast("double"), digits).alias("rrf_score"),
            "n_lists",
            "rnk",
        )
    )


def sequence_count(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    pattern: tuple[str, str, str],
    within_seconds: int,
) -> DataFrame:
    """Event-sequence pattern counting (the MATCH_RECOGNIZE-flavored
    A→B→C detector): per key, the number of ordered triples
    (a, b, c) with the given event types where each consecutive gap is
    positive and ≤ ``within_seconds``.

    NO self-joins: anchoring on the middle event, the triple count is
    Σ_b  |A strictly within w before b| × |C strictly within w after
    b| — two conditional counts over RANGE frames on the event-time
    long, evaluated in ONE window sort per key.  A three-way time-
    constrained self-join (the naive plan) shuffles the fact table
    three times and explodes on hot keys; this shuffles it once and
    never materializes a pair.  All-integer arithmetic — the DuckDB
    three-way-join mirror matches exactly.

    (`q_funnel` is the FIRST-occurrence semantics; this counts every
    occurrence — the conversion-intensity metric.)
    """
    a, b, c = pattern
    w_us = within_seconds * 1_000_000
    t = df.select(
        F.col(key_col).alias("key"),
        F.unix_micros(F.col(ts_col)).alias("tus"),
        F.col(type_col).alias("typ"),
    )
    w_before = (
        Window.partitionBy("key").orderBy("tus").rangeBetween(-w_us, -1)
    )
    w_after = Window.partitionBy("key").orderBy("tus").rangeBetween(1, w_us)
    mids = t.withColumn(
        "n_a",
        F.count(F.when(F.col("typ") == a, 1)).over(w_before),
    ).withColumn(
        "n_c",
        F.count(F.when(F.col("typ") == c, 1)).over(w_after),
    ).filter(F.col("typ") == b)
    return (
        mids.groupBy("key")
        .agg(F.sum(F.col("n_a") * F.col("n_c")).alias("n_matches"))
        .filter(F.col("n_matches") > 0)
        .select(F.col("key").alias(key_col), "n_matches")
    )


def retrieval_metrics(
    ranked: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rnk",
    rel_col: str = "rel",
    digits: int = 6,
) -> DataFrame:
    """Per-query retrieval evaluation — the measurement leg of the RAG
    stack (index → retrieve → fuse → rerank → EVALUATE): recall@k,
    reciprocal rank (RR@k; mean over queries = MRR), and nDCG@k
    (Järvelin & Kekäläinen 2002) of a ranked result list against a
    relevance-judgment table.

    Inputs: ``ranked`` (query, doc, rank — a top-k list), ``qrels``
    (query, doc, graded rel > 0; unjudged pairs count rel = 0).
    Output per query in ``ranked`` ∪ ``qrels`` (trec_eval style — a
    judged query whose result list is empty still scores, as zeros):
    ``(query, n_rel, n_hits, recall_at_k, rr, ap_at_k, ndcg_at_k)``
    with recall = retrieved-relevant / ALL relevant (the trec_eval
    denominator), AP@k = Σ_{relevant hit at rank r} P@r / min(n_rel, k)
    (binary average precision — graded rels count as relevant), and
    ideal DCG from the top-``k`` judgments by grade.  A ranked query
    with zero positive judgments has no defined recall/AP/nDCG — those
    emit NULL (rr still 0) rather than dividing by n_rel = 0 (which
    would error under ``spark.sql.ansi.enabled``).

    Determinism (round-9: the r7/r8 driver gate flagged hash flips on
    this query twice — both times an engine-variant float surface):
    every metric is now computed in EXACT integer arithmetic down to
    the final division.  The DCG rank discounts ``1/log2(r+1)`` are
    10^12-scaled integer literals (:func:`dcg_weights_scaled` — no
    libm ``log2`` on either engine side), so DCG/iDCG are integer dot
    products with the integer relevance grades; P@r terms quantize
    HALF-UP to exact 12-digit integers (``exact_ratio_scaled``) before
    the integer sum; and recall/RR/AP/nDCG emit through the
    ``exact_ratio`` integer kernel — ``round(double)`` of a ratio of
    integers flips between engines exactly when the ratio terminates
    on a rounding half-boundary, so none survives anywhere in this
    operator.

    Output types (round 10): the metric columns (``recall_at_k``,
    ``rr``, ``ap_at_k``, ``ndcg_at_k``) are ``DOUBLE`` — each is the
    nearest double of an exact ``digits``-digit decimal computed by
    the integer kernel, which is the SAME double on every
    IEEE-conforming engine.  (Round 8 briefly emitted
    ``DECIMAL(18, digits)`` here; that made this the only
    DECIMAL-emitting query in the driver window — a singleton surface
    a driver-side hasher can canonicalize differently from doubles —
    and broke API consumers expecting floats.  ``CAST(scaled AS
    DOUBLE) / 10^digits`` carries identical information with none of
    that, so round 10 reverted it.)

    Scale: both inputs are top-k lists / judgment tables —
    metadata-sized next to the corpus; one hash join + three grouped
    aggregates, each partitioned by query.
    """
    from sparkgraft.operators.stats import exact_ratio, exact_ratio_scaled

    dcg_w = F.array(
        *[F.lit(w).cast("long") for w in dcg_weights_scaled(k)]
    )
    rel0 = F.coalesce(F.col(rel_col), F.lit(0))
    w_cum = (
        Window.partitionBy(query_col)
        .orderBy(rank_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hits = (
        # Ranks are 1-based by contract; rows outside [1, k] drop here.
        # Round-9 review: without the lower bound, rank 0 crashed
        # element_at(dcg_w, 0) (INVALID_INDEX_OF_ZERO, even non-ANSI)
        # and a negative rank silently indexed the weight array from
        # the END — now both are excluded like unjudged rows.
        ranked.filter((F.col(rank_col) >= 1) & (F.col(rank_col) <= k))
        .select(query_col, id_col, rank_col)
        .join(
            qrels.select(query_col, id_col, rel_col),
            [query_col, id_col],
            "left",
        )
        .withColumn("_rel", rel0)
        .withColumn(
            "_cumhits",
            F.sum(F.when(rel0 > 0, 1).otherwise(0)).over(w_cum),
        )
    )
    dterm_s = F.col("_rel").cast("long") * F.element_at(
        dcg_w, F.col(rank_col).cast("int")
    )
    ap_term_s = F.when(
        F.col("_rel") > 0,
        exact_ratio_scaled(F.col("_cumhits"), F.col(rank_col), 12),
    )
    per_q = hits.groupBy(query_col).agg(
        F.sum(dterm_s).alias("_dcg_s"),
        F.min(F.when(F.col("_rel") > 0, F.col(rank_col))).alias("_r1"),
        F.sum(ap_term_s).alias("_ap_s"),
        F.sum(F.when(F.col("_rel") > 0, 1).otherwise(0)).alias("n_hits"),
    )
    judged = qrels.filter(F.col(rel_col) > 0)
    n_rel = judged.groupBy(query_col).agg(F.count("*").alias("n_rel"))
    w = Window.partitionBy(query_col).orderBy(
        F.col(rel_col).desc(), F.col(id_col).asc()
    )
    iterm_s = F.col(rel_col).cast("long") * F.element_at(
        dcg_w, F.col("_irnk").cast("int")
    )
    ideal = (
        judged.withColumn("_irnk", F.row_number().over(w))
        .filter(F.col("_irnk") <= k)
        .groupBy(query_col)
        .agg(F.sum(iterm_s).alias("_idcg_s"))
    )
    nr = F.coalesce(F.col("n_rel"), F.lit(0))
    nh = F.coalesce(F.col("n_hits"), F.lit(0))
    ap_den = F.lit(10**12).cast("decimal(38,0)") * F.least(
        nr, F.lit(k)
    ).cast("decimal(38,0)")
    return (
        per_q.join(n_rel, query_col, "full")
        .join(ideal, query_col, "left")
        .select(
            query_col,
            nr.alias("n_rel"),
            nh.alias("n_hits"),
            F.when(nr > 0, exact_ratio(nh, nr, digits))
            .alias("recall_at_k"),
            F.coalesce(
                exact_ratio(F.lit(1), F.col("_r1"), digits), F.lit(0.0)
            )
            .alias("rr"),
            F.when(
                nr > 0,
                exact_ratio(
                    F.coalesce(F.col("_ap_s"), F.lit(0)).cast(
                        "decimal(38,0)"
                    ),
                    ap_den,
                    digits,
                ),
            )
            .alias("ap_at_k"),
            F.when(
                nr > 0,
                exact_ratio(
                    F.coalesce(F.col("_dcg_s"), F.lit(0)),
                    F.col("_idcg_s"),
                    digits,
                ),
            )
            .alias("ndcg_at_k"),
        )
    )
