"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k as the exact baseline, and a partition-pruned
(IVF-style) variant as the scale path.  Both stay JVM-side: the dot
product is a ``zip_with`` + ``aggregate`` fold over the arrays — no
Python in the hot loop.

Scale analysis: brute force is O(|Q| x |C|); with |Q| broadcast
(queries are small by construction) there is NO shuffle of the
candidate side — each executor scans its candidate partitions once,
computes local top-k per query (rank-limit pushdown via the window),
and only k rows per (query, partition) move.  The IVF variant prunes
candidates to the probed cluster(s) first, which is the standard
recall/cost trade at 10^9+ vectors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sparkgraft.functions.expr import sql_ident as _sql_ident
from sparkgraft.operators.scale import triangle_self_pairs, widen_narrow_scan
from sparkgraft.operators.stats import exact_mean, scaled_long


def _vec_norm(vec: str) -> Column:
    """The hoisted L2 norm of float-array column ``vec``: ``sqrt`` of
    the double square-sum, computed once per row before any pair join
    (|Q|+|C| norms instead of one per pair)."""
    return F.expr(
        f"sqrt(aggregate(transform({_sql_ident(vec)}, "
        f"x -> cast(x as double) * cast(x as double)), "
        f"0.0D, (acc, x) -> acc + x))"
    )


def _cosine(
    digits: int, a: str = "qv", b: str = "cv", an: str = "qn", bn: str = "cn"
) -> Column:
    """The exact-cosine scorer of every vector-search operator:
    ``round(dot(a, b) / (an * bn), digits)`` over two float-array
    columns and their hoisted norms (:func:`_vec_norm`), as one SQL
    text.  The dot is a ``zip_with`` fold in array order, so the value
    does not depend on which side is ``a``.  Sides reach it through
    :func:`_drop_zero_norm` (the rule is stated at :func:`_top_k`)."""
    a, b, an, bn = (_sql_ident(c) for c in (a, b, an, bn))
    return F.expr(
        f"round(aggregate(zip_with({a}, {b}, "
        f"(x, y) -> cast(x as double) * cast(y as double)), "
        f"0.0D, (acc, x) -> acc + x) / ({an} * {bn}), {int(digits)})"
    )


def _drop_zero_norm(side: DataFrame, *norms: str) -> DataFrame:
    """Drop the rows of one pair-join side whose hoisted norm in any of
    ``norms`` is zero; a NULL norm passes (see :func:`_top_k`)."""
    return side.filter(
        " AND ".join(f"NOT ({_sql_ident(n)} <=> 0.0D)" for n in norms)
    )


def _top_k(
    scored: DataFrame,
    k: int,
    score: str = "cos_sim",
    ascending: bool = False,
    rank: str = "rnk",
) -> DataFrame:
    """The ranking policy of every vector-search operator: per
    ``query_id``, ``row_number`` into ``rank`` ordered by ``score``
    (descending for a similarity, ascending for a distance), ties
    broken by ``neighbor_id`` ascending, kept while ``<= k``.

    Scores are rounded (or exact integers) before they reach the
    window, so the order is reproducible across engines, runs and
    partitionings.  A zero-norm vector is never scored: cosine is
    undefined for it (ANSI raises ``DIVIDE_BY_ZERO``), so every
    exact-cosine site drops it from the side it is on before the pair
    join (:func:`_drop_zero_norm`) — it neither gets nor is a
    neighbor.  A NULL vector keeps a NULL cosine, which ranks last."""
    s = F.col(score)
    w = Window.partitionBy("query_id").orderBy(
        s.asc() if ascending else s.desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn(rank, F.row_number().over(w)).filter(
        F.col(rank) <= k
    )


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    digits: int = 6,
) -> DataFrame:
    """Exact cosine top-k: every query against every candidate.

    ``queries`` is broadcast (small); scoring is :func:`_cosine` and
    ranking :func:`_top_k`.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _vec_norm(vec_col).alias("qn"),
    )
    c = widen_narrow_scan(candidates).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _vec_norm(vec_col).alias("cn"),
    )
    scored = (
        _drop_zero_norm(c, "cn")
        .crossJoin(F.broadcast(_drop_zero_norm(q, "qn")))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _cosine(digits).alias("cos_sim"))
    )
    return _top_k(scored, k)


def brute_force_topk_qint(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    comp_digits: int = 4,
    key_digits: int = 8,
    in_dim: int = 64,
    comp_max: float = 1.0,
) -> DataFrame:
    """Exact cosine top-k over the component-quantized integer embedding
    space — a ranking that is bit-identical on ANY engine (round-10).

    :func:`brute_force_topk` orders candidates by ``round(double_cosine,
    6)``: a float ORDERING surface.  A last-ulp difference between two
    engines' dot/sqrt pipelines (summation strategy, fused multiplies)
    flips which candidate ranks k-th even when every EMITTED column is
    an integer — the value being rounded was never emitted, it ordered
    the list (the r7–r9 driver-gate lesson, same class as the ADC
    shortlist fixed in round 9).  Here no float ever forms past the
    per-component quantization:

    1. each component quantizes HALF-UP (away from zero) to its
       ``10^comp_digits``-scaled integer — one exactly-rounded IEEE
       multiply + one round, identical on every engine;
    2. ranking uses the exact integer key

           key = sign(dot) * ((dot² · 10^key_digits) div ‖c‖²)

       over the integer vectors.  Within a query's partition ‖q‖² is
       constant, so key ≈ sign·cos²·‖q‖²·10^kd is monotone in cosine
       for either sign (cos² flips monotonicity for negative cos —
       the sign factor restores it); ties (key collisions) break by
       candidate id, deterministically on both engines.

    Bounds: ``|key| ≤ ‖q‖²·10^kd`` (the ‖c‖² divisor cancels against
    one dot² factor), so dim 64 / |x| ≤ 1 / comp_digits 4 / key_digits
    8 stays well under 2^63; intermediates run in DECIMAL(38,0).
    Zero-norm candidates (undefined cosine) are excluded.

    The envelope is ENFORCED, not just documented (round-11 ADVICE):
    ``in_dim``/``comp_max`` bound the LONG dot/norm accumulators
    (``in_dim·(comp_max·10^cd)² < 2^63``) and the DECIMAL(38,0) square
    (``(in_dim·(comp_max·10^cd)²)²·10^kd < 10^38``) — a violating
    parameter choice raises ``ValueError`` at plan time instead of
    silently wrapping the accumulator (or NULLing the DECIMAL under
    non-ANSI Spark) into a wrong ranking.  The per-component magnitude
    assumption is guarded at RUN time: a component quantizing beyond
    ``comp_max·10^cd`` raises inside the transform (the
    ``random_projection`` length-check pattern) rather than overflowing.

    Scale: identical plan shape to :func:`brute_force_topk` — queries
    broadcast, candidates never shuffle, per-partition rank-limit.
    """
    s = 10**comp_digits
    big = "decimal(38,0)"
    m = int(round(comp_max * s))  # per-component integer magnitude cap
    acc_bound = in_dim * m * m  # max |dot| and max cn2
    if acc_bound >= 2**63:
        raise ValueError(
            "brute_force_topk_qint: in_dim*(comp_max*10^comp_digits)^2 "
            f"= {acc_bound} overflows the LONG accumulators; lower "
            "comp_digits/comp_max or in_dim"
        )
    if acc_bound * acc_bound * 10**key_digits >= 10**38:
        raise ValueError(
            "brute_force_topk_qint: dot^2*10^key_digits can reach "
            f"{acc_bound * acc_bound * 10 ** key_digits} > 10^38-1, "
            "overflowing DECIMAL(38,0); lower key_digits or the "
            "component envelope"
        )

    def ivec(col: Column) -> Column:
        def quant(x: Column) -> Column:
            qx = F.round(x.cast("double") * s).cast("long")
            # NULL components propagate (pre-guard behavior); only a
            # present component beyond the envelope is a hard error.
            return F.when(qx.isNull() | (F.abs(qx) <= m), qx).otherwise(
                F.raise_error(
                    F.format_string(
                        "brute_force_topk_qint: |component| %s exceeds "
                        + f"the enforced envelope {m} (comp_max="
                        + str(comp_max) + ")",
                        qx.cast("string"),
                    )
                )
            )

        # The plan-time overflow envelope assumes ≤ in_dim components;
        # enforce that against the actual array so a wider vector can't
        # silently exceed the LONG/DECIMAL accumulator bounds.  NULL
        # vectors propagate (size(NULL) is NULL -> the when() condition
        # is non-true, so without the isNull arm they would hit
        # raise_error — the same NULL regression class as the
        # component guard above).
        guarded = F.when(col.isNull() | (F.size(col) <= in_dim), col).otherwise(
            F.raise_error(
                F.format_string(
                    "brute_force_topk_qint: vector length %s exceeds "
                    + f"the enforced in_dim {in_dim}",
                    F.size(col).cast("string"),
                )
            )
        )
        return F.transform(guarded, quant)

    q = queries.select(
        F.col(id_col).alias("query_id"), ivec(F.col(vec_col)).alias("qi")
    )
    c = widen_narrow_scan(candidates).select(
        F.col(id_col).alias("neighbor_id"), ivec(F.col(vec_col)).alias("ci")
    ).withColumn(
        "cn2",
        F.aggregate(
            F.transform("ci", lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    ).filter(F.col("cn2") > 0)
    dp = F.aggregate(
        F.zip_with("qi", "ci", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "cn2", dp.alias("dp"))
    )
    dd = F.col("dp").cast(big)
    key_mag = F.call_function(
        "div", dd * dd * F.lit(10**key_digits).cast(big), F.col("cn2").cast(big)
    )
    keyed = scored.select(
        "query_id",
        "neighbor_id",
        F.when(F.col("dp") < 0, -key_mag).otherwise(key_mag).alias("rk"),
    )
    return _top_k(keyed, k, "rk").select("query_id", "neighbor_id", "rnk")


def _literal_vec_table_sql(
    rows: list[tuple[int, list[float]]], id_name: str
) -> str:
    """SQL text of :func:`_literal_vec_table` (shared by it and the
    SQL-text kernels below)."""
    parts = ", ".join(
        "named_struct('{id}', {i}, 'vec', array({xs}))".format(
            id=id_name,
            i=int(rid),
            xs=", ".join(repr(float(x)) + "D" for x in rvec),
        )
        for rid, rvec in rows
    )
    return f"array({parts})"


def _literal_vec_table(rows: list[tuple[int, list[float]]], id_name: str) -> Column:
    """A small (id, vector) table as ONE plan-time literal:
    ``array<struct<id int, vec array<double>>>`` rendered as a SQL
    string and parsed JVM-side in a single call.

    Building the same literal with per-element ``F.lit`` costs one Py4J
    round-trip per number — ~1 s of driver time for a 10x64 centroid
    table — while the SQL text parses in ~ms and produces the identical
    foldable literal.  ``repr(float)`` is the shortest round-trip form,
    so the literal is bit-exact."""
    return F.expr(_literal_vec_table_sql(rows, id_name))


def _centroid_dists_sql(
    vec_sql: str, centroids: list[tuple[int, list[float]]], digits: int
) -> str:
    """Per-centroid rounded L2 distances as SQL text of an
    ``array<struct<d, cluster>>`` — ONE ``transform`` over the literal
    centroid table (the per-pair fold is the only per-row work).
    ``vec_sql`` is a quoted column reference or a SQL snippet.

    Kernel convention: :func:`assign_nearest`,
    :func:`assign_nearest_multi`, :func:`_cands_argmin`,
    :func:`pq_encode`, :func:`_adc_tables`, the exact-cosine scorer
    :func:`_cosine` (with its hoisted :func:`_vec_norm`) and textops'
    ``minhash_signature``/``lsh_bands`` take COLUMN NAMES, not
    Columns, and each renders as one SQL text parsed by a single
    ``F.expr`` (one Py4J call per kernel, not one per expression
    node).  Names are quoted by ``sql_ident``, which rejects anything
    but a ``str``."""
    ctab = _literal_vec_table_sql(centroids, "cluster")
    return (
        f"transform({ctab}, c -> named_struct("
        f"'d', round(aggregate(zip_with({vec_sql}, c.vec, "
        f"(x, cc) -> (cast(x as double) - cc) * (cast(x as double) - cc)), "
        f"0.0D, (acc, x) -> acc + x), {int(digits)}), "
        f"'cluster', c.cluster))"
    )


def hyperplane_signs(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic random-hyperplane components: ±1 per (plane, dim)
    from md5 — reproducible in any engine (and embeddable as literals,
    so no runtime hashing at all)."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{p}|{d}".encode()).hexdigest()
            row.append(1.0 if h[0] in "89abcdef" else -1.0)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-random-projection LSH bucket id: bit p = [dot(v, plane_p) > 0].

    Vectors within an angular neighborhood collide with probability
    (1 - θ/π)^bits — the classic SimHash-for-vectors index.  The plane
    matrix is a plan-time literal: the bucket computation is pure
    codegen arithmetic, no hashing at runtime.

    A vector whose length differs from the plane dimension (or a NULL
    vector) raises at execution time: ``zip_with`` would otherwise
    null-pad the shorter side, turn every dot product NULL, and
    silently collapse ALL vectors into bucket 0 — degrading the
    bucketed join into the full cross join this index exists to avoid.
    """
    dim = len(planes[0])
    # Planes as one literal table (bit value precomputed per plane);
    # the bucket is a single fold: acc + bit when dot(v, plane) > 0.
    ptab = _literal_vec_table(
        [(1 << p, plane) for p, plane in enumerate(planes)], "bit"
    )
    bucket = F.aggregate(
        ptab,
        F.lit(0),
        lambda acc, pl: acc
        + F.when(
            F.aggregate(
                F.zip_with(vec, pl["vec"], lambda x, w: x.cast("double") * w),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            > 0,
            pl["bit"],
        ).otherwise(F.lit(0)),
    )
    return F.when(F.size(vec) == F.lit(dim), bucket.cast("int")).otherwise(
        F.raise_error(
            F.format_string(
                "lsh_bucket: embedding length %s != plane dim " + str(dim),
                F.size(vec),
            )
        )
    )


def lsh_bucketed_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    n_planes: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    digits: int = 6,
    hamming_radius: int = 0,
    max_probes: int | None = None,
) -> DataFrame:
    """LSH-bucketed approximate top-k: candidates restricted to the
    query's hyperplane bucket, optionally multiprobed.

    Scale path: the candidate side is grouped by bucket (2^n_planes
    partitions); a probe touches ~1/2^n_planes of the corpus.  Recall
    trades against n_planes; ``hamming_radius=r`` additionally probes
    every bucket within r bit-flips (sum of C(n_planes, i) for i<=r
    buckets per query) — the standard multiprobe trick that recovers
    the recall a near-boundary vector loses, without re-indexing.
    ``max_probes`` caps the probe list (nearest masks first: probes are
    ordered by flip count, then mask value — deterministic), giving a
    fixed per-query cost budget independent of the radius.  Each
    candidate lives in exactly one bucket, so probes never duplicate a
    (query, candidate) pair and no post-join dedup is needed.
    """
    if not 0 <= hamming_radius <= n_planes:
        raise ValueError("hamming_radius must be in [0, n_planes]")
    planes = hyperplane_signs(n_planes, dim)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _vec_norm(vec_col).alias("qn"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    if hamming_radius > 0 or (max_probes is not None and max_probes > 1):
        import itertools

        masks = [0]
        for r in range(1, hamming_radius + 1):
            masks.extend(
                sorted(
                    sum(1 << p for p in combo)
                    for combo in itertools.combinations(range(n_planes), r)
                )
            )
        if max_probes is not None:
            masks = masks[: max(1, max_probes)]
        probes = F.array(
            *[F.col("bucket").bitwiseXOR(F.lit(m)).cast("int") for m in masks]
        )
        q = q.withColumn("bucket", F.explode(probes))
    # The broadcast join keeps the candidate scan's partitioning — a
    # narrow scan would serialize bucketing + pair scoring into one
    # task (no-op on a production-wide scan).
    c = widen_narrow_scan(candidates).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _vec_norm(vec_col).alias("cn"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    scored = (
        _drop_zero_norm(c, "cn")
        .join(F.broadcast(_drop_zero_norm(q, "qn")), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _cosine(digits).alias("cos_sim"))
    )
    return _top_k(scored, k)


def partitioned_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    partition_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    digits: int = 6,
) -> DataFrame:
    """IVF-style pruned top-k: candidates restricted to the query's
    cluster (here: the precomputed ``label`` partition = nprobe=1).

    At scale the cluster assignment comes from a centroid table
    (broadcast, argmin over centroids) and the candidate side is
    bucketed/partitioned by cluster id, so the search never scans
    out-of-cluster vectors.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(partition_col).alias("part"),
        F.col(vec_col).alias("qv"),
        _vec_norm(vec_col).alias("qn"),
    )
    c = widen_narrow_scan(candidates).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(partition_col).alias("part"),
        F.col(vec_col).alias("cv"),
        _vec_norm(vec_col).alias("cn"),
    )
    scored = (
        _drop_zero_norm(c, "cn")
        .join(F.broadcast(_drop_zero_norm(q, "qn")), "part")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _cosine(digits).alias("cos_sim"))
    )
    return _top_k(scored, k)


def centroids_from_labels(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    digits: int = 6,
) -> DataFrame:
    """IVF "fit" step in-engine: per-cluster per-dimension mean vector.

    ``posexplode`` → grouped exact fixed-point mean per (cluster, pos)
    → reassembled in position order.  The mean uses the tie-proof
    integer kernel (:func:`sparkgraft.operators.stats.exact_mean`), so
    the centroid table is bit-identical under any partitioning — which
    lets it re-enter the plan as literals (see :func:`assign_nearest`)
    without nondeterminism.

    Scale: the explode is dim× the row count but feeds a map-side
    combined partial aggregate, and runs once per (re)fit, not per
    query — the standard offline IVF training cost.
    """
    expl = df.select(
        F.col(label_col).alias("cluster"),
        F.posexplode(F.col(vec_col)).alias("pos", "v"),
    )
    per_dim = expl.groupBy("cluster", "pos").agg(
        exact_mean(
            F.sum(scaled_long(F.col("v").cast("double"))), F.count("v"), digits
        ).alias("c")
    )
    return per_dim.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("centroid")
    )


def _literal_ivec_table(rows: list[tuple[int, list[int]]], id_name: str) -> Column:
    """Integer twin of :func:`_literal_vec_table`: a small (id, long[])
    table as ONE plan-time literal (``L`` suffix keeps every element
    BIGINT)."""
    parts = ", ".join(
        "named_struct('{id}', {i}, 'vec', array({xs}))".format(
            id=id_name,
            i=int(rid),
            xs=", ".join(str(int(x)) + "L" for x in rvec),
        )
        for rid, rvec in rows
    )
    return F.expr(f"array({parts})")


def _centroid_dists_exact6(
    vec: Column, centroids: list[tuple[int, list[float]]]
) -> Column:
    """EXACT integer L2 distances for vectors whose components are
    exact 6-digit decimals (the hashed-TF-IDF family): components and
    centroid entries convert to their 10^6-scaled integers — each is
    the nearest double of a 6-digit decimal, so ``round(x * 1e6)`` is
    engine-unambiguous — and d² accumulates in DECIMAL(38,0): the
    exact 10^12-scaled squared distance, comparable bit-identically on
    every engine.

    Why not ``round(Σ(x−c)², 9)`` (boundary-audit finding): with
    6-digit-decimal inputs the exact d² IS a 12-digit decimal, which
    terminates ON the 9-digit rounding half-boundary for ~1/1000
    (vector, centroid) pairs — Spark's BigDecimal HALF_UP and DuckDB's
    float rounding then disagree on the double computed 1e-13 off the
    exact value, flipping Lloyd assignments between engines (hit:
    24.5050097135).  Exact integers have no boundary to sit on."""
    # Precondition guard (round-9 review): the 10^6 scaling is only
    # exact for 6-digit-decimal spaces.  The centroid list is driver-
    # side — verify each entry ROUND-TRIPS exactly (S = round(c·1e6);
    # S/1e6 must reproduce c bit-for-bit — the same division that
    # built the space, so exact-6-digit values of ANY magnitude pass,
    # unlike an absolute-epsilon test which false-rejects above ~5e6)
    # and that S stays inside the double-integer range where
    # round(c·1e6) is trustworthy.  Raise loudly on misuse instead of
    # silently collapsing finer coordinates (the vector side comes
    # from the same space by construction: hashed TF-IDF components
    # and exact_mean(…, 6) refits).
    for cid, cv in centroids:
        for c in cv:
            sc = round(c * 1e6)
            if sc / 1e6 != c or abs(sc) >= 2**52:
                raise ValueError(
                    f"assign_nearest_exact6: centroid {cid} entry {c!r} "
                    "is not an exact 6-digit decimal (or exceeds the "
                    "2^52 scaled-integer range) — use assign_nearest "
                    "for general double spaces"
                )
    ctab = _literal_ivec_table(
        [
            (cid, [int(round(c * 1e6)) for c in cv])
            for cid, cv in centroids
        ],
        "cluster",
    )
    xs = F.transform(
        vec, lambda x: F.round(x.cast("double") * F.lit(1e6)).cast("long")
    )
    zero = F.lit(0).cast("decimal(38,0)")
    return F.transform(
        ctab,
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(
                    xs,
                    c["vec"],
                    lambda a, b: (a - b).cast("decimal(38,0)")
                    * (a - b).cast("decimal(38,0)"),
                ),
                zero,
                lambda acc, t: acc + t,
            ).alias("d"),
            c["cluster"].alias("cluster"),
        ),
    )


def assign_nearest_exact6(
    vec: Column, centroids: list[tuple[int, list[float]]]
) -> Column:
    """:func:`assign_nearest` for exact-6-digit-decimal vector spaces
    (hashed TF-IDF): the argmin compares EXACT 10^12-scaled integer
    distances (:func:`_centroid_dists_exact6`), cluster id breaks
    ties — no ``round(double)`` anywhere, so the assignment is
    engine-invariant by construction."""
    dim = len(centroids[0][1])
    assigned = F.array_min(_centroid_dists_exact6(vec, centroids)).getField(
        "cluster"
    )
    return F.when(F.size(vec) == F.lit(dim), assigned).otherwise(
        F.raise_error(
            F.format_string(
                "assign_nearest_exact6: embedding length %s != centroid dim "
                + str(dim),
                F.size(vec),
            )
        )
    )


def assign_nearest(
    vec: str,
    centroids: list[tuple[int, list[float]]],
    digits: int = 9,
) -> Column:
    """Nearest-centroid assignment as a pure projection (no shuffle).

    The centroid table enters the plan as literals — the broadcast-
    without-join-machinery pattern also used for LSH planes — so
    assignment is codegen arithmetic: one L2 distance per centroid and
    an ``array_min`` over (distance, cluster) structs.  Distances are
    rounded before the argmin and ties break on cluster id, keeping the
    assignment deterministic and engine-portable.

    Like :func:`lsh_bucket`, a vector whose length differs from the
    centroid dimension raises instead of silently mis-assigning via
    ``zip_with`` null-padding.
    """
    dim = len(centroids[0][1])
    v = _sql_ident(vec)
    d = _centroid_dists_sql(v, centroids, digits)
    return F.expr(
        f"CASE WHEN size({v}) = {dim} THEN array_min({d}).cluster "
        f"ELSE raise_error(format_string("
        f"'assign_nearest: embedding length %s != centroid dim {dim}', "
        f"size({v}))) END"
    )


def assign_nearest_multi(
    vec: str,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    digits: int = 9,
) -> Column:
    """The ``nprobe`` nearest cluster ids, nearest-first — the IVF
    probe list for the query side (candidates keep their single
    :func:`assign_nearest` cluster, so probing p clusters never
    duplicates a (query, candidate) pair).

    Same literal-table/no-shuffle construction as
    :func:`assign_nearest`; ties break on cluster id via the struct
    sort, so probe order is deterministic.
    """
    dim = len(centroids[0][1])
    v = _sql_ident(vec)
    d = _centroid_dists_sql(v, centroids, digits)
    return F.expr(
        f"CASE WHEN size({v}) = {dim} THEN "
        f"transform(slice(array_sort({d}), 1, {int(nprobe)}), "
        f"s -> s.cluster) "
        f"ELSE raise_error(format_string("
        f"'assign_nearest_multi: embedding length %s != centroid dim "
        f"{dim}', size({v}))) END"
    )


def quantization_stats(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension corpus min/max as ONE row of two aligned arrays —
    the calibration step of scalar quantization.  ``posexplode`` into a
    map-side-combined (pos) aggregate, then reassembled in position
    order; the result is a 1-row frame meant to be broadcast into
    :func:`quantize_embeddings`' encode projection (the same
    1-row-aggregate-crossJoin pattern as the BM25/TF-IDF corpus stats —
    no driver action, the whole pipeline stays one lazy plan)."""
    expl = df.select(F.posexplode(F.col(vec_col)).alias("pos", "v"))
    per_dim = expl.groupBy("pos").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    return per_dim.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mn"))), lambda s: s["mn"]
        ).alias("mns"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mx"))), lambda s: s["mx"]
        ).alias("mxs"),
    )


def quantize_embeddings(
    df: DataFrame,
    stats: DataFrame,
    vec_col: str = "embedding",
    levels: int = 255,
) -> DataFrame:
    """Int8-style scalar quantization: each dimension maps linearly to
    ``0..levels`` within its corpus [min, max] range — 4x smaller
    vectors for ANN candidate storage, with the usual re-rank on full
    precision for the final top-k.

    Encode is a pure projection over the broadcast 1-row ``stats``
    frame (from :func:`quantization_stats`): zip the vector with the
    min/max arrays, scale, round — shuffle-free, scan-speed at 100 TB.
    A constant dimension (max == min) encodes as 0.  Output keeps all
    input columns plus ``codes array<int>``.
    """
    paired = F.zip_with(
        F.col(vec_col),
        F.col("mns"),
        lambda v, mn: F.struct(v.cast("double").alias("v"), mn.alias("mn")),
    )
    codes = F.zip_with(
        paired,
        F.col("mxs"),
        lambda s, mx: F.when(
            mx.cast("double") > s["mn"],
            F.round(
                (s["v"] - s["mn"]) * F.lit(float(levels)) / (mx.cast("double") - s["mn"]),
                0,
            ).cast("int"),
        ).otherwise(F.lit(0)),
    )
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn("codes", codes)
        .drop("mns", "mxs")
    )


def dequantize_error(
    quantized: DataFrame,
    stats: DataFrame,
    vec_col: str = "embedding",
    levels: int = 255,
    digits: int = 6,
) -> DataFrame:
    """Reconstruction check for :func:`quantize_embeddings`: decode the
    codes against the same stats and report the per-vector max absolute
    error — bounded by half a quantization step per dimension, asserted
    in tests."""
    paired = F.zip_with(
        F.col("codes"),
        F.col("mns"),
        lambda c, mn: F.struct(c.cast("double").alias("c"), mn.alias("mn")),
    )
    decoded = F.zip_with(
        paired,
        F.col("mxs"),
        lambda s, mx: s["mn"]
        + s["c"] * (mx.cast("double") - s["mn"]) / F.lit(float(levels)),
    )
    err = F.aggregate(
        F.zip_with(F.col(vec_col), decoded, lambda v, d: F.abs(v.cast("double") - d)),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    return (
        quantized.crossJoin(F.broadcast(stats))
        .withColumn("max_abs_err", F.round(err, digits))
        .drop("mns", "mxs")
    )


def quantized_rerank_topk(
    queries: DataFrame,
    candidates: DataFrame,
    stats: DataFrame,
    k: int = 5,
    m: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 255,
    digits: int = 6,
) -> DataFrame:
    """Two-stage ANN with int8 candidates: stage 1 ranks by cosine over
    the QUANTIZED-then-decoded vectors (the 4x-smaller representation a
    production index actually stores/streams) and keeps the top-``m``
    per query; stage 2 re-ranks those m with full-precision cosine and
    returns the top-``k`` — the standard compress-then-rerank recipe.

    Both stages score with :func:`_cosine` and rank with
    :func:`_top_k`.  The decode is the round-trip of
    :func:`quantize_embeddings` fused into one projection
    (code = round((v-mn)*L/(mx-mn)), dec = mn + code*(mx-mn)/L).
    """

    def decoded(df: DataFrame, out: str) -> DataFrame:
        paired = F.zip_with(
            F.col(vec_col),
            F.col("mns"),
            lambda v, mn: F.struct(
                v.cast("double").alias("v"), mn.cast("double").alias("mn")
            ),
        )
        dec = F.zip_with(
            paired,
            F.col("mxs"),
            lambda s, mx: s["mn"]
            + F.when(
                mx.cast("double") > s["mn"],
                F.round(
                    (s["v"] - s["mn"])
                    * F.lit(float(levels))
                    / (mx.cast("double") - s["mn"]),
                    0,
                ),
            ).otherwise(F.lit(0.0))
            * (mx.cast("double") - s["mn"])
            / F.lit(float(levels)),
        )
        return df.crossJoin(F.broadcast(stats)).withColumn(out, dec).drop(
            "mns", "mxs"
        )

    q = decoded(queries, "qd").select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col("qd"),
        _vec_norm(vec_col).alias("qn"),
        _vec_norm("qd").alias("qdn"),
    )
    c = decoded(widen_narrow_scan(candidates), "cd").select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.col("cd"),
        _vec_norm(vec_col).alias("cn"),
        _vec_norm("cd").alias("cdn"),
    )
    c, q = _drop_zero_norm(c, "cn", "cdn"), _drop_zero_norm(q, "qn", "qdn")
    approx = c.join(F.broadcast(q), c["neighbor_id"] != q["query_id"]).select(
        "query_id",
        "neighbor_id",
        "qv",
        "cv",
        "qn",
        "cn",
        _cosine(digits, "qd", "cd", "qdn", "cdn").alias("approx_sim"),
    )
    shortlist = _top_k(approx, m, "approx_sim", rank="arnk")
    exact = shortlist.select(
        "query_id", "neighbor_id", _cosine(digits).alias("cos_sim")
    )
    return _top_k(exact, k)


def kmeans_iterate(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    iters: int = 1,
    vec_col: str = "embedding",
    digits: int = 6,
    exact6: bool = False,
) -> list[tuple[int, list[float]]]:
    """Lloyd k-means refinement in-engine: each iteration assigns every
    vector to its nearest centroid (:func:`assign_nearest` — shuffle-
    free literal-argmin projection) and re-fits centroids as exact
    per-dimension fixed-point means (:func:`centroids_from_labels` —
    one map-side-combined aggregate).

    One Spark job per iteration; the centroid table round-trips through
    the driver (it is small by definition — the same "broadcast" scale
    assumption as assignment itself).  Because both steps are exact and
    tie-broken, the trajectory is deterministic: same data + same seed
    centroids → bit-identical centroids every run, under any
    partitioning.  Empty clusters simply drop out of the re-fit (their
    id disappears), matching the standard Lloyd behavior.

    ``exact6=True`` assigns via :func:`assign_nearest_exact6` — use it
    whenever the vector space is exact 6-digit decimals (hashed
    TF-IDF): round-9 double distances there land ON rounding
    half-boundaries (see _centroid_dists_exact6).  The exact_mean
    refit keeps centroids in the same 6-digit-decimal space, so the
    property holds across every iteration.
    """
    if exact6 and digits != 6:
        raise ValueError(
            "kmeans_iterate(exact6=True) requires digits=6 — the exact "
            "integer distances scale at 10^6, and an exact_mean refit at "
            f"digits={digits} would leave the 6-digit-decimal space"
        )
    for _ in range(iters):
        cluster = (
            assign_nearest_exact6(F.col(vec_col), centroids)
            if exact6
            else assign_nearest(vec_col, centroids)
        )
        assigned = df.withColumn("cluster", cluster)
        cents_df = centroids_from_labels(assigned, "cluster", vec_col, digits)
        centroids = sorted(
            (r["cluster"], list(r["centroid"])) for r in cents_df.collect()
        )
    return centroids


def _md5_bucket_long(col: Column) -> Column:
    """Deterministic engine-portable hash of an id column (the repo's
    standard md5 toolkit — bm25_index/_term_bucket convention): first
    8 hex digits of md5 as a non-negative BIGINT < 2^32.  DuckDB
    mirror: ``CAST('0x' || substr(md5(CAST(x AS VARCHAR)),1,8) AS
    BIGINT)``."""
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, 8), 16, 10
    ).cast("long")


def _cands_argmin(vec: str, cands: str, digits: int = 9) -> Column:
    """Nearest-seed argmin over a per-row candidate array
    ``array<struct<sidx:int, vec:array<double>>>``: rounded-L2 at
    ``digits`` with the sidx tie-break — the :func:`assign_nearest`
    distance/tie semantics.  NULL candidates (rows whose cluster has
    no seed entries) yield NULL."""
    v, cs = _sql_ident(vec), _sql_ident(cands)
    return F.expr(
        f"array_min(transform({cs}, c -> named_struct("
        f"'d', round(aggregate(zip_with({v}, c.vec, "
        f"(x, cc) -> (cast(x as double) - cc) * (cast(x as double) - cc)), "
        f"0.0D, (acc, x) -> acc + x), {int(digits)}), "
        f"'sidx', c.sidx))).sidx"
    )


def semantic_dedup(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.999,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    digits: int = 6,
    n_blocks: int = 8,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the corpus, then
    drop a document iff an earlier-id document in the SAME cluster has
    cosine similarity ≥ ``threshold`` with it.

    The cluster step is the whole point at scale — pairwise similarity
    runs only within a cluster, so cost is Σ |cluster|² instead of n².
    Assignment itself is the shuffle-free literal-argmin projection
    (:func:`assign_nearest`), so the only shuffle is the within-cluster
    pair join.

    **Triangle decomposition** (``n_blocks``): a plain self-join on the
    cluster id caps parallelism at n_clusters and hands a hot cluster
    its entire |c|² work in ONE task — a skew killer at scale.  Instead
    each row gets a deterministic block b ∈ [0, B); the left side
    participates in upper-triangle cells (b, q≥b), the right side in
    cells (p≤b, b), and the join key is (cluster, p, q) — so every
    unordered pair lands in exactly one of the B(B+1)/2 cells per
    cluster, and the heaviest task does |c|²/B² work instead of |c|².
    Replication cost is ~(B+1)/2 per side; block ids never reach the
    output, so results are bit-identical to the unblocked join.

    Duplicate rule: "exists an earlier-id neighbor within τ" — the
    standard greedy-by-id approximation (deterministic, one pass,
    SQL-expressible) rather than the iterative keep-chain, which would
    need a fixpoint.  Cosines are rounded before the threshold compare
    and survivors tie-break on id, so the output is engine-portable.

    **Oversized-cluster split** (``max_cluster_size``, round-13 — the
    r12 soak measured Σ|c|² task-seconds growing 16.3× on a 4× input
    step because the quadratic lives in the SEMANTICS of
    all-pairs-within-a-cluster; the triangle decomposition distributes
    it perfectly but cannot shrink it).  With ``max_cluster_size=M``
    set, clusters larger than M are split before the pairwise stage,
    bounding within-group pair cost, exactly as SemDeDup production
    deployments cap cluster sizes:

    1. **Seeds** — each oversized cluster c gets ``ceil(|c|/M)`` seed
       vectors: rows are slotted by ``md5(id) % n_sub`` and each slot
       contributes its md5-minimal row (ONE map-side-combinable
       ``min_by`` aggregate — deterministic pseudo-random distinct
       seeds, no window, no single-task sort on the mega-cluster).
    2. **One Lloyd refinement step** — assign to the nearest own-
       cluster seed (literal-argmin projection), re-fit sub-centroids
       with the exact fixed-point mean (:func:`centroids_from_labels`
       — map-side-combined aggregate), re-assign once.  This is
       :func:`kmeans_iterate` restricted per cluster; one level
       suffices because step 3 guarantees the bound regardless.
    3. **Hard cap** — groups still larger than M are split into
       ``ceil(|g|/M)`` blocks by ``md5(id) % blocks`` (pure
       projection; group sizes come back via one broadcast join).
       The md5 split bounds block sizes at ~M with binomial
       concentration rather than exactly — the exact-M alternative
       (rank within cluster) needs a per-cluster window sort, i.e.
       the single-task mega-cluster skew this operator exists to
       avoid.

    **Recall trade (intentional, standard):** near-dup pairs whose
    members land in different sub-clusters or blocks are not compared
    and survive dedup.  Direction-preserving near-dups mostly co-
    assign in step 2 (their distances to every sub-centroid are
    nearly equal, so they pick the same argmin); the md5 hard cap is
    the blunt bound underneath.  Uncapped (``max_cluster_size=None``)
    results are exact within clusters, bit-identical to round-12.

    Every stage of the capped path is a projection or a partial
    (map-side-combined) aggregation — no windows, no driver loops —
    so no single task ever owns a mega-cluster.

    Returns one row per input: (id, cluster, subcluster,
    is_duplicate, dup_of) where ``dup_of`` is the smallest earlier id
    in the same final group within τ (NULL for survivors);
    ``subcluster`` is 0 everywhere on the uncapped path.
    """
    B = max(1, int(n_blocks))
    # CPU-dense from the first projection (centroid argmin, per-pair
    # dots): a narrow scan (single small file, or a broadcast-joined
    # left side keeping the scan's partitioning) would serialize the
    # whole Σ|c|² pairwise stage into 1-2 tasks — widen to cluster
    # parallelism first (no-op on a production-wide scan).
    assigned = widen_narrow_scan(
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    ).withColumn("cluster", assign_nearest("__v", centroids))
    return _dedup_within_groups(
        assigned, threshold, id_col, digits, B, max_cluster_size
    )


def semantic_dedup_labeled(
    df: DataFrame,
    label_col: str,
    threshold: float = 0.999,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    digits: int = 6,
    n_blocks: int = 8,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """:func:`semantic_dedup` for PRE-BLOCKED corpora: the grouping key
    is a given integer label column (topic id, shard, source bucket)
    instead of a nearest-centroid assignment — the label-blocked
    embedding-near-dup shape (`q_embedding_dedup`), which carries the
    SAME all-pairs-within-a-block quadratic the r12 soak measured
    (α=1.45 on `semdedup_panel`).  Everything after assignment —
    including the round-13 ``max_cluster_size`` split (md5-slotted
    seeds → one Lloyd refinement step → md5 hard cap) — is shared
    verbatim with :func:`semantic_dedup`, so a single policy caps both
    legs of the panel.  Output schema and semantics identical:
    (id, cluster = the label, subcluster, is_duplicate, dup_of)."""
    assigned = widen_narrow_scan(
        df.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            F.col(label_col).cast("int").alias("cluster"),
        )
    )
    return _dedup_within_groups(
        assigned,
        threshold,
        id_col,
        digits,
        max(1, int(n_blocks)),
        max_cluster_size,
    )


def _dedup_within_groups(
    assigned: DataFrame,
    threshold: float,
    id_col: str,
    digits: int,
    B: int,
    max_cluster_size: int | None,
) -> DataFrame:
    """Shared tail of :func:`semantic_dedup` / :func:`semantic_dedup_labeled`:
    given (__id, __v, cluster), apply the optional oversized-group
    split, then the triangle-decomposed within-group pairwise dedup.

    Round-14: the capped split is ONE LAZY PLAN — the r13 shape ran
    four sequential bounded driver actions per call (sizes → seeds →
    refit means → group counts), each a measured ~0.2-0.6 s job +
    py4j round-trip at sf0.1, and at any scale a driver barrier that
    serializes the pipeline (guide §1.2: driver work serializes every
    job).  Every driver-collected table is now the SAME aggregate kept
    distributed and attached back as a broadcast-joined frame (sizes →
    ``over``, seed vectors → ``seed_cands``, refit means →
    ``ref_cands``, group counts → ``gc``), so the whole split plans as
    one job with zero collects.  Values are bit-identical stage by
    stage: the per-(cluster, slot) min_by seed rows, the exact
    fixed-point per-(group, pos) means assembled pos-ascending
    (``exact_mean`` emits DOUBLE — the same nearest-double the
    driver-side ``float(Decimal)`` assembly produced), and the ceil'd
    block counts are the identical expressions, only their transport
    changed (broadcast data instead of re-entered literals).  The
    argmin kernel (:func:`_cands_argmin`) is untouched.

    Plan-shape note: with ``max_cluster_size`` set the split stages
    now run even when nothing is oversized (the r13 code branched on
    the collected sizes; lazily there is nothing to branch on) — the
    oversized filter just comes back empty, every row keeps
    ``sub = 0, block = 0``, and the result is row-identical to the
    uncapped plan (asserted in tests/test_semdedup_capped.py).
    """
    M = int(max_cluster_size) if max_cluster_size is not None else None
    if M is not None and M < 2:
        raise ValueError(f"max_cluster_size must be >= 2, got {M}")
    # Materialize the assignment ONCE (LAZY — the consuming job
    # triggers it): `assigned` is referenced by the triangle left +
    # right sides and the final output join (plus the split aggregates
    # on the capped path) — without the checkpoint every reference
    # re-runs the scan + centroid-argmin chain (guide §2.4/§5; the
    # fingerprint-table discipline setsim/phash already follow).
    # Results identical: every stage is deterministic.
    assigned = assigned.localCheckpoint(eager=False)
    if M is not None:
        mb = _md5_bucket_long(F.col("__id"))
        # Seed pick: md5-minimal row per (cluster, slot); the lpad'd id
        # suffix makes the key total so min_by is deterministic on both
        # engines even under (cosmically unlikely) md5 collisions.
        skey = F.concat(
            F.md5(F.col("__id").cast("string")),
            F.lit("|"),
            F.lpad(F.col("__id").cast("string"), 20, "0"),
        )
        # Oversized clusters with their sub-cluster counts — one row
        # per centroid (the same "centroid table is driver-sized"
        # assumption assignment itself makes), broadcastable.  nsub =
        # ceil(n/M) as exact integer arithmetic (`div`), matching the
        # r13 driver-side ``-(-n // M)``.
        over = (
            assigned.groupBy("cluster")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") > M)
            .select(
                "cluster",
                F.expr(f"(__n + {M - 1}) div {M}").alias("__nsub"),
            )
        )
        seeds = (
            assigned.join(F.broadcast(over), "cluster")
            .withColumn("__slot", mb % F.col("__nsub"))
            .groupBy("cluster", "__slot")
            .agg(
                F.min_by(
                    F.transform("__v", lambda x: x.cast("double")), skey
                ).alias("sv")
            )
        )
        # (cluster → sorted [(sidx, vec)…]) candidate arrays, assembled
        # DISTRIBUTED (sort_array orders by sidx — unique per cluster)
        # instead of collected+re-entered; same rows, same order as the
        # r13 _cands_table.
        seed_cands = seeds.groupBy("cluster").agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("__slot").cast("int").alias("sidx"),
                        F.col("sv").alias("vec"),
                    )
                )
            ).alias("__cands")
        )
        # One Lloyd step: assign → exact-fixed-point refit → reassign.
        # The narrow (cluster, __sub, __v) projection still needs a
        # materialization barrier before the refit aggregate (the
        # posexplode below would otherwise re-evaluate the seed-argmin
        # per EXPLODED row — dim × per-row argmin cost under
        # projection collapse); LAZY again, it materializes inside the
        # consuming job.  (A dimension-wise refit — dim separate
        # exact_mean aggregates, no explode, no barrier — was tried
        # and REJECTED in r13: 3.2 s of py4j Column construction +
        # a 2.0 s 64-decimal-agg job at sf0.1 vs ~0.6 s for
        # explode+mean; guide §1.2 feedback step.)
        refit_src = (
            assigned.join(F.broadcast(seed_cands), "cluster")
            .select(
                "cluster",
                F.coalesce(
                    _cands_argmin("__v", "__cands"), F.lit(0)
                ).alias("__sub"),
                "__v",
            )
            .localCheckpoint(eager=False)
        )
        per_dim = (
            refit_src.select(
                "cluster", "__sub", F.posexplode("__v").alias("pos", "v")
            )
            .groupBy("cluster", "__sub", "pos")
            .agg(
                exact_mean(
                    F.sum(scaled_long(F.col("v").cast("double"))),
                    F.count("v"),
                    digits,
                ).alias("c")
            )
        )
        ref_cands = (
            per_dim.groupBy("cluster", "__sub")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "c"))),
                    lambda x: x["c"],
                ).alias("vec")
            )
            .groupBy("cluster")
            .agg(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("__sub").cast("int").alias("sidx"), "vec"
                        )
                    )
                ).alias("__cands")
            )
        )
        # `assigned` is re-referenced three times below (triangle left
        # + right + the final output join) — checkpoint the reassigned
        # frame so the argmin join runs once; LAZY again.
        assigned = (
            assigned.join(F.broadcast(ref_cands), "cluster", "left")
            .select(
                "cluster",
                "__id",
                "__v",
                F.coalesce(_cands_argmin("__v", "__cands"), F.lit(0)).alias(
                    "sub"
                ),
            )
            .localCheckpoint(eager=False)
        )
        # Hard cap: md5-block groups still above M.  Group counts are a
        # small aggregate (≤ n_clusters + Σ n_sub rows) broadcast back;
        # block = md5(id) % blocks(cluster, sub) — the expression (and
        # the ceil'd count) is identical to the r13 literal-map form.
        # Left join: a NULL-cluster row matches no group and keeps one
        # block, so it survives as a non-duplicate like the uncapped path.
        gc = assigned.groupBy("cluster", "sub").agg(
            F.ceil(F.count("*") / F.lit(M)).alias("__blocks")
        )
        assigned = assigned.join(
            F.broadcast(gc), ["cluster", "sub"], "left"
        ).select(
            "cluster",
            "__id",
            "__v",
            "sub",
            (mb % F.coalesce(F.col("__blocks"), F.lit(1))).alias("block"),
        )
    else:
        # Uncapped: constant sub/block — kept OUT of the pair-join
        # keys below so the plan stays identical to the pre-cap
        # operator (only the subcluster projection is new); the output
        # schema is uniform either way.
        assigned = assigned.withColumn("sub", F.lit(0)).withColumn(
            "block", F.lit(0)
        )
    pair_keys = (
        ["cluster", "sub", "block"] if M is not None else ["cluster"]
    )
    # Pairs score with :func:`_cosine` over norms hoisted per row, so
    # each pair costs one array scan (the dot) instead of three.  A
    # zero-norm row never pairs (:func:`_top_k`); it stays in the
    # verdict side below as a non-duplicate.
    base = assigned.select(
        *pair_keys, "__id", "__v", _vec_norm("__v").alias("__n")
    )
    # Round-10: the cell construction lives in the shared
    # scale.triangle_self_pairs helper (this operator's round-2 fix,
    # factored out for every blocked-pairwise site).  Payloads come
    # back oriented to the lesser id; the dot is element-wise
    # commutative and summed in the same array order, so the rounded
    # cosines are bit-identical to the pre-helper operand order.
    dup_links = (
        triangle_self_pairs(
            _drop_zero_norm(base, "__n"), pair_keys, "__id", ["__v", "__n"], B
        )
        .select(
            F.col("id_b").alias("cand_id"),
            F.col("id_a").alias("keep_id"),
            _cosine(digits, "__v_a", "__v_b", "__n_a", "__n_b").alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= F.lit(threshold))
        .groupBy("cand_id")
        .agg(F.min("keep_id").alias("dup_of"))
    )
    # Project the output side down to (id, cluster, sub) BEFORE the
    # join (guide §2.3 "project before the exchange"): the verdict
    # join only decides is_duplicate/dup_of — without the projection
    # the exchange ships every embedding (the whole corpus payload at
    # scale) just to drop it in the select below.
    verdict_src = assigned.select("__id", "cluster", "sub")
    return (
        verdict_src.join(
            dup_links, verdict_src["__id"] == dup_links["cand_id"], "left"
        )
        .select(
            F.col("__id").alias(id_col),
            "cluster",
            F.col("sub").cast("int").alias("subcluster"),
            F.col("dup_of").isNotNull().alias("is_duplicate"),
            "dup_of",
        )
    )


# --- Product quantization (PQ) ----------------------------------------------


def pq_codebooks_from_labels(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    m: int = 8,
    digits: int = 6,
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace PQ codebooks from the corpus labels: split the
    dimension into ``m`` contiguous subvectors; subspace ``s``'s
    codebook is the per-label mean of that slice.  Because the mean of
    a slice IS the slice of the mean, this reuses the exact
    fixed-point :func:`centroids_from_labels` fit verbatim and just
    slices driver-side — one aggregate pass total, deterministic, so
    the codebooks can re-enter plans as literals.
    """
    cents = sorted(
        (r["cluster"], list(r["centroid"]))
        for r in centroids_from_labels(df, label_col, vec_col, digits).collect()
    )
    dim = len(cents[0][1])
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    sub = dim // m
    return [
        [(code, vec[s * sub : (s + 1) * sub]) for code, vec in cents]
        for s in range(m)
    ]


def _bind_doubles(v: str, body: str) -> str:
    """SQL text of ``body`` with lambda variable ``vd`` bound to column
    ``v`` cast to ``array<double>`` once per row (textops' ``_bind``
    idiom), not once per centroid lambda that names the cast."""
    return (
        f"transform(array(transform({v}, x -> cast(x as double))), "
        f"vd -> {body})[0]"
    )


def pq_encode(
    vec: str,
    codebooks: list[list[tuple[int, list[float]]]],
    digits: int = 9,
) -> Column:
    """PQ code assignment as a pure projection: per subspace, the
    nearest sub-centroid (rounded L2, code-id tie-break) — m small
    argmins over literal tables, no shuffle, no UDF.  A 64-dim float
    vector becomes m=8 small ints: the 4-32x compression that makes
    billion-scale ANN candidate scans memory-resident."""
    sub = len(codebooks[0][0][1])
    dim = sub * len(codebooks)
    v = _sql_ident(vec)
    codes = ", ".join(
        "array_min({d}).cluster".format(
            d=_centroid_dists_sql(f"slice(vd, {s * sub + 1}, {sub})", cb, digits)
        )
        for s, cb in enumerate(codebooks)
    )
    return F.expr(
        f"CASE WHEN size({v}) = {dim} THEN {_bind_doubles(v, f'array({codes})')} "
        f"ELSE raise_error(format_string("
        f"'pq_encode: embedding length %s != codebook dim {dim}', "
        f"size({v}))) END"
    )


def pq_decode(
    codes: Column, codebooks: list[list[tuple[int, list[float]]]]
) -> Column:
    """Reconstruct the PQ approximation: concatenation of each
    subspace's coded centroid (literal-table lookups — no join)."""
    parts = []
    for s, cb in enumerate(codebooks):
        ctab = _literal_vec_table(cb, "code")
        code_s = F.element_at(codes, s + 1)
        # NOTE: the lambda must stay ONE-argument from PySpark's view —
        # adding a second parameter (e.g. a default-arg capture) flips
        # F.filter into its (element, index) form and silently compares
        # against the array index.  Plain closure is safe: F.filter
        # consumes the lambda eagerly within this loop iteration.
        parts.append(
            F.element_at(F.filter(ctab, lambda c: c["code"] == code_s), 1)[
                "vec"
            ]
        )
    return F.concat(*parts)


def _adc_tables(
    qv: str,
    codebooks: list[list[tuple[int, list[float]]]],
    digits: int = 9,
) -> Column:
    """Per-QUERY ADC distance tables — the classic PQ search layout:
    for each subspace s and each code c, the rounded L2 between the
    query's subvector and that code's sub-centroid, packed as an array
    of ``map<code, d2>``.  Built once per query row (m × n_codes
    entries); candidate scoring then needs only m map lookups per pair
    instead of m × sub multiplications — the per-pair work drops from
    O(dim) to O(m), and the pair-side codegen tree shrinks with it.

    Each entry is ``round(Σ (q_i − c_i)², 9)`` with the identical
    fold order the decoded-vector form used, so pair distances are
    BIT-IDENTICAL to scoring against decoded sub-centroids — the
    shortlist, the oracle SQL, and every tie-break are unchanged."""
    sub = len(codebooks[0][0][1])
    tabs = []
    for s, cb in enumerate(codebooks):
        ctab = _literal_vec_table_sql(cb, "code")
        entries = (
            f"transform({ctab}, c -> named_struct("
            f"'key', c.code, "
            f"'value', round(aggregate(zip_with("
            f"slice(vd, {s * sub + 1}, {sub}), c.vec, "
            f"(a, b) -> (a - b) * (a - b)), "
            f"0.0D, (acc, x) -> acc + x), {int(digits)})))"
        )
        tabs.append(f"map_from_entries({entries})")
    return F.expr(_bind_doubles(_sql_ident(qv), f"array({', '.join(tabs)})"))


def _adc_lookup(tabs: Column, codes: Column, m: int) -> Column:
    """ADC pair distance from the query's tables and the candidate's
    codes, as an EXACT 10^9-scaled integer: each table entry is the
    nearest double of a 9-digit decimal (``_adc_tables`` rounds at 9),
    so ``round(entry * 1e9)`` recovers its scaled integer unambiguously
    on every engine, and the m lookups sum as LONGs.

    Why integers (round-9 boundary-audit finding): the double sum of m
    9-digit entries is an exact 9-digit decimal, which lands ON the
    ``round(·, 6)`` half-boundary for ~1/1000 pairs — re-rounding the
    sum at 6 made shortlist membership engine-dependent (Spark
    BigDecimal HALF_UP vs DuckDB float rounding of a value 1e-16 from
    the boundary).  The exact integer sum has no boundary to sit on;
    ordering by it is bit-identical everywhere.  The oracle mirrors
    with ``list_sum`` of ``CAST(round(d2 * 1e9) AS BIGINT)``."""
    adist = None
    for s in range(m):
        d2 = F.element_at(
            F.element_at(tabs, s + 1), F.element_at(codes, s + 1)
        )
        d2s = F.round(d2 * F.lit(1e9)).cast("long")
        adist = d2s if adist is None else adist + d2s
    return adist


def pq_encode_candidates(
    candidates: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    centroids: list[tuple[int, list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The candidate-side encode frame shared by :func:`pq_adc_topk`
    and :func:`ivfpq_topk` (columns ``neighbor_id, cv, cn, codes`` and,
    when ``centroids`` is given, the IVF ``part``): pq_encode +
    norm over the full corpus is the single most expensive stage of
    both searches, and a panel running flat ADC *and* IVF-PQ legs over
    the same corpus recomputes it identically — build it ONCE here,
    ``localCheckpoint()``, and pass to both via their ``encoded=``
    parameter (bench: the adc_ann panel drops toward
    max(component) instead of Σ components).  Results are
    bit-identical to the inline path: this is the same expression
    tree, only materialized."""
    cols = [
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _vec_norm(vec_col).alias("cn"),
        pq_encode(vec_col, codebooks).alias("codes"),
    ]
    if centroids is not None:
        cols.insert(1, assign_nearest(vec_col, centroids).alias("part"))
    return widen_narrow_scan(candidates).select(*cols)


def _adc_queries(
    queries: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str,
    vec_col: str,
    probes: Column | None = None,
) -> DataFrame:
    """The query side of an ADC search: ``query_id``, the exploded IVF
    ``part`` when ``probes`` (an :func:`assign_nearest_multi` list) is
    given, ``qv``, its norm ``qn`` and the per-query ADC ``tabs`` —
    zero-norm queries dropped (:func:`_top_k`)."""
    cols = [
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _vec_norm(vec_col).alias("qn"),
        _adc_tables(vec_col, codebooks).alias("tabs"),
    ]
    if probes is not None:
        cols.insert(1, F.explode(probes).alias("part"))
    return _drop_zero_norm(queries.select(*cols), "qn")


def _adc_rerank(
    pairs: DataFrame, m: int, shortlist: int, k: int, digits: int
) -> DataFrame:
    """The ADC shortlist → exact-rerank tail of :func:`pq_adc_topk`,
    :func:`ivfpq_topk` and ``ann_index.ivfpq_topk_indexed``: ``pairs``
    (an :func:`_adc_queries` side joined to zero-norm-free candidates
    ``neighbor_id, cv, cn, codes``) are ADC-scored as an exact
    1e9-scaled LONG (:func:`_adc_lookup` — no re-round, no boundary),
    the ``shortlist`` nearest per query survive, and those re-rank by
    exact cosine to the top ``k``."""
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        "qv",
        "cv",
        "qn",
        "cn",
        _adc_lookup(F.col("tabs"), F.col("codes"), m).alias("approx_dist"),
    )
    top = _top_k(scored, shortlist, "approx_dist", ascending=True, rank="arnk")
    exact = top.select(
        "query_id", "neighbor_id", _cosine(digits).alias("cos_sim")
    )
    return _top_k(exact, k)


def pq_adc_topk(
    queries: DataFrame,
    candidates: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    k: int = 5,
    shortlist: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    digits: int = 6,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """PQ ANN with asymmetric distance computation: candidates are
    scored from their CODES, queries stay full precision — stage 1
    ranks by per-query ADC lookup tables (:func:`_adc_tables`: each
    pair costs m map lookups, not m × sub multiplications), stage 2
    re-ranks the shortlist with exact cosine.  The compress-then-
    rerank recipe at PQ compression instead of int8
    (:func:`quantized_rerank_topk`).

    Determinism: table entries round at 9 with the identical fold the
    decoded-vector form used, and the sum is a FIXED-ORDER chain
    (s = 0..m-1 — the oracle mirrors the same order via an ordered
    list_sum) — results are bit-identical to decode-and-score.
    """
    # pq_encode + ADC scoring are CPU-dense and run at the candidate
    # scan's parallelism (the query side broadcasts) — widen a narrow
    # scan or the whole scoring stage serializes into one task.
    # ``encoded`` (pq_encode_candidates) skips the encode entirely —
    # the panel path that shares one materialized frame across legs.
    enc = (
        encoded.select("neighbor_id", "cv", "cn", "codes")
        if encoded is not None
        else pq_encode_candidates(
            candidates, codebooks, id_col=id_col, vec_col=vec_col
        )
    )
    q = _adc_queries(queries, codebooks, id_col, vec_col)
    pairs = _drop_zero_norm(enc, "cn").join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    )
    return _adc_rerank(pairs, len(codebooks), shortlist, k, digits)


def ivfpq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    nprobe: int = 2,
    k: int = 5,
    shortlist: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    digits: int = 6,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: the composition that makes PQ scale — candidates are
    bucketed by nearest IVF centroid (:func:`assign_nearest`) AND
    PQ-encoded (:func:`pq_encode`); each query probes its ``nprobe``
    nearest clusters (:func:`assign_nearest_multi`) and ADC-scores
    ONLY the candidates in probed clusters via per-query lookup
    tables (:func:`_adc_tables`), then exact-cosine reranks the
    shortlist.

    Scale contrast with :func:`pq_adc_topk`: plain ADC scans the FULL
    corpus per query batch (fine for a one-shot small query set, a
    full corpus scan per batch at 100 TB); here the probe join prunes
    the scored pairs to nprobe/n_clusters of the corpus, the same
    pruning :func:`partitioned_topk` applies to exact search — IVF
    recall, PQ arithmetic, exact final ordering.  Candidates keep
    their single nearest cluster, so probing p clusters never
    duplicates a (query, candidate) pair.

    Determinism: probe lists, codes, per-subspace rounding, fixed-
    order ADC sums and the ranking are all inherited from the
    composed parts — bit-identical under any partitioning.
    """
    # Same widening rationale as pq_adc_topk: centroid assignment +
    # pq_encode + ADC all run at the candidate scan's parallelism.
    # ``encoded`` must carry the IVF ``part`` column
    # (pq_encode_candidates with centroids).
    if encoded is not None:
        if "part" not in encoded.columns:
            raise ValueError(
                "ivfpq_topk(encoded=...) needs the IVF 'part' column — "
                "build the frame with pq_encode_candidates(..., centroids)"
            )
        enc = encoded.select("neighbor_id", "part", "cv", "cn", "codes")
    else:
        enc = pq_encode_candidates(
            candidates, codebooks, centroids, id_col=id_col, vec_col=vec_col
        )
    probes = assign_nearest_multi(vec_col, centroids, nprobe)
    q = _adc_queries(queries, codebooks, id_col, vec_col, probes)
    pairs = (
        _drop_zero_norm(enc, "cn")
        .join(F.broadcast(q), "part")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    return _adc_rerank(pairs, len(codebooks), shortlist, k, digits)


def embedding_stats(
    df: DataFrame, vec_col: str = "embedding", digits: int = 6
) -> DataFrame:
    """Per-dimension corpus statistics of an embedding column (exact
    fixed-point mean, min, max, NULL/NaN count) — the embedding-drift /
    QA profile: compare two snapshots' outputs to spot a dimension
    collapse or a normalization change upstream.

    Same shape as the centroid fit: one posexplode into a map-side
    combined aggregate keyed by dimension — one shuffle of (pos,
    partial) rows, never raw vectors.
    """
    expl = df.select(F.posexplode(F.col(vec_col)).alias("pos", "v")).select(
        "pos", F.col("v").cast("double").alias("v")
    )
    return (
        expl.groupBy("pos")
        .agg(
            F.count("v").alias("n"),
            exact_mean(
                F.sum(scaled_long(F.col("v"))), F.count("v"), digits
            ).alias("mean"),
            F.round(F.min("v"), digits).alias("min"),
            F.round(F.max("v"), digits).alias("max"),
        )
        .orderBy("pos")
    )


def random_projection(
    df: DataFrame,
    out_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    in_dim: int = 64,
    digits: int = 6,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with the same
    deterministic ±1 hyperplanes as LSH (:func:`hyperplane_signs`) —
    projected[i] = <v, h_i> / sqrt(out_dim), as plan-time literals: a
    shuffle-free projection that cuts vector width before clustering /
    pairwise stages (the standard pre-ANN compaction).

    Components are rounded once so the output is engine-portable; a
    vector of the wrong length raises (the :func:`lsh_bucket` rule).
    """
    planes = hyperplane_signs(out_dim, in_dim)
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    comps = []
    for plane in planes:
        ptab = F.array(*[F.lit(float(x)) for x in plane])
        comps.append(
            F.round(
                F.aggregate(
                    F.zip_with(vd, ptab, lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / F.lit(float(out_dim) ** 0.5),
                digits,
            )
        )
    out = F.array(*comps)
    projected = F.when(F.size(F.col(vec_col)) == F.lit(in_dim), out).otherwise(
        F.raise_error(
            F.format_string(
                "random_projection: embedding length %s != " + str(in_dim),
                F.size(F.col(vec_col)),
            )
        )
    )
    return df.select(F.col(id_col), projected.alias("projected"))


def maxsim_rerank(
    query_tokens: DataFrame,
    corpus_tokens: DataFrame,
    k: int = 3,
    digits: int = 6,
    score_digits: int = 4,
) -> DataFrame:
    """Multi-vector late-interaction scoring (ColBERT-style MaxSim,
    Khattab & Zaharia 2020): score(q, d) = sum over q's token vectors
    of the max cosine against d's token vectors; return each query
    document's top-k corpus documents.

    Inputs are token tables: ``query_tokens`` (q_doc, q_tok, qv) and
    ``corpus_tokens`` (d_doc, dv) — one row per token vector.  The
    query side is the bounded rerank set (an ANN candidate stage feeds
    it at scale) and is BROADCAST; the corpus token table streams
    through without shuffling raw vectors — the only shuffles carry
    (q_doc, q_tok, d_doc, cos) and the per-pair partial maxes, both
    map-side combined.

    Determinism: cosines quantize to ``digits`` before the max, the
    per-document sum runs over DECIMAL(18,6) (exact, order-free), and
    ranks tie-break on d_doc.
    """
    # Norms hoisted to one computation per TOKEN (not per pair — the
    # pair count is |q| x |corpus|, the token count is |q| + |corpus|);
    # zero-norm tokens are never scored (:func:`_top_k`).
    # The corpus side carries the |q|x per-token cosine work of the
    # broadcast crossJoin — widen a narrow (single-file) scan or that
    # stage runs single-task (r13 optimization round, guide §2.6;
    # no-op on a wide scan).
    q = query_tokens.select(
        "q_doc", "q_tok", F.col("qv"), _vec_norm("qv").alias("qn")
    )
    d = widen_narrow_scan(corpus_tokens).select(
        "d_doc", F.col("dv"), _vec_norm("dv").alias("dn")
    )
    pairs = (
        _drop_zero_norm(d, "dn")
        .crossJoin(F.broadcast(_drop_zero_norm(q, "qn")))
        .select(
            "q_doc", "q_tok", "d_doc",
            _cosine(digits, b="dv", bn="dn").alias("c"),
        )
    )
    best = pairs.groupBy("q_doc", "q_tok", "d_doc").agg(F.max("c").alias("b"))
    scored = best.groupBy("q_doc", "d_doc").agg(
        F.round(
            F.sum(F.col("b").cast("decimal(18,6)")).cast("double"), score_digits
        ).alias("maxsim")
    )
    w = Window.partitionBy("q_doc").orderBy(F.desc("maxsim"), F.asc("d_doc"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_doc", "d_doc", "maxsim", "rnk")
    )


def hard_negative_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    label_col: str = "label",
    max_sim: float = 0.999,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    digits: int = 6,
) -> DataFrame:
    """Hard-negative mining for contrastive/reranker training: per
    query, the k MOST similar candidates that are nevertheless
    negatives — a different ``label_col`` (class/cluster/source) AND
    cosine below ``max_sim`` (near-identical vectors are presumed
    unlabeled positives, the standard false-negative guard).

    Same plan shape as :func:`brute_force_topk` (queries broadcast
    with their labels, :func:`_cosine`, :func:`_top_k`) with the
    negativity predicate fused into the pair filter — so the
    exact-scoring scan stays a single broadcast-join stage.  For corpus-scale mining swap the candidate
    side for the IVF/LSH-pruned variants; semantics stay identical
    above the shortlist.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("qlabel"),
        F.col(vec_col).alias("qv"),
        _vec_norm(vec_col).alias("qn"),
    )
    c = widen_narrow_scan(candidates).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("clabel"),
        F.col(vec_col).alias("cv"),
        _vec_norm(vec_col).alias("cn"),
    )
    scored = (
        _drop_zero_norm(c, "cn")
        .crossJoin(F.broadcast(_drop_zero_norm(q, "qn")))
        .filter(
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("clabel") != F.col("qlabel"))
        )
        .select("query_id", "neighbor_id", _cosine(digits).alias("cos_sim"))
        .filter(F.col("cos_sim") < max_sim)
    )
    return _top_k(scored, k).select("query_id", "neighbor_id", "cos_sim", "rnk")


def mmr_rerank(
    queries: DataFrame,
    candidates: DataFrame,
    k_candidates: int = 20,
    k_select: int = 5,
    lam_num: int = 7,
    lam_den: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    digits: int = 6,
) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998):
    from each query's exact top-``k_candidates``, greedily select
    ``k_select`` results trading relevance against redundancy —
    argmax of ``lam·rel − (1−lam)·max_sim_to_selected`` per step.
    The diversity-aware final stage of a retrieval stack (after
    BM25/ANN/RRF/MaxSim, which all optimize pure relevance).

    Engine-portable determinism: relevance and pairwise similarities
    quantize to 10^digits integers (HALF-UP), the objective is the
    all-integer ``lam_num·rel_q − (lam_den−lam_num)·pen_q`` with
    candidate id as the final tie-break — a total order the unrolled
    SQL oracle replays exactly.

    Scale shape: candidate generation is the existing broadcast top-k;
    pairwise sims are per-query k² pairs (k=20 → 380 rows/query),
    scored by the same :func:`_cosine` as relevance — the
    Python kernel only runs the k_select-step greedy over those
    integers (bounded per-query work, no floats cross the boundary).
    Output ``(query_id, neighbor_id, mmr_rank)``.
    """
    import pandas as pd

    scale = 10**digits
    topk = brute_force_topk(
        queries, candidates, k_candidates, id_col, vec_col, digits
    )
    rel = topk.select(
        "query_id",
        "neighbor_id",
        F.round(F.col("cos_sim") * scale).cast("long").alias("rel_q"),
    )
    emb = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _vec_norm(vec_col).alias("cn"),
    )
    # Only `topk` neighbors join: zero-norm vectors are already gone.
    a = rel.join(emb, "neighbor_id").select(
        "query_id",
        F.col("neighbor_id").alias("id_a"),
        F.col("rel_q").alias("rel_a"),
        F.col("cv").alias("va"),
        F.col("cn").alias("na"),
    )
    b = rel.join(emb, "neighbor_id").select(
        "query_id",
        F.col("neighbor_id").alias("id_b"),
        F.col("cv").alias("vb"),
        F.col("cn").alias("nb"),
    )
    sim = _cosine(digits, "va", "vb", "na", "nb")
    pairs = (
        a.join(b, "query_id")
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            "query_id",
            "id_a",
            "rel_a",
            "id_b",
            F.round(sim * scale).cast("long").alias("sim_q"),
        )
    )
    # rel-only rows keep single-candidate queries alive in the kernel
    solo = a.select(
        "query_id", "id_a", "rel_a",
        F.lit(None).cast("long").alias("id_b"),
        F.lit(None).cast("long").alias("sim_q"),
    )
    src = pairs.unionByName(solo)
    pen_w = lam_den - lam_num

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        rels: dict[int, int] = {}
        sims: dict[tuple[int, int], int] = {}
        qid = pdf["query_id"].iloc[0]
        for r in pdf.itertuples(index=False):
            rels[int(r.id_a)] = int(r.rel_a)
            if r.id_b is not None and not pd.isna(r.id_b):
                sims[(int(r.id_a), int(r.id_b))] = int(r.sim_q)
        selected: list[int] = []
        remaining = set(rels)
        out = []
        while remaining and len(selected) < k_select:
            best_key, best_id = None, None
            for c in remaining:
                pen = max(
                    (sims.get((c, s), 0) for s in selected), default=0
                )
                obj = lam_num * rels[c] - pen_w * pen
                key = (obj, -c)  # obj desc, id asc
                if best_key is None or key > best_key:
                    best_key, best_id = key, c
            selected.append(best_id)
            remaining.discard(best_id)
            out.append((qid, best_id, len(selected)))
        return pd.DataFrame(
            out, columns=["query_id", "neighbor_id", "mmr_rank"]
        )

    return src.groupBy("query_id").applyInPandas(
        greedy, "query_id long, neighbor_id long, mmr_rank int"
    )
