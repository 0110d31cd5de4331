"""Vector-similarity kernels: argmin assignment, IVF/PQ/ADC search,
quantization, reranking and their guards."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_lsh_bucket_dim_mismatch_raises(spark):
    """A vector shorter than the plane dimension must fail loudly —
    zip_with null-padding used to collapse every vector into bucket 0,
    silently degrading the bucketed join into a full cross join."""
    import pytest
    from pyspark.sql import functions as F

    from sparkgraft.operators.similarity import hyperplane_signs, lsh_bucket

    planes = hyperplane_signs(4, 8)
    bad = spark.createDataFrame([([1.0] * 6,)], "v array<double>")
    with pytest.raises(Exception, match="lsh_bucket|USER_RAISED"):
        bad.select(lsh_bucket(F.col("v"), planes)).collect()
    ok = spark.createDataFrame([([1.0] * 8,)], "v array<double>")
    got = ok.select(lsh_bucket(F.col("v"), planes).alias("b")).collect()
    assert got[0]["b"] is not None


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def test_multiprobe_recall_beats_single_probe(spark):
    """hamming_radius=1 must recover recall lost at bucket boundaries:
    per-query recall vs the exact brute-force top-k is >= single-probe
    recall, and materially above it overall on the test corpus."""
    from sparkgraft.operators.similarity import brute_force_topk, lsh_bucketed_topk
    from sparkgraft.sources.readers import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter("vec_id < 30")
    exact = _topk_sets(brute_force_topk(q, emb, k=5))
    single = _topk_sets(lsh_bucketed_topk(q, emb, k=5, hamming_radius=0))
    multi = _topk_sets(lsh_bucketed_topk(q, emb, k=5, hamming_radius=1))

    def recall(approx):
        hits = sum(len(approx.get(k, set()) & v) for k, v in exact.items())
        return hits / sum(len(v) for v in exact.values())

    r1, r0 = recall(multi), recall(single)
    assert r1 >= r0
    # The synthetic embeddings are near-orthogonal (random 64-dim), so
    # absolute recall is inherently modest at 6 planes; the property
    # under test is the multiprobe *gain* (observed: ~0.26 vs ~0.05).
    assert r1 >= 2 * r0, (r0, r1)
    assert r1 >= 0.15, (r0, r1)
    # multiprobe probes n_planes+1 of 2^n_planes buckets — still pruned
    assert all(len(v) <= 5 for v in multi.values())

    # radius 2 widens the probe ring: recall keeps rising monotonically
    multi2 = _topk_sets(lsh_bucketed_topk(q, emb, k=5, hamming_radius=2))
    r2 = recall(multi2)
    assert r2 >= r1, (r1, r2)
    # a probe budget of 7 truncates radius 2 back to the radius-1 ring
    # (masks ordered by flip count): identical results by construction
    budget = _topk_sets(
        lsh_bucketed_topk(q, emb, k=5, hamming_radius=2, max_probes=7)
    )
    assert budget == multi


def test_assign_nearest_matches_numpy_argmin(spark):
    """The literal-argmin projection must agree with a numpy argmin over
    the same (exact fixed-point) centroid table."""
    import numpy as np
    from pyspark.sql import functions as F

    from sparkgraft.operators.similarity import assign_nearest, centroids_from_labels
    from sparkgraft.sources.readers import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = sorted(
        (r["cluster"], list(r["centroid"]))
        for r in centroids_from_labels(emb, "label", "embedding").collect()
    )
    got = {
        r["vec_id"]: r["cluster"]
        for r in emb.withColumn(
            "cluster", assign_nearest("embedding", cents)
        ).collect()
    }
    cmat = np.array([c for _, c in cents])
    cids = np.array([i for i, _ in cents])
    for r in emb.collect():
        v = np.array(r["embedding"], dtype="float64")
        d2 = np.round(((cmat - v) ** 2).sum(axis=1), 9)
        best = cids[np.lexsort((cids, d2))[0]]
        assert got[r["vec_id"]] == best, r["vec_id"]


def test_assign_nearest_dim_mismatch_raises(spark):
    """Every name-only kernel's SQL-text dimension guard raises on a
    short vector instead of mis-assigning via zip_with null-padding."""
    import pytest

    from sparkgraft.operators.similarity import (
        assign_nearest,
        assign_nearest_multi,
        pq_encode,
    )

    cents = [(0, [0.0] * 8), (1, [1.0] * 8)]
    cbs = [[(c, v[s * 4 : (s + 1) * 4]) for c, v in cents] for s in range(2)]
    bad = spark.createDataFrame([([1.0] * 5,)], "v array<double>")
    for name, kernel in [
        ("assign_nearest", assign_nearest("v", cents)),
        ("assign_nearest_multi", assign_nearest_multi("v", cents, 2)),
        ("pq_encode", pq_encode("v", cbs)),
    ]:
        with pytest.raises(Exception, match=f"{name}: embedding length 5 "):
            bad.select(kernel).collect()


def test_name_only_kernel_rejects_column(spark):
    """The vector kernels take column names: a Column is a TypeError
    when the kernel is built, not an unresolved column at run time."""
    import pytest

    from sparkgraft.operators.similarity import assign_nearest

    cents = [(0, [0.0] * 8), (1, [1.0] * 8)]
    with pytest.raises(TypeError, match="got Column"):
        assign_nearest(F.col("embedding"), cents)


def test_ivf_nprobe2_recall_beats_nprobe1(spark):
    """Probing the 2 nearest clusters must recover recall lost at
    cluster boundaries, never lose any."""
    from pyspark.sql import functions as F

    from sparkgraft.operators.similarity import (
        assign_nearest,
        assign_nearest_multi,
        brute_force_topk,
        centroids_from_labels,
        partitioned_topk,
    )
    from sparkgraft.sources.readers import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = sorted(
        (r["cluster"], list(r["centroid"]))
        for r in centroids_from_labels(emb, "label", "embedding").collect()
    )
    assigned = emb.withColumn(
        "cluster", assign_nearest("embedding", cents)
    )
    q = emb.filter("vec_id < 30")
    exact = _topk_sets(brute_force_topk(q, emb, k=5))

    def ivf(nprobe):
        probing = q.withColumn(
            "cluster",
            F.explode(assign_nearest_multi("embedding", cents, nprobe)),
        )
        return _topk_sets(partitioned_topk(probing, assigned, k=5, partition_col="cluster"))

    def recall(approx):
        hits = sum(len(approx.get(k, set()) & v) for k, v in exact.items())
        return hits / sum(len(v) for v in exact.values())

    r1, r2 = recall(ivf(1)), recall(ivf(2))
    assert r2 >= r1, (r1, r2)
    # nprobe=1 list is a strict prefix of the nprobe=2 probe set, so
    # every nprobe=1 candidate is still scored.
    assert r2 > 0, (r1, r2)


def test_kmeans_iterate_monotone_and_deterministic(spark):
    """Lloyd iterations must not increase inertia, and the trajectory
    must be bit-identical across runs (exact fixed-point centroids,
    tie-broken assignment)."""
    import numpy as np

    from sparkgraft.operators.similarity import (
        centroids_from_labels,
        kmeans_iterate,
    )
    from sparkgraft.sources.readers import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    seed = sorted(
        (r["cluster"], list(r["centroid"]))
        for r in centroids_from_labels(emb, "label", "embedding").collect()
    )
    data = np.array([r["embedding"] for r in emb.collect()], dtype="float64")

    def inertia(cents):
        cmat = np.array([c for _, c in cents])
        d2 = ((data[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
        return d2.min(axis=1).sum()

    c1 = kmeans_iterate(emb, seed, iters=1)
    c2 = kmeans_iterate(emb, c1, iters=1)
    assert inertia(c1) <= inertia(seed) + 1e-6
    assert inertia(c2) <= inertia(c1) + 1e-6
    # Determinism: same seed, same result.
    again = kmeans_iterate(emb, seed, iters=1)
    assert again == c1


def test_quantization_roundtrip_error_bound(spark):
    from pyspark.sql import functions as F

    from sparkgraft.operators import similarity as SIM
    from sparkgraft.sources.readers import read_table
    from tests.conftest import SF_DIR

    emb = read_table(spark, SF_DIR, "embeddings")
    stats = SIM.quantization_stats(emb)
    quant = SIM.quantize_embeddings(emb, stats)
    errs = SIM.dequantize_error(quant, stats)
    # max reconstruction error <= half a quantization step of the
    # widest dimension
    srow = stats.collect()[0]
    max_step = max(
        (mx - mn) / 255.0 for mn, mx in zip(srow["mns"], srow["mxs"])
    )
    worst = errs.agg(F.max("max_abs_err")).collect()[0][0]
    assert worst <= max_step / 2 + 1e-9, (worst, max_step)
    # codes stay in [0, 255]
    rng = quant.select(
        F.array_min("codes").alias("lo"), F.array_max("codes").alias("hi")
    ).agg(F.min("lo").alias("lo"), F.max("hi").alias("hi")).collect()[0]
    assert rng["lo"] >= 0 and rng["hi"] <= 255


def test_quantize_constant_dimension_is_zero(spark):
    from sparkgraft.operators import similarity as SIM

    df = spark.createDataFrame(
        [(1, [1.0, 5.0]), (2, [1.0, 7.0])], "vec_id long, embedding array<float>"
    )
    stats = SIM.quantization_stats(df)
    rows = {r["vec_id"]: r["codes"] for r in SIM.quantize_embeddings(df, stats).collect()}
    assert rows[1][0] == 0 and rows[2][0] == 0  # constant dim -> 0
    assert rows[1][1] == 0 and rows[2][1] == 255  # full range maps 0..255


def test_rerank_matches_brute_force_closely(spark):
    """The int8 shortlist (m=20) + exact rerank must recover nearly the
    exact top-5: quantization distortion is bounded by half a step per
    dim, so the true top-5 lands inside the top-20 shortlist for almost
    every query."""
    from pyspark.sql import functions as F

    from sparkgraft.operators import similarity as SIM
    from sparkgraft.sources.readers import read_table
    from tests.conftest import SF_DIR

    emb = read_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    stats = SIM.quantization_stats(emb)
    exact = _topk_sets(SIM.brute_force_topk(q, emb, k=5))
    rerank = _topk_sets(
        SIM.quantized_rerank_topk(q, emb, stats, k=5, m=20)
    )
    hits = sum(len(rerank.get(k, set()) & v) for k, v in exact.items())
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.9, (hits, total)


def _emb(spark):
    from sparkgraft.sources.readers import read_table

    return read_table(spark, "/root/testdata/sf0.001", "embeddings")


def test_pq_codebooks_are_slices_of_centroids(spark):
    from sparkgraft.operators import similarity as SIM

    embeddings_df = _emb(spark)
    cents = sorted(
        (r["cluster"], list(r["centroid"]))
        for r in SIM.centroids_from_labels(
            embeddings_df, "label", "embedding"
        ).collect()
    )
    cbs = SIM.pq_codebooks_from_labels(embeddings_df, m=8)
    sub = len(cents[0][1]) // 8
    for s in range(8):
        for (code, cvec), (code2, full) in zip(cbs[s], cents):
            assert code == code2
            assert cvec == full[s * sub : (s + 1) * sub]


def test_pq_decode_reduces_distance_vs_random_code(spark):
    # The decoded PQ approximation must be closer to the original than
    # a deliberately wrong code assignment (sanity of encode argmin).
    from pyspark.sql import functions as F

    from sparkgraft.operators import similarity as SIM

    embeddings_df = _emb(spark)
    cbs = SIM.pq_codebooks_from_labels(embeddings_df, m=8)
    enc = embeddings_df.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        SIM.pq_decode(
            SIM.pq_encode("embedding", cbs), cbs
        ).alias("dec"),
    )
    err = enc.select(
        F.aggregate(
            F.zip_with(F.col("e"), F.col("dec"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("se")
    ).agg(F.avg("se")).collect()[0][0]
    norm = enc.select(
        F.aggregate(
            F.col("e"), F.lit(0.0), lambda acc, x: acc + x * x
        ).alias("n2")
    ).agg(F.avg("n2")).collect()[0][0]
    assert err < norm  # reconstruction beats the zero vector


def test_pq_kernels_cast_the_input_vector_once(spark):
    """pq_encode and _adc_tables bind the array<double> cast of the
    input vector once per row instead of naming it inside every
    per-centroid lambda (m * k casts per row); the bound form encodes
    the same codes as scoring each subvector directly."""
    from sparkgraft.operators import similarity as SIM

    m, k, sub = 4, 3, 2
    cbs = [
        [(c, [float(c + s) * 0.5, float(c - s) * 0.25]) for c in range(k)]
        for s in range(m)
    ]
    for kernel in (SIM.pq_encode, SIM._adc_tables):
        assert str(kernel("embedding", cbs)).count("transform(`embedding`") == 1
    rows = [
        (i, [float((i * 7 + d) % 5) - 2.0 for d in range(m * sub)])
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    enc = df.select("vec_id", SIM.pq_encode("embedding", cbs).alias("codes"))
    got = {r["vec_id"]: list(r["codes"]) for r in enc.collect()}
    for i, v in rows:
        want = [
            min(
                (round(sum((v[s * sub + j] - cv[j]) ** 2 for j in range(sub)), 9), c)
                for c, cv in cbs[s]
            )[1]
            for s in range(m)
        ]
        assert got[i] == want


def test_pq_adc_recall_vs_brute_force(spark):
    from pyspark.sql import functions as F

    from sparkgraft.operators import similarity as SIM

    embeddings_df = _emb(spark)
    cbs = SIM.pq_codebooks_from_labels(embeddings_df, m=8)
    qs = embeddings_df.filter(F.col("vec_id") < 10)
    exact = SIM.brute_force_topk(qs, embeddings_df, k=5)
    approx = SIM.pq_adc_topk(qs, embeddings_df, cbs, k=5, shortlist=20)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.3  # coarse codes, small shortlist: well above chance


def test_ivfpq_full_probe_equals_plain_adc(spark):
    """With nprobe = n_clusters the IVF pruning admits every candidate,
    so IVF-PQ must reproduce plain ADC top-k exactly — proving the
    probe join changes WHICH pairs are scored, never how."""
    from pyspark.sql import functions as F

    from sparkgraft.operators import similarity as SIM

    embeddings_df = _emb(spark)
    cents = sorted(
        (r["cluster"], list(r["centroid"]))
        for r in SIM.centroids_from_labels(
            embeddings_df, "label", "embedding", digits=6
        ).collect()
    )
    sub = len(cents[0][1]) // 8
    cbs = [
        [(c, v[s * sub : (s + 1) * sub]) for c, v in cents] for s in range(8)
    ]
    qs = embeddings_df.filter(F.col("vec_id") < 5)
    plain = SIM.pq_adc_topk(qs, embeddings_df, cbs, k=5, shortlist=20)
    full = SIM.ivfpq_topk(
        qs, embeddings_df, cents, cbs, nprobe=len(cents), k=5, shortlist=20
    )
    p = sorted(tuple(r) for r in plain.collect())
    f = sorted(tuple(r) for r in full.collect())
    assert p == f


def test_ivfpq_prunes_to_probed_clusters(spark):
    """At nprobe=1 every returned neighbor must sit in the query's
    nearest cluster — the pruning is real, not just a filter on the
    output."""
    from pyspark.sql import functions as F

    from sparkgraft.operators import similarity as SIM

    embeddings_df = _emb(spark)
    cents = sorted(
        (r["cluster"], list(r["centroid"]))
        for r in SIM.centroids_from_labels(
            embeddings_df, "label", "embedding", digits=6
        ).collect()
    )
    sub = len(cents[0][1]) // 8
    cbs = [
        [(c, v[s * sub : (s + 1) * sub]) for c, v in cents] for s in range(8)
    ]
    qs = embeddings_df.filter(F.col("vec_id") < 5)
    out = SIM.ivfpq_topk(
        qs, embeddings_df, cents, cbs, nprobe=1, k=5, shortlist=20
    )
    assigned = embeddings_df.select(
        F.col("vec_id").alias("neighbor_id"),
        SIM.assign_nearest("embedding", cents).alias("ncl"),
    )
    probe1 = embeddings_df.select(
        F.col("vec_id").alias("query_id"),
        SIM.assign_nearest_multi("embedding", cents, 1)[0].alias("qcl"),
    )
    joined = out.join(assigned, "neighbor_id").join(probe1, "query_id")
    assert joined.count() > 0
    assert joined.filter(F.col("ncl") != F.col("qcl")).count() == 0


def test_random_projection_preserves_neighborhoods(spark):
    from pyspark.sql import functions as F

    from sparkgraft.operators.similarity import (
        brute_force_topk,
        random_projection,
    )

    emb = _emb(spark)
    proj = random_projection(emb, out_dim=16).withColumnRenamed(
        "projected", "embedding"
    )
    q_full = emb.filter(F.col("vec_id") < 20)
    q_proj = proj.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(q_full, emb, k=10)
    reduced = brute_force_topk(q_proj, proj, k=10)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in reduced.collect()}
    # Synthetic iid vectors have near-uniform pairwise distances, the
    # hardest case for rank preservation: random agreement would be
    # ~2% (10/499); JL at 64->16 should stay well above that.
    assert len(e & a) / len(e) > 0.08


def test_embedding_stats_shape(spark):
    from sparkgraft.operators.similarity import embedding_stats

    emb = _emb(spark)
    rows = embedding_stats(emb).collect()
    assert [r["pos"] for r in rows] == list(range(64))
    n = emb.count()
    assert all(r["n"] == n for r in rows)
    assert all(r["min"] <= r["mean"] <= r["max"] for r in rows)


def test_hard_negative_topk_excludes_same_label_and_neardups(spark):
    from sparkgraft.operators.similarity import hard_negative_topk

    rows = [
        (0, "a", [1.0, 0.0, 0.0]),
        (1, "a", [0.99, 0.14, 0.0]),   # same label: excluded
        (2, "b", [1.0, 0.001, 0.0]),   # near-dup (cos>0.999): excluded
        (3, "b", [0.9, 0.43, 0.0]),    # the hard negative
        (4, "c", [0.0, 1.0, 0.0]),     # easy negative
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    got = [
        (r["neighbor_id"], r["rnk"])
        for r in hard_negative_topk(
            df.filter("vec_id = 0"), df, k=3, max_sim=0.999
        ).orderBy("rnk").collect()
    ]
    assert got == [(3, 1), (4, 2)]  # 1 (same label) and 2 (near-dup) gone


def test_mmr_rerank_trades_redundancy_for_diversity(spark):
    """A near-duplicate high-relevance cluster must not fill the MMR
    list: after the first pick, the redundancy penalty promotes the
    diverse lower-relevance candidate."""
    from sparkgraft.operators.similarity import mmr_rerank

    import math

    def unit(vec):
        n = math.sqrt(sum(x * x for x in vec))
        return [x / n for x in vec]

    q = [1.0, 0.0, 0.0, 0.0]
    a = unit([0.99, 0.14, 0.0, 0.0])     # rel ~0.990
    a2 = unit([0.99, 0.141, 0.0, 0.0])   # near-twin of a
    b = unit([0.8, 0.0, 0.6, 0.0])       # rel 0.8, diverse
    rows = [(0, q), (10, a), (11, a2), (12, b)]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    out = mmr_rerank(
        emb.filter("vec_id = 0"), emb.filter("vec_id > 0"),
        k_candidates=3, k_select=3, lam_num=5, lam_den=10,
    )
    ranked = [r["neighbor_id"] for r in
              sorted(out.collect(), key=lambda r: r["mmr_rank"])]
    # pure relevance order would be [10, 11, 12]; MMR demotes the twin
    assert ranked[0] == 10 and ranked[1] == 12 and ranked[2] == 11


def test_exact6_guards(spark):
    """Round-9 review: exact6 paths validate their 6-digit-decimal
    precondition instead of silently collapsing finer coordinates."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sparkgraft.operators.similarity import (
        assign_nearest_exact6,
        kmeans_iterate,
    )

    df = spark.createDataFrame(
        [(0, [0.5, 0.25])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="digits=6"):
        kmeans_iterate(df, [(0, [0.5, 0.25])], digits=9, exact6=True)
    with _pytest.raises(ValueError, match="6-digit decimal"):
        assign_nearest_exact6(F.col("embedding"), [(0, [0.123456789, 0.0])])
    # the happy path still assigns
    got = df.select(
        assign_nearest_exact6(
            F.col("embedding"), [(0, [0.5, 0.25]), (1, [9.0, 9.0])]
        ).alias("c")
    ).first()["c"]
    assert got == 0


def test_qint_topk_matches_fraction_exact_cosine_ranking(spark):
    """brute_force_topk_qint's integer key must order candidates
    exactly as the TRUE cosine over the quantized space — verified
    against a Fraction-arithmetic ranking (cos² with sign, cross-
    multiplied, no floats) on real embeddings."""
    from fractions import Fraction

    from sparkgraft.operators.similarity import brute_force_topk_qint
    from sparkgraft.sources.readers import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    got = {
        (r["query_id"], r["rnk"]): r["neighbor_id"]
        for r in brute_force_topk_qint(
            emb.filter(F.col("vec_id") < 4), emb, k=5
        ).collect()
    }

    rows = emb.select("vec_id", "embedding").collect()

    # HALF-UP (away from zero), matching the engine's Spark round():
    # Python's round() is banker's (half-even), so a component product
    # landing exactly on .5 would silently diverge the reference.
    def _half_up(v: float) -> int:
        import math

        return int(math.floor(abs(v) + 0.5)) * (1 if v >= 0 else -1)

    ivecs = {
        r["vec_id"]: [_half_up(float(x) * 10**4) for x in r["embedding"]]
        for r in rows
    }
    for qid in range(4):
        qv = ivecs[qid]

        def signed_cos2(cid):
            cv = ivecs[cid]
            dp = sum(a * b for a, b in zip(qv, cv))
            cn2 = sum(a * a for a in cv)
            qn2 = sum(a * a for a in qv)
            s = -1 if dp < 0 else 1
            return s * Fraction(dp * dp, cn2 * qn2)

        order = sorted(
            (c for c in ivecs if c != qid and any(ivecs[c])),
            key=lambda c: (-signed_cos2(c), c),
        )
        for rnk, cid in enumerate(order[:5], start=1):
            assert got[(qid, rnk)] == cid, (qid, rnk)


def test_qint_topk_negative_cosine_ordering_and_zero_norm(spark):
    """The sign(dot) factor must restore monotonicity for negative
    cosines (cos² alone would rank the MOST-opposite vector highest),
    and zero-norm candidates (undefined cosine) must be excluded."""
    from sparkgraft.operators.similarity import brute_force_topk_qint

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),       # query
            (1, [0.9, 0.1]),       # near-parallel        cos ~ +0.994
            (2, [0.0, 1.0]),       # orthogonal           cos = 0
            (3, [-0.5, 0.1]),      # mildly opposite      cos ~ -0.981
            (4, [-1.0, 0.0]),      # exactly opposite     cos = -1
            (5, [0.0, 0.0]),       # zero norm: excluded
        ],
        "vec_id long, embedding array<float>",
    )
    got = brute_force_topk_qint(
        df.filter(F.col("vec_id") == 0), df, k=10
    ).collect()
    order = [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rnk"])]
    assert order == [1, 2, 3, 4]


def test_qint_topk_envelope_enforced(spark):
    """Round-11 ADVICE fix: the overflow envelope is enforced, not
    documented — a parameter choice that could wrap the LONG
    accumulators or overflow the DECIMAL(38,0) square raises at plan
    time, and a component beyond comp_max raises at run time."""
    import pytest

    from sparkgraft.operators.similarity import brute_force_topk_qint

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.5, 0.5])], "vec_id long, embedding array<float>"
    )
    # plan-time: comp_digits 10 -> in_dim*(10^10)^2 overflows LONG
    with pytest.raises(ValueError, match="LONG accumulators"):
        brute_force_topk_qint(df, df, k=1, comp_digits=10)
    # plan-time: key_digits pushes the DECIMAL(38,0) square over 10^38
    with pytest.raises(ValueError, match="DECIMAL"):
        brute_force_topk_qint(df, df, k=1, key_digits=22)
    # run-time: |component| 3.0 > comp_max 1.0 raises inside the plan
    big = spark.createDataFrame(
        [(0, [3.0, 0.0]), (1, [0.5, 0.5])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="exceeds"):
        brute_force_topk_qint(
            big.filter(F.col("vec_id") == 0), big, k=1
        ).collect()


def test_qint_topk_vector_length_guard(spark):
    """Round-12 ADVICE fix: the plan-time overflow envelope assumes at
    most in_dim components; a wider vector now raises at run time
    instead of silently exceeding the accumulator bound."""
    import pytest

    from sparkgraft.operators.similarity import brute_force_topk_qint

    wide = spark.createDataFrame(
        [(0, [0.5, 0.5, 0.5]), (1, [0.5, 0.5, 0.5])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(Exception, match="exceeds the enforced in_dim"):
        brute_force_topk_qint(wide, wide, k=1, in_dim=2).collect()
    # exactly in_dim components is fine
    ok = spark.createDataFrame(
        [(0, [0.5, 0.5]), (1, [0.4, 0.6])], "vec_id long, embedding array<float>"
    )
    assert brute_force_topk_qint(ok, ok, k=1, in_dim=2).count() == 2


def test_qint_topk_null_components_propagate(spark):
    """Round-12 ADVICE fix: NULL components must propagate through
    quantization (pre-guard behavior) rather than trip the envelope
    raise_error — the NULL-bearing candidate simply drops out via its
    NULL norm, it does not fail the whole job."""
    from sparkgraft.operators.similarity import brute_force_topk_qint

    df = spark.createDataFrame(
        [(0, [0.5, None]), (1, [0.5, 0.5]), (2, [0.4, 0.6])],
        "vec_id long, embedding array<float>",
    )
    q = df.filter(F.col("vec_id") == 1)
    # must not raise; the NULL-bearing row 0 contributes no valid norm
    out = brute_force_topk_qint(q, df, k=3).collect()
    assert all(r.neighbor_id != 0 for r in out)
    # a fully-NULL vector must ALSO propagate (size(NULL) is NULL —
    # the length guard needs its own isNull arm) and drop out
    df2 = spark.createDataFrame(
        [(0, None), (1, [0.5, 0.5]), (2, [0.4, 0.6])],
        "vec_id long, embedding array<float>",
    )
    out2 = brute_force_topk_qint(
        df2.filter(F.col("vec_id") == 1), df2, k=3
    ).collect()
    assert all(r.neighbor_id != 0 for r in out2)


def test_qint_topk_membership_tracks_float_topk(spark):
    """On real embeddings the quantized-integer ranking and the float
    ranking agree except at genuine near-ties: top-10 membership per
    query differs by at most 1 doc on the test corpus."""
    from sparkgraft.operators.similarity import (
        brute_force_topk,
        brute_force_topk_qint,
    )
    from sparkgraft.sources.readers import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 6)
    a = _topk_sets(brute_force_topk(q, emb, k=10))
    b = _topk_sets(brute_force_topk_qint(q, emb, k=10))
    for qid in a:
        assert len(a[qid] - b[qid]) <= 1, (qid, a[qid], b[qid])


def test_zero_norm_vectors_are_never_scored(spark):
    """A zero-norm vector has no cosine.  Each exact-cosine operator
    drops it before the pair join, so it is neither a query nor a
    neighbor, instead of failing the whole query with ANSI
    DIVIDE_BY_ZERO; the dedup verdict keeps it as a non-duplicate."""
    from sparkgraft.operators.similarity import (
        brute_force_topk,
        mmr_rerank,
        partitioned_topk,
        semantic_dedup_labeled,
    )

    df = spark.createDataFrame(
        [
            (1, 0, [1.0, 0.0]),
            (2, 0, [0.0, 0.0]),
            (3, 0, [0.6, 0.8]),
            (4, 0, [0.0, 1.0]),
        ],
        "vec_id long, label int, embedding array<double>",
    )
    for out in (
        brute_force_topk(df, df, k=3),
        partitioned_topk(df, df, k=3),
        mmr_rerank(df, df, k_candidates=3, k_select=2),
    ):
        rows = out.collect()
        # queries 1, 3, 4 each keep both non-self, non-zero neighbors
        assert len(rows) == 6, rows
        assert all(2 not in (r["query_id"], r["neighbor_id"]) for r in rows)
    verdict = {
        r["vec_id"]: r["is_duplicate"]
        for r in semantic_dedup_labeled(df, "label").collect()
    }
    assert sorted(verdict) == [1, 2, 3, 4]
    assert verdict[2] is False
