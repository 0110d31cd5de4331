"""Edge cases for text operators: short docs, empty shingles, dedup
behavior on degenerate inputs."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkgraft.operators import textops as T


def test_short_docs_produce_empty_shingles(spark):
    df = spark.createDataFrame(
        [(1, "one two"), (2, "a"), (3, "x y z w")], "doc_id long, text string"
    )
    out = df.select(
        "doc_id",
        F.size(T.word_shingles(T.tokenize(F.col("text")), 3)).alias("n"),
    ).collect()
    got = {r["doc_id"]: r["n"] for r in out}
    assert got == {1: 0, 2: 0, 3: 2}


def test_builders_evaluate_their_input_array_once(spark):
    """A ``transform`` lambda that names an outer array expression
    re-evaluates it at every position, O(n²) per document.  Each
    builder names its tokenized (``split``) or hashed (``md5``) array
    once; before the fix the counts were 3 (shingles, spans), 2
    (chunks) and 4 (winnow md5).  Plans only: no Spark job runs."""
    assert str(T.word_shingles(T.tokenize(F.col("text")), 3)).count("split(") == 1
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")

    def plan(out):
        return out._jdf.queryExecution().analyzed().toString()

    assert plan(T.winnow_fingerprints(df)).count("md5(") == 1
    for out in (T.duplicate_spans(df), T.chunk_documents(df)):
        gen = [ln for ln in plan(out).splitlines() if "posexplode(" in ln]
        assert gen and all(ln.count("split(") == 1 for ln in gen), plan(out)


def test_minhash_ignores_sub_threshold_pairs(spark):
    # Disjoint vocab docs: no pair may survive the jaccard verify.
    df = spark.createDataFrame(
        [(1, "aa bb cc dd ee ff"), (2, "gg hh ii jj kk ll")],
        "doc_id long, text string",
    )
    pairs = T.minhash_dedup_pairs(df, shingle_k=2, num_hashes=4, bands=2)
    assert pairs.count() == 0


def test_minhash_finds_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over dogs"),
         (2, "the quick brown fox jumps over dogs"),
         (3, "completely different words here now ok")],
        "doc_id long, text string",
    )
    rows = T.minhash_dedup_pairs(df, shingle_k=2, num_hashes=4, bands=2).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in rows] == [(1, 2, 1.0)]


def test_jaccard_empty_sets_is_zero(spark):
    df = spark.createDataFrame([(1,)], "id long")
    v = df.select(
        T.jaccard(
            F.array().cast("array<string>"), F.array().cast("array<string>")
        ).alias("j")
    ).collect()[0]["j"]
    assert v == 0.0


def test_lang_id_unknown_on_no_stopwords(spark):
    df = spark.createDataFrame([(1, "zz qq ww")], "doc_id long, text string")
    assert T.lang_id(df).collect()[0]["pred_lang"] == "unknown"


def test_fingerprint_short_text(spark):
    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    r = T.fingerprint(df, k=8).collect()[0]
    assert r["fingerprint"] is None and r["n_shingles"] == 0


def test_repetition_stats_degenerate_doc(spark):
    """A fully repetitive doc scores top_token_share=1.0 / low distinct
    ratio; a diverse doc scores distinct_ratio=1.0."""
    from sparkgraft.operators.textops import repetition_stats

    df = spark.createDataFrame(
        [(1, "spam spam spam spam"), (2, "all tokens here differ")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert got[1]["top_token_share"] == 1.0 and got[1]["n_distinct"] == 1
    assert got[1]["distinct_ratio"] == 0.25
    assert got[2]["distinct_ratio"] == 1.0 and got[2]["top_token_share"] == 0.25


def test_pii_redact_clean_and_overlapping(spark):
    """Placeholders must not cascade (an [EMAIL] replacement is never
    re-matched by ipv4/phone), clean docs pass through unchanged."""
    from sparkgraft.operators.textops import pii_redact

    df = spark.createDataFrame(
        [(1, "x@y.io at 1.2.3.4 phone +44 20 7946 0958"), (2, "clean text")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in pii_redact(df).collect()}
    assert got[1]["n_email"] == 1 and got[1]["n_ipv4"] == 1 and got[1]["n_phone"] == 1
    assert got[1]["redacted"] == "[EMAIL] at [IPV4] phone [PHONE]"
    assert got[2]["redacted"] == "clean text"
    assert (got[2]["n_email"], got[2]["n_ipv4"], got[2]["n_phone"]) == (0, 0, 0)


def test_chunk_documents_boundaries(spark):
    """Short docs yield one whole-doc chunk; long docs cover every
    token with the configured overlap; last chunk may be short."""
    from sparkgraft.operators.textops import chunk_documents

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, " ".join(f"t{i}" for i in range(10)))],
        "doc_id long, text string",
    )
    got = chunk_documents(docs, chunk_tokens=4, overlap=1).collect()
    by_doc: dict = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["chunk_text"], r["n_chunk_tokens"])
        )
    assert by_doc[1] == [(0, "a b c", 3)]
    chunks2 = sorted(by_doc[2])
    # step = 3: starts at tokens 0,3,6 → ceil((10-4)/3)=2 extra chunks
    assert [c[0] for c in chunks2] == [0, 1, 2]
    assert chunks2[0][1] == "t0 t1 t2 t3"
    assert chunks2[1][1] == "t3 t4 t5 t6"
    assert chunks2[2][1] == "t6 t7 t8 t9"
    # every token appears in at least one chunk
    seen = set(" ".join(c[1] for c in chunks2).split())
    assert seen == {f"t{i}" for i in range(10)}
    # a genuinely short tail: 11 tokens → starts 0,3,6,9; last chunk short
    docs3 = spark.createDataFrame(
        [(3, " ".join(f"t{i}" for i in range(11)))], "doc_id long, text string"
    )
    got3 = sorted(
        (r["chunk_id"], r["n_chunk_tokens"])
        for r in chunk_documents(docs3, chunk_tokens=4, overlap=1).collect()
    )
    assert got3 == [(0, 4), (1, 4), (2, 4), (3, 2)]


def test_hash_split_deterministic_and_proportional(spark):
    from pyspark.sql import functions as F

    from sparkgraft.operators.scale import hash_split

    df = spark.range(20000).withColumnRenamed("id", "k")
    a = hash_split(df, ["k"], train_frac=0.9)
    b = hash_split(df, ["k"], train_frac=0.9)
    # identical assignment on rerun
    assert a.exceptAll(b).count() == 0
    frac = a.filter(F.col("split") == "train").count() / 20000
    assert 0.88 < frac < 0.92, frac


def test_pack_chunks_budget_and_conservation(spark):
    """Packing must conserve every token, keep pack ids contiguous per
    shard, and bound each pack by seq_tokens plus at most one
    boundary-crossing chunk."""
    from pyspark.sql import functions as F

    from sparkgraft.operators.textops import chunk_documents, pack_chunks

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(5 + (i * 7) % 40)))
         for i in range(50)],
        "doc_id long, text string",
    )
    chunks = chunk_documents(docs, chunk_tokens=8, overlap=2)
    packed = pack_chunks(chunks, seq_tokens=20, n_shards=4)
    total_chunk_tokens = chunks.agg(F.sum("n_chunk_tokens")).collect()[0][0]
    packs = (
        packed.groupBy("shard", "pack_id")
        .agg(F.sum("n_chunk_tokens").alias("n"))
        .collect()
    )
    assert sum(r["n"] for r in packs) == total_chunk_tokens
    # budget: a pack holds at most seq_tokens plus one crossing chunk
    assert all(r["n"] <= 20 + 8 - 1 for r in packs), sorted(
        r["n"] for r in packs
    )[-3:]
    # contiguous ids per shard
    by_shard: dict = {}
    for r in packs:
        by_shard.setdefault(r["shard"], []).append(r["pack_id"])
    for ids in by_shard.values():
        ids = sorted(ids)
        assert ids == list(range(ids[0], ids[0] + len(ids)))


def test_decontaminate_flags_overlap_and_short_docs(spark):
    from pyspark.sql import functions as F

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta"),   # shares 'alpha beta gamma'
         (2, "zz yy xx ww vv"),           # clean
         (3, "too short")],               # < n words -> 0 grams
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma epsilon")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in T.decontaminate(corpus, bench, n=3).collect()
    }
    assert rows[1]["contaminated"] and rows[1]["n_hits"] == 1
    assert not rows[2]["contaminated"] and rows[2]["n_hits"] == 0
    assert rows[3]["n_grams"] == 0 and not rows[3]["contaminated"]
    # threshold: a 0.5 max_ratio keeps doc 1 (ratio 0.5 not > 0.5)
    thr = {
        r["doc_id"]: r["contaminated"]
        for r in T.decontaminate(corpus, bench, n=3, max_ratio=0.5).collect()
    }
    assert not thr[1]


def test_paragraph_dedup_keeps_first_and_preserves_order(spark):
    df = spark.createDataFrame(
        [(1, "A\n\nB\n\nC"),
         (2, "B\n\nD"),        # B is a dup -> keeps D only
         (3, "A\n\nB")],       # everything dup -> empty
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in T.paragraph_dedup(df).collect()}
    assert rows[1]["text_dedup"] == "A\n\nB\n\nC"
    assert rows[2]["text_dedup"] == "D"
    assert (rows[2]["n_paras"], rows[2]["n_kept"]) == (2, 1)
    assert rows[3]["text_dedup"] == "" and rows[3]["n_kept"] == 0


def test_tfidf_corpus_wide_term_scores_zero(spark):
    # A term present in every doc has idf = ln(1) = 0.
    df = spark.createDataFrame(
        [(1, "common rare1 common"), (2, "common rare2")],
        "doc_id long, text string",
    )
    rows = T.tfidf_top_terms(df, k=2).collect()
    scores = {(r["doc_id"], r["term"]): r["tfidf"] for r in rows}
    assert scores[(1, "common")] == 0.0
    assert scores[(1, "rare1")] > 0
    assert scores[(2, "rare2")] > 0


def test_bm25_ranks_matching_docs_only(spark):
    df = spark.createDataFrame(
        [(1, "spark spark spark filler filler"),
         (2, "spark filler filler filler filler"),
         (3, "nothing relevant here at all")],
        "doc_id long, text string",
    )
    rows = T.bm25_rank(df, ["spark"], k=10).collect()
    ids = [r["doc_id"] for r in sorted(rows, key=lambda r: r["rnk"])]
    assert ids == [1, 2]  # doc 3 never scores; higher tf ranks first


def test_duplicate_spans_positions_and_shorts(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e unique1 tail1 x"),
         (2, "pre a b c d e other2 y z"),   # shares the 5-token run a..e
         (3, "too short")],
        "doc_id long, text string",
    )
    rows = T.duplicate_spans(df, window_tokens=5).collect()
    spans = {(r["doc_id"], r["start"]) for r in rows}
    # the shared window 'a b c d e' starts at token 0 in doc 1, 1 in doc 2
    assert (1, 0) in spans and (2, 1) in spans
    assert all(r["n_occ"] == 2 for r in rows)
    assert {r["doc_id"] for r in rows} == {1, 2}  # doc 3: no window


def test_cms_overcounts_only_and_merges(spark):
    """Count-min law: estimate >= exact for every key, and the cell-wise
    merge of two disjoint-half sketches equals the full-data sketch."""
    from pyspark.sql import functions as F

    from sparkgraft.operators.sketch import cms_build, cms_lookup, cms_merge

    df = spark.range(2000).select((F.col("id") % 37).alias("k"))
    cms = cms_build(df, ["k"], depth=4, width=16)  # narrow: force collisions
    probes = df.select("k").distinct()
    est = {r["k"]: r["n_est"] for r in cms_lookup(cms, probes, ["k"], depth=4, width=16).collect()}
    exact = {r["k"]: r["n"] for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()}
    assert all(est[k] >= exact[k] for k in exact)
    assert any(est[k] > exact[k] for k in exact)  # width 16 < 37 keys: collisions certain

    a = cms_build(df.filter("id < 1000"), ["k"], depth=4, width=16)
    b = cms_build(df.filter("id >= 1000"), ["k"], depth=4, width=16)
    merged = {(r["d"], r["bucket"]): r["n"] for r in cms_merge(a, b).collect()}
    full = {(r["d"], r["bucket"]): r["n"] for r in cms.collect()}
    assert merged == full


def test_normalize_then_hash_collapses_format_variants(spark):
    """The normalize -> content-id composition: formatting variants of
    the same text get identical ids; different text does not."""
    from pyspark.sql import functions as F

    from sparkgraft.functions.expr import content_id

    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "  hello\tworld\n"), (3, "other text")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["cid"]
        for r in df.select(
            "doc_id", content_id(T.normalize_text(F.col("text"))).alias("cid")
        ).collect()
    }
    assert out[1] == out[2] != out[3]


def test_relative_quality_gate_keeps_per_domain_floor(spark):
    from pyspark.sql import functions as F

    # two domains with disjoint score ranges: a global p25 cutoff would
    # delete all of domain B; the relative gate keeps 75% of each
    rows = [(i, "A", 100 + i) for i in range(20)] + [
        (100 + i, "B", i) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, g string, score long")
    out = T.relative_quality_gate(df, "g", "score")
    kept = out.filter("keep").groupBy("g").count().collect()
    by_g = {r["g"]: r["count"] for r in kept}
    assert by_g["A"] == by_g["B"] == 15  # 75% of 20, both domains survive


def test_ngram_lm_score_hand_computed(spark):
    # Unigrams a:3 b:3 x:1 (V=3); bigrams (a,b):3 (b,a):1.
    # logp(a,b)=ln(4/6), logp(b,a)=ln(2/6), quantized at 6 decimals.
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "x")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logp"])
        for r in T.ngram_lm_score(df).collect()
    }
    assert got[1] == (3, round((-0.405465 * 2 - 1.098612) / 3, 4))
    assert got[2] == (1, -0.4055)
    assert got[3] == (0, None)


def test_span_coverage_gate_merges_overlapping_windows(spark):
    shared = "a b c d e f g h i j"  # 10 tokens -> dup windows at 0,1,2
    df = spark.createDataFrame(
        [
            (1, shared + " x1 x2 x3 x4"),
            (2, shared + " y1 y2 y3 y4"),
            (3, "q w e r t z u i o p k l m n"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["covered_tokens"], r["keep"])
        for r in T.span_coverage_gate(df, window_tokens=8).collect()
    }
    # Overlapping dup windows [0,8),[1,9),[2,10) merge to [0,10).
    assert got[1] == (14, 10, False)
    assert got[2] == (14, 10, False)
    assert got[3] == (14, 0, True)


def test_ngram_lm_invariants_on_corpus(spark):
    import math

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(i % 12))) for i in range(40)],
        "doc_id long, text string",
    )
    rows = T.ngram_lm_score(docs).collect()
    assert len(rows) == 40
    toks = {r["doc_id"]: r for r in rows}
    for r in rows:
        # Probabilities are < 1 -> every log-prob (and the mean) is < 0.
        if r["n_bigrams"] == 0:
            assert r["avg_logp"] is None
        else:
            assert r["avg_logp"] < 0 and math.isfinite(r["avg_logp"])
    # Empty text tokenizes to one empty token -> 0 bigrams.
    assert toks[0]["n_bigrams"] == 0


def test_span_coverage_invariants(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(f"t{(i * 3 + j) % 11}" for j in range(16))) for i in range(30)],
        "doc_id long, text string",
    )
    for r in T.span_coverage_gate(docs, window_tokens=8).collect():
        assert 0 <= r["covered_tokens"] <= r["n_tokens"]
        assert r["keep"] == (r["covered_tokens"] * 1000 <= 300 * r["n_tokens"])


def test_setsim_join_exact_vs_bruteforce(spark):
    """PPJoin prefix filtering must be EXACT: same pairs as the
    all-pairs brute force at the threshold, no false negatives."""
    from itertools import combinations

    from sparkgraft.operators.textops import setsim_join

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),       # J=5/7 vs 1
        (3, "alpha beta gamma delta epsilon zeta"),      # J=1 vs 1
        (4, "one two three four five six seven"),
        (5, "one two three four five six eight"),        # J=6/8 vs 4
        (6, "totally different words entirely here now"),
        (7, "alpha one totally"),                        # low overlap
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    t = 0.6
    got = {
        (int(r["id_a"]), int(r["id_b"])): r["jaccard"]
        for r in setsim_join(docs, threshold=t).collect()
    }
    # brute force
    toks = {i: set(s.split()) for i, s in rows}
    want = {}
    for i, j in combinations(sorted(toks), 2):
        inter = len(toks[i] & toks[j])
        un = len(toks[i] | toks[j])
        jac = round(inter / un, 4)
        if jac >= t:
            want[(i, j)] = jac
    assert got == want and (1, 3) in got and (1, 2) in got


def test_setsim_join_prefix_prunes_hot_tokens(spark):
    """Docs sharing ONLY a corpus-hot token never become candidates:
    the result excludes them (and the prefix construction keeps the
    hot-token quadratic from forming)."""
    from sparkgraft.operators.textops import setsim_join

    # 'the' is in every doc (hot); pairs share nothing else
    rows = [(i, f"the unique{i}a unique{i}b unique{i}c") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = setsim_join(docs, threshold=0.5).collect()
    assert out == []
