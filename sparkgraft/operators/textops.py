"""Text-analysis operators for large-scale training-data pipelines:
tokenization, shingling, MinHash/LSH near-dup detection, SimHash,
n-gram Jaccard, quality scoring, language-ID heuristic, fingerprinting.

Design for 100 TB: everything below is built from JVM-side built-ins
(split/transform/md5/aggregate) — no Python UDFs — so the hot path stays
inside whole-stage codegen and shuffles only on compact keys (band
hashes, doc ids), never raw text.

Portability note: MinHash permutations are simulated with
``min(md5(seed || '|' || shingle))`` — lexicographic min over hex
strings equals numeric min over the 128-bit hash, and md5 is available
in every engine, which keeps the operators oracle-checkable (and their
outputs stable across Spark versions, unlike ``hash()``/``xxhash64``
which are JVM-implementation-specific).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sparkgraft.functions.expr import sql_ident
from sparkgraft.operators.stats import exact_ratio

HEX_HIGH = list("89abcdef")  # md5 nibble with top bit set
_SIDE = "_sg_side"  # private side tag that minhash_prep carries


def tokenize(text: Column) -> Column:
    """Whitespace tokenization (the reference's split-parse, F12 —
    file_analysis.py:33,70-73)."""
    return F.split(text, r"\s+")


def _bind(arr: Column, body) -> Column:
    """``body(arr)`` with ``arr`` evaluated once per row.  A ``transform``
    lambda that names an outer array expression re-evaluates it at every
    position (O(n²) per row); as the lambda variable of a one-element
    ``transform`` it is evaluated once."""
    return F.transform(F.array(arr), body)[0]


def word_shingles(words: Column, k: int) -> Column:
    """k-word shingles as strings; empty array when the doc is shorter
    than k words."""
    def _shingles(w: Column) -> Column:
        n = F.size(w)
        idx = F.sequence(F.lit(1), n - F.lit(k - 1))
        sh = F.transform(idx, lambda i: F.array_join(F.slice(w, i, k), " "))
        return F.when(n >= k, sh).otherwise(F.array().cast("array<string>"))

    return _bind(words, _shingles)


def char_shingles(text: Column, k: int) -> Column:
    """k-char shingles (document fingerprinting granularity)."""
    n = F.length(text)
    idx = F.sequence(F.lit(1), n - F.lit(k - 1))
    sh = F.transform(idx, lambda i: F.substring(text, i, k))
    return F.when(n >= k, sh).otherwise(F.array().cast("array<string>"))


def minhash_signature(shingles: str, num_hashes: int) -> list[Column]:
    """MinHash signature: one min-hash per simulated permutation.

    ``min(md5(seed|shingle))`` over the shingle set; empty set → NULL.
    ``shingles`` is a column name; each hash column is one SQL text
    (the similarity kernel convention, see
    ``similarity._centroid_dists_sql``).
    """
    sh = sql_ident(shingles)
    return [
        F.expr(
            f"array_min(transform({sh}, "
            f"s -> md5(concat('{j}|', s))))"
        ).alias(f"mh_{j}")
        for j in range(num_hashes)
    ]


def lsh_bands(sig_cols: list[str], bands: int, rows: int) -> Column:
    """Group a signature into ``bands`` band-hashes of ``rows`` each.

    Returns ``array<struct<band:int, bucket:string>>`` — explode and
    equi-join on (band, bucket) for candidate pairs.  Scale: the band
    join shuffles only (band, bucket, id), and bucket collisions are
    rare by construction, so the pair blow-up is bounded.
    ``sig_cols`` are column names (see :func:`minhash_signature`).
    """
    assert len(sig_cols) == bands * rows
    entries = []
    for b in range(bands):
        names = ", ".join(sql_ident(c) for c in sig_cols[b * rows : (b + 1) * rows])
        entries.append(
            f"named_struct('band', {b}, "
            f"'bucket', md5(concat_ws('|', {names})))"
        )
    return F.expr("array({})".format(", ".join(entries)))


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two string arrays (treated as sets)."""
    da, db = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.array_intersect(da, db)).cast("double")
    union = F.size(F.array_union(da, db)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def jaccard_rounded(a: Column, b: Column, digits: int = 4) -> Column:
    """Jaccard of two string arrays, HALF-UP at ``digits`` via the
    exact integer-ratio kernel.

    Round-9 discipline: Jaccard is a ratio of set sizes, and integer
    ratios land EXACTLY on rounding half-boundaries (e.g. 11/32 =
    0.34375 at 4 digits — found by tools/boundary_audit.py in this
    repo's own corpus), where ``round(double)`` is engine-dependent:
    Spark rounds the double's exact decimal expansion via BigDecimal
    HALF_UP, other engines round in float.  The kernel makes the
    rounding exact integer arithmetic on both sides."""
    da, db = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.array_intersect(da, db))
    union = F.size(F.array_union(da, db))
    return F.when(union > 0, exact_ratio(inter, union, digits)).otherwise(
        F.lit(0.0)
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + LSH banding, then
    exact-Jaccard verification on the shingle sets.

    Pipeline (all DataFrame ops, two shuffles):
      shingle → signature → band buckets → explode → self-equi-join on
      (band, bucket) → distinct (a < b) → verify Jaccard ≥ threshold.

    At 100 TB: raw text never shuffles for candidate generation (only
    32-hex bucket keys + ids); the verify join re-reads shingle sets for
    the *candidate pairs only*, which LSH keeps near-linear.
    """
    base, banded = minhash_prep(
        docs, id_col, text_col, shingle_k, num_hashes, bands
    )
    # Candidate generation shuffles ONLY (band, bucket, id) — the heavy
    # shingle arrays stay out of the self-join; pairs are deduped before
    # any verification work.
    left = banded.select("band", "bucket", F.col("id").alias("id_a"))
    right = banded.select("band", "bucket", F.col("id").alias("id_b"))
    pairs = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # Verify: attach each side's shingle set exactly once per pair.
    # Both join sides scale with the corpus (pairs ~ bucket collisions,
    # sh_tbl = the corpus' shingle sets), so pin spillable sort-merge: a size
    # MISestimate must never flip the shingle table into a broadcast —
    # measured at 32x-replicated sf0.1, the planner did exactly that
    # and OOMed the driver building a multi-GB broadcast relation.
    sh_tbl = base.select(F.col("id"), F.col("sh")).hint("merge")
    # One intersect/union evaluation per candidate pair (round-9
    # review: the rounded emission previously recomputed the full set
    # algebra on top of the filter's — the verify stage is the hot
    # path; ``sh`` is already distinct, so no re-dedup either).  The
    # threshold compares by EXACT rational cross-multiplication:
    # Fraction(min_jaccard) is the double's exact value, so
    # ``i·den ≥ num·u`` in DECIMAL(38,0) is precisely the real-number
    # predicate i/u ≥ t — no quantized threshold, no boundary, and no
    # vacuous-keep hole for tiny t (the former double-quotient compare
    # could differ only when the quotient's rounding crossed t, which
    # integer ratios of realistic set sizes never do).
    from fractions import Fraction

    t_frac = Fraction(min_jaccard)  # exact value of the double
    t_num = F.lit(t_frac.numerator).cast("decimal(38,0)")
    t_den = F.lit(t_frac.denominator).cast("decimal(38,0)")
    verified = (
        pairs.join(sh_tbl.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh_tbl.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("_i"),
            F.size(F.array_union("sh_a", "sh_b")).cast("long").alias("_u"),
        )
    )
    keep = F.when(
        F.col("_u") > 0,
        F.col("_i").cast("decimal(38,0)") * t_den
        >= t_num * F.col("_u").cast("decimal(38,0)"),
    ).otherwise(F.lit(min_jaccard <= 0))
    return verified.filter(keep).select(
        "id_a",
        "id_b",
        F.when(
            F.col("_u") > 0, exact_ratio(F.col("_i"), F.col("_u"), 4)
        ).otherwise(F.lit(0.0)).alias("jaccard"),
    )


def simhash16(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """16-bit SimHash per document from word-frequency-weighted md5 bits.

    Bit b of a word = top bit of the (b+1)-th md5 nibble; the document
    bit is the sign of the ±1 sum over all word occurrences.  One
    explode + one grouped aggregate (map-side combined); near-dup pairs
    are then ``bit_count(simhash_a XOR simhash_b) <= t`` — a cheap
    follow-up join on any candidate set.
    """
    tokens = docs.select(
        F.col(id_col).alias("id"), F.explode(tokenize(F.col(text_col))).alias("w")
    ).withColumn("h", F.md5(F.col("w")))
    bit_sums = tokens.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.substring("h", b + 1, 1).isin(HEX_HIGH), 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(16)
        ]
    )
    sim = None
    for b in range(16):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return bit_sums.select(F.col("id"), sim.cast("long").alias("simhash"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """All-pairs n-gram Jaccard within a blocking group.

    The blocking column bounds the quadratic pair space (the classic
    blocked similarity join); the join shuffles on the block key only.
    """
    base = docs.select(
        F.col(group_col).alias("g"),
        F.col(id_col).alias("id"),
        F.array_distinct(
            word_shingles(tokenize(F.col(text_col)), n)
            if n > 1
            else tokenize(F.col(text_col))
        ).alias("sh"),
    )
    a = base.select("g", F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    # Both self-join sides carry corpus-scaled shingle arrays — pin a
    # shuffled join so a size misestimate can't broadcast one (same
    # measured driver-OOM cliff as minhash_dedup_pairs' verify join).
    b = base.select("g", F.col("id").alias("id_b"), F.col("sh").alias("sh_b")).hint(
        "shuffle_hash"
    )
    return (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "g",
            "id_a",
            "id_b",
            jaccard_rounded(F.col("sh_a"), F.col("sh_b"), 4).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in"],
    "de": ["der", "die", "das", "und", "ein"],
    "fr": ["le", "la", "les", "et", "un"],
    "es": ["el", "la", "los", "y", "un"],
}


def text_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Quality-scoring statistics per document: token counts, lexical
    diversity, average word length, stopword ratio, a BPE-ish regex
    token count, and a composite quality flag.

    Pure projection — no shuffle; at 100 TB this runs scan-speed.
    """
    words = tokenize(F.col(text_col))
    n_words = F.size(words)
    n_distinct = F.size(F.array_distinct(words))
    n_chars = F.length(F.col(text_col))
    stop_hits = F.size(
        F.filter(words, lambda w: w.isin(STOPWORDS["en"]))
    )
    bpe_tokens = F.regexp_count(F.col(text_col), F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"))
    # quality_pass thresholds the UNROUNDED double ratio (identical
    # IEEE division on every engine); emissions go through the exact
    # integer-ratio kernel (round-9 boundary discipline).
    avg_wl = (n_chars - n_words + 1).cast("double") / n_words
    return docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_distinct.alias("n_distinct_words"),
        bpe_tokens.alias("n_tokens"),
        exact_ratio(n_chars - n_words + 1, n_words, 4).alias("avg_word_len"),
        exact_ratio(n_distinct, n_words, 4).alias("type_token_ratio"),
        exact_ratio(stop_hits, n_words, 4).alias("stopword_ratio"),
        (
            (n_words >= 10)
            & (avg_wl >= 2.0)
            & (avg_wl <= 12.0)
            & (stop_hits > 0)
        ).alias("quality_pass"),
    )


def lang_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic language ID: stopword-list hit ratios per language,
    argmax with deterministic lexicographic tie-break."""
    words = F.array_distinct(tokenize(F.col(text_col)))
    langs = sorted(STOPWORDS)
    hits = {
        lang: F.size(F.filter(words, lambda w: w.isin(STOPWORDS[lang])))
        for lang in langs
    }
    # argmax compares the UNROUNDED double ratios (identical IEEE
    # division everywhere); emission rounds via the integer kernel.
    scores = {
        lang: hits[lang].cast("double") / F.lit(float(len(STOPWORDS[lang])))
        for lang in langs
    }
    # argmax with lexicographic preference on ties: the first language
    # (in sorted order) whose score is >= all later ones wins.
    pred = F.lit(langs[-1])
    for lang in reversed(langs[:-1]):
        cond = None
        for other in langs:
            if other > lang:
                c = scores[lang] >= scores[other]
                cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    any_hit = None
    for lang in langs:
        c = scores[lang] > 0
        any_hit = c if any_hit is None else (any_hit | c)
    return docs.select(
        F.col(id_col),
        *[
            exact_ratio(
                hits[lang], F.lit(len(STOPWORDS[lang])), 4
            ).alias(f"score_{lang}")
            for lang in langs
        ],
        F.when(any_hit, pred).otherwise(F.lit("unknown")).alias("pred_lang"),
    )


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Full winnowing (Schleimer/Wilkerson/Aiken): per sliding window of
    ``window`` consecutive char-k-gram hashes, keep the minimum; the
    distinct kept hashes are the document's fingerprint set.

    Guarantees at least one shared fingerprint for any shared substring
    of length >= k + window - 1 — the property plagiarism/near-dup
    detectors rely on.  Pure array expressions (no shuffle until the
    caller joins on fingerprints); output is the exploded
    (id, fingerprint) table ready for an equi-join dedup.
    """
    sh = char_shingles(F.col(text_col), k)

    def _mins(h: Column) -> Column:
        n = F.size(h)
        idx = F.sequence(F.lit(1), n - F.lit(window - 1))
        per_window = F.transform(idx, lambda i: F.array_min(F.slice(h, i, window)))
        return F.array_distinct(F.when(n >= window, per_window).otherwise(h))

    mins = _bind(F.transform(sh, lambda s: F.md5(s)), _mins)
    return docs.select(
        F.col(id_col), F.explode(mins).alias("fingerprint")
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 8) -> DataFrame:
    """Document fingerprint: minimum char-k-gram hash (the min-sampling
    special case of winnowing) + shingle cardinality."""
    sh = char_shingles(F.col(text_col), k)
    hashes = F.transform(sh, lambda s: F.md5(s))
    return docs.select(
        F.col(id_col),
        F.array_min(hashes).alias("fingerprint"),
        F.size(F.array_distinct(sh)).alias("n_shingles"),
    )


def repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    digits: int = 4,
) -> DataFrame:
    """Repetition/diversity gate for training-data curation: per-doc
    token counts, distinct ratio, and the share of the single most
    frequent token — the standard boilerplate/degenerate-text filter
    (high top-token share or low distinct ratio → drop or downweight).

    Pure array expressions, shuffle-free (scan-speed at 100 TB): the
    mode count is a single run-length pass over the SORTED token array
    — O(n log n) per row instead of the naive O(distinct x tokens)
    nested scan (measured ~3x faster on the sf0.1 corpus).  Ratios are
    exact integer divisions rounded once, so the result is
    engine-portable.
    """
    toks = tokenize(F.col(text_col))
    distinct = F.array_distinct(toks)

    def _run(acc: Column, t: Column) -> Column:
        # acc.prev == t is NULL on the first element -> otherwise(1).
        new_run = F.when(acc["prev"] == t, acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            t.alias("prev"),
            new_run.alias("run"),
            F.greatest(acc["best"], new_run).alias("best"),
        )

    top = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        _run,
        lambda acc: acc["best"],
    )
    n = F.size(toks)
    return docs.select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.size(distinct).alias("n_distinct"),
        exact_ratio(F.size(distinct), n, digits).alias("distinct_ratio"),
        exact_ratio(top, n, digits).alias("top_token_share"),
    )


# Scrubbing patterns shared with the DuckDB oracle: plain character
# classes only (no lookarounds), valid in both Java regex and RE2.
PII_PATTERNS: list[tuple[str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("phone", r"\+\d{1,3}(?:[- ]?\d{2,4}){1,4}\b"),
]


def pii_redact(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII scrubbing for training-data pipelines: replace emails, IPv4
    addresses and international phone numbers with typed placeholders
    and report per-kind match counts.

    A chain of ``regexp_replace`` projections — shuffle-free,
    whole-stage codegen, no UDF; patterns are RE2/Java-portable so the
    DuckDB oracle applies the identical scrub.
    """
    red = F.col(text_col)
    counts = []
    for kind, pat in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(red, F.lit(pat), 0)).alias(f"n_{kind}")
        )
        red = F.regexp_replace(red, F.lit(pat), F.lit(f"[{kind.upper()}]"))
    return docs.select(F.col(id_col), *counts, red.alias("redacted"))


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 3,
    max_ratio: float = 0.0,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    word n-grams with an evaluation/benchmark corpus (the standard
    pre-training hygiene step — GPT-3 App. C / Llama style n-gram
    overlap).

    Shape for 100 TB: the benchmark side is tiny by construction
    (eval sets are thousands of rows, the corpus is billions), so its
    distinct n-gram **hash** set is broadcast — the corpus side never
    shuffles raw text, only (id, 32-hex gram hash) pairs into the
    per-doc overlap count.  Output keeps every input doc with its
    overlap stats; callers drop ``contaminated`` rows.
    """
    from sparkgraft.operators.scale import widen_narrow_scan

    bench_grams = benchmark.select(
        F.explode(
            F.array_distinct(word_shingles(tokenize(F.col(bench_text_col)), n))
        ).alias("gram")
    ).select(F.md5(F.col("gram")).alias("gram_h")).distinct()
    # Single pass over the corpus: gram hashes are computed ONCE, the
    # per-doc total rides along the explode (explode_outer keeps
    # zero-gram docs), and one broadcast-join + one (id) aggregate
    # produce both counts — no second scan branch, no persist.  The
    # md5-heavy projection must not serialize on a narrow scan.
    hashed = widen_narrow_scan(docs).select(
        F.col(id_col).alias("id"),
        F.transform(
            F.array_distinct(word_shingles(tokenize(F.col(text_col)), n)),
            lambda s: F.md5(s),
        ).alias("ghs"),
    )
    exploded = hashed.select(
        "id", F.size("ghs").alias("n_grams"), F.explode_outer("ghs").alias("gram_h")
    )
    marked = exploded.join(
        F.broadcast(bench_grams.withColumn("hit", F.lit(1))), "gram_h", "left"
    )
    counted = marked.groupBy("id", "n_grams").agg(
        F.coalesce(F.sum("hit"), F.lit(0)).alias("n_hits")
    )
    ratio = F.col("n_hits").cast("double") / F.col("n_grams")
    safe_ratio = F.when(F.col("n_grams") > 0, ratio).otherwise(F.lit(0.0))
    return counted.select(
        F.col("id").alias(id_col),
        "n_grams",
        F.col("n_hits").cast("long").alias("n_hits"),
        F.when(
            F.col("n_grams") > 0,
            exact_ratio(F.col("n_hits"), F.col("n_grams"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("overlap_ratio"),
        ((F.col("n_hits") > 0) & (safe_ratio > F.lit(max_ratio))).alias(
            "contaminated"
        ),
    )


def paragraph_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = r"\n\n+",
    joiner: str = "\n\n",
) -> DataFrame:
    """Exact paragraph-level deduplication across the corpus (the
    ccnet/CCNet-style boilerplate killer): split documents into
    paragraphs, keep only the globally-first occurrence of each exact
    paragraph (first = lowest (doc id, paragraph index)), and reassemble
    each document from its surviving paragraphs in original order.

    Two shuffles: the first-occurrence window partitions on the
    paragraph **hash** (raw paragraph text rides along only because the
    winner must be reassembled — same cost profile as ccnet's
    hash-partition pass), the second regroups survivors by doc.  A doc
    whose every paragraph is a duplicate survives with empty text.
    """
    from pyspark.sql import Window

    paras = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("para_idx", "para"),
    ).filter(F.length(F.trim(F.col("para"))) > 0)
    w = Window.partitionBy(F.md5(F.col("para"))).orderBy(
        F.col("id"), F.col("para_idx")
    )
    kept = paras.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    reassembled = kept.groupBy("id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("para_idx"), F.col("para")))
                ),
                lambda s: s["para"],
            ),
            joiner,
        ).alias("text_dedup"),
    )
    totals = paras.groupBy("id").agg(F.count("*").alias("n_paras"))
    # reassembled carries full reassembled TEXT per doc — corpus-scaled;
    # never let a misestimate broadcast it.
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(totals.hint("merge"), "id", "left")
        .join(reassembled.hint("merge"), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n_paras"), F.lit(0)).alias("n_paras"),
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup"),
        )
    )


def normalize_text(text: Column) -> Column:
    """Canonical text cleaning for hashing/dedup keys: lowercase,
    control characters and zero-width/BOM marks stripped, all
    whitespace runs collapsed to single spaces, trimmed.  A pure
    expression chain (RE2/Java-portable patterns) so normalized hashes
    agree across engines — normalize BEFORE content_id/minhash when
    near-identical formatting variants should collapse."""
    t = F.lower(text)
    # Java regex syntax here; the DuckDB oracle uses the RE2 spelling
    # (\x{200B} etc.) of the SAME class — results are identical.
    t = F.regexp_replace(
        t, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\u200B-\\u200D\\uFEFF]", ""
    )
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def split_sentences(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Sentence segmentation (punctuation heuristic): split on
    [.!?]+ followed by whitespace, keep non-empty trimmed sentences
    with their 0-based position.  Shuffle-free posexplode — the
    pre-chunking granularity for sentence-aware packing."""
    sents = F.split(F.col(text_col), r"[.!?]+\s+")
    return (
        docs.select(
            F.col(id_col), F.posexplode(sents).alias("sent_id", "sentence")
        )
        .withColumn("sentence", F.trim(F.regexp_replace("sentence", r"[.!?]+$", "")))
        .filter(F.length("sentence") > 0)
    )


def relative_quality_gate(
    docs: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str = "doc_id",
    min_pct: float = 0.25,
    digits: int = 6,
) -> DataFrame:
    """Per-domain relative quality thresholding: keep a document when
    its quality score sits at or above the ``min_pct`` percent-rank
    WITHIN its own domain — the curation pattern that avoids one global
    cutoff silently deleting whole low-scoring domains.

    One shuffle (the per-domain window); percent_rank is rank
    arithmetic on integers — (rank-1)/(n-1) — emitted HALF-UP through
    the exact integer-ratio kernel (round-9: the built-in
    ``percent_rank()`` returns a double whose rounding is
    engine-dependent exactly when the rank ratio terminates on a
    half-boundary, e.g. 3/16).  The id tie-break makes rank ==
    row_number (total order), so the explicit form is identical.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.col(score_col).asc(), F.col(id_col).asc()
    )
    wn = Window.partitionBy(group_col)
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .withColumn("_cnt", F.count("*").over(wn))
        .withColumn(
            "pct",
            F.when(
                F.col("_cnt") > 1,
                exact_ratio(F.col("_rn") - 1, F.col("_cnt") - 1, digits),
            ).otherwise(F.lit(0.0)),
        )
        .drop("_rn", "_cnt")
        .withColumn("keep", F.col("pct") >= F.lit(min_pct))
    )


def duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 16,
) -> DataFrame:
    """Exact substring-duplication detection at token granularity — the
    scalable approximation of suffix-array dedup (RefinedWeb/Gopher
    style): hash every ``window_tokens``-token window (stride 1) and
    report each span whose window text occurs more than once in the
    corpus.  Callers mask or cut the flagged spans, or drop documents
    whose flagged fraction is high.

    Scale shape: raw text never shuffles — windows travel as
    (id, start, 32-hex hash); one map-side-combined count per hash and
    one compact equi-join back.  Output is bounded by the duplicated
    spans only.
    """
    from sparkgraft.operators.scale import widen_narrow_scan

    k = window_tokens

    def _wins(toks: Column) -> Column:
        n = F.size(toks)
        idx = F.sequence(F.lit(1), n - F.lit(k - 1))
        w = F.transform(idx, lambda i: F.md5(F.array_join(F.slice(toks, i, k), " ")))
        return F.when(n >= k, w).otherwise(F.array().cast("array<string>"))

    wins = _bind(tokenize(F.col(text_col)), _wins)
    exploded = widen_narrow_scan(docs).select(
        F.col(id_col).alias("id"), F.posexplode(wins).alias("start", "win_hash")
    )
    counts = exploded.groupBy("win_hash").agg(F.count("*").alias("n_occ"))
    return (
        exploded.join(counts.filter(F.col("n_occ") > 1), "win_hash")
        .select(F.col("id").alias(id_col), "start", "win_hash", "n_occ")
    )


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document top-k TF-IDF terms (idf = ln(N/df), raw tf), the
    classic keyword/topic extraction over a corpus.

    Plan: one explode → (doc, term) count → term document-frequency
    aggregate (map-side combined, shuffles compact (term, count) pairs)
    → join back on term → per-doc window for top-k.  The corpus size N
    is a 1-row aggregate broadcast into the scoring projection — no
    driver-side ``count()`` action, the whole thing is one lazy plan.
    Scores are rounded BEFORE ranking with a lexicographic term
    tie-break, so results are deterministic and engine-portable.
    """
    from pyspark.sql import Window

    terms = docs.select(
        F.col(id_col).alias("id"), F.explode(tokenize(F.col(text_col))).alias("term")
    )
    tf = terms.groupBy("id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    total = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                4,
            ),
        )
    )
    w = Window.partitionBy("id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("id").alias(id_col), "term", "tf", "df", "tfidf", "rnk"
        )
    )


def bm25_rank(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 keyword search over the corpus: score every document
    against a bag of query terms, return the top-k.

    The document-frequency and average-doc-length statistics are 1-row/
    tiny aggregates broadcast into the scoring projection; the per-doc
    term frequencies come from one explode + filtered aggregate (the
    filter on the query-term set is pushed below the explode's shuffle,
    so only matching (doc, term) pairs ever shuffle).  idf uses the
    standard Robertson–Sparck-Jones form ln(1 + (N - df + .5)/(df + .5)).
    """
    from pyspark.sql import Window

    qset = sorted(set(query_terms))
    toks = tokenize(F.col(text_col))
    base = docs.select(
        F.col(id_col).alias("id"),
        F.size(toks).alias("dl"),
        F.filter(toks, lambda t: t.isin(qset)).alias("qtoks"),
    )
    stats = base.agg(
        F.count("*").alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    matches = base.select(
        "id", "dl", F.explode(F.col("qtoks")).alias("term")
    )
    tf = matches.groupBy("id", "dl", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tf_part = (
        F.col("tf")
        * F.lit(k1 + 1.0)
        / (
            F.col("tf")
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")
            )
        )
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("id")
        .agg(F.round(F.sum(idf * tf_part), 4).alias("bm25"))
    )
    # Global top-k via orderBy+limit (TakeOrderedAndProject: per-partition
    # heaps + tiny merge, never a single-partition global sort); the rank
    # window then runs over only k rows.
    topk = scored.orderBy(F.col("bm25").desc(), F.col("id").asc()).limit(k)
    w = Window.orderBy(F.col("bm25").desc(), F.col("id").asc())
    return topk.withColumn("rnk", F.row_number().over(w)).select(
        F.col("id").alias(id_col), "bm25", "rnk"
    )


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Sliding-window chunking for context-window packing: overlapping
    token windows of ``chunk_tokens`` with ``overlap`` tokens shared
    between consecutive chunks, deterministic 0-based chunk ids.

    Pure array expressions + one ``posexplode`` — shuffle-free, so a
    100 TB corpus chunks at scan speed.  A document shorter than one
    window yields exactly one chunk (the whole document); the last
    window is allowed to be short rather than dropped, so every token
    lands in at least one chunk.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap

    def _chunks(toks: Column) -> Column:
        n = F.size(toks)
        extra = F.greatest(F.lit(0), n - F.lit(chunk_tokens))
        n_chunks = F.lit(1) + F.floor(
            (extra + F.lit(step - 1)).cast("double") / F.lit(float(step))
        ).cast("int")
        idx = F.sequence(F.lit(0), n_chunks - F.lit(1))
        return F.transform(
            idx,
            lambda i: F.array_join(
                F.slice(toks, i * F.lit(step) + F.lit(1), chunk_tokens), " "
            ),
        )

    chunks = _bind(tokenize(F.col(text_col)), _chunks)
    return docs.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_id", "chunk_text"),
    ).withColumn(
        "n_chunk_tokens", F.size(F.split(F.col("chunk_text"), r"\s+"))
    )


def pack_chunks(
    chunks: DataFrame,
    seq_tokens: int = 512,
    n_shards: int = 64,
    doc_col: str = "doc_id",
    chunk_col: str = "chunk_id",
    tok_col: str = "n_chunk_tokens",
) -> DataFrame:
    """Sequence packing: assign chunks to fixed-budget training
    sequences by running token count, greedy in (doc, chunk) order —
    the step between chunking and batch assembly.

    A chunk whose cumulative span crosses a boundary starts at its
    offset and may be truncated downstream (standard pack-with-
    truncation semantics); pack ids are (shard, pack_id) pairs.

    Scale: a single global ordered cumsum would serialize on one
    partition, so packing runs per shard (``doc_id % n_shards`` —
    deterministic, no hash functions) and each shard's window sorts
    locally after one shuffle.  Shards are independent training
    streams, which is exactly how multi-worker loaders consume packs.
    """
    from pyspark.sql import Window

    shard = (F.col(doc_col) % F.lit(n_shards)).cast("int")
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(doc_col), F.col(chunk_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_cum = chunks.withColumn("shard", shard).withColumn(
        "cum_tokens", F.sum(F.col(tok_col)).over(w)
    )
    pack_id = F.floor(
        (F.col("cum_tokens") - F.col(tok_col)).cast("double")
        / F.lit(float(seq_tokens))
    ).cast("long")
    return with_cum.withColumn("pack_id", pack_id)


def ngram_support(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    min_df: int = 2,
    digits: int = 4,
) -> DataFrame:
    """Cross-document n-gram support — the exact-arithmetic analog of a
    corpus-LM/perplexity filter: for each document, the share of its
    distinct word n-grams that also occur in at least ``min_df``
    documents corpus-wide.  A low support share means the document is
    mostly novel text (or noise); a share near 1.0 means boilerplate.

    Plan: one explode of distinct per-doc n-grams → document frequency
    per n-gram (map-side-combined count) → join back on the n-gram →
    per-doc ratio.  The n-gram string is replaced by its md5 before
    either shuffle, so shuffle width is a fixed 32-hex key regardless
    of n — the same trick as MinHash bucketing.  The ratio is an exact
    integer division (HALF-UP, DECIMAL div), engine-portable.
    """
    from sparkgraft.operators.stats import MEAN_SCALE, exact_mean

    grams = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_shingles(tokenize(F.col(text_col)), n))
        ).alias("gram"),
    ).select(F.col(id_col), F.md5(F.col("gram")).alias("g"))
    df_table = grams.groupBy("g").agg(
        F.countDistinct(id_col).alias("df")
    )
    per_doc = (
        grams.join(df_table, "g")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                F.when(F.col("df") >= min_df, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_supported"),
        )
    )
    return per_doc.select(
        F.col(id_col),
        "n_grams",
        "n_supported",
        exact_mean(
            F.col("n_supported") * F.lit(MEAN_SCALE), F.col("n_grams"), digits
        ).alias("support_share"),
    )


def hash_classifier_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "w0",
    digits: int = 4,
) -> DataFrame:
    """Linear text-classifier scoring via the feature-hashing trick
    (the fastText/VW serving shape): each token hashes to a bucket
    whose weight is looked up, the document score is the mean token
    weight, and the label is its sign.

    The weight table here is a deterministic hash-derived stand-in
    (md5(token+salt) → integer milliweight in [-1000, 1000]) so the
    full serving path — featurize, weight lookup, reduce, threshold —
    is testable without shipping a model file; a trained model drops in
    by replacing the weight expression with a broadcast map keyed by
    the same feature hash.

    Pure array expressions: no shuffle, no UDF — classifier scoring at
    scan speed.  Sums are exact integers (milliweights), the mean is
    the HALF-UP DECIMAL-div kernel, and the label thresholds the
    integer sum, so results are engine-portable bit-for-bit.
    """
    from sparkgraft.operators.stats import exact_mean

    toks = tokenize(F.col(text_col))

    def w(t: Column) -> Column:
        h = F.conv(F.substring(F.md5(F.concat(t, F.lit(salt))), 1, 8), 16, 10)
        return h.cast("long") % 2001 - 1000

    sum_milli = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + w(t)
    )
    n = F.size(toks)
    return docs.select(
        F.col(id_col),
        n.alias("n_tokens"),
        sum_milli.alias("sum_milliweight"),
        exact_mean(sum_milli * F.lit(1000), n, digits).alias("score"),
        (sum_milli > 0).alias("label"),
    )


def minhash_prep(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 12,
    bands: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Shared MinHash prep: (base, banded) for one side of a near-dup
    check — ``base`` = (id, sh) shingle sets, ``banded`` = (id, band,
    bucket) LSH keys.  This pair IS the persistable near-dup index: a
    production ingest pipeline writes it once per batch and appends,
    instead of re-shingling history every day (see
    ``streaming.pipeline.dedup_admission`` for the streaming form).

    Persist rule: both tables come back persisted, because every caller
    reads ``banded`` at least twice; whoever owns the action unpersists
    them (``dedup_admission`` does at batch end).  A repeat of the same
    plan reuses the cached entry rather than adding one."""
    from sparkgraft.operators.scale import widen_narrow_scan

    # incremental_dedup's side tag rides along both tables.
    tag = [_SIDE] if _SIDE in df.columns else []
    # Shingling + the md5 minhashes per doc are CPU-dense and run at
    # the scan's parallelism — widen a narrow scan first (no-op on a
    # production-wide one).
    base = widen_narrow_scan(df).select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            word_shingles(tokenize(F.col(text_col)), shingle_k)
        ).alias("sh"),
        *tag,
    ).persist()
    sig = base.select("id", *tag, *minhash_signature("sh", num_hashes))
    bb = lsh_bands([f"mh_{j}" for j in range(num_hashes)], bands, num_hashes // bands)
    banded = sig.select("id", *tag, F.explode(bb).alias("bb")).select(
        "id", *tag, "bb.band", "bb.bucket"
    ).persist()
    return base, banded


def crossside_verdicts(
    new_base: DataFrame,
    new_banded: DataFrame,
    hist_base: DataFrame,
    hist_banded: DataFrame,
    new_ids: DataFrame,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Core of the incremental near-dup check on PREPPED sides: banded
    candidate join (cross-side only), exact-Jaccard verify, per-new-doc
    verdict.  ``new_ids`` = one (new_id) row per incoming doc so clean
    docs appear with is_duplicate = false."""
    cand = (
        new_banded.select("band", "bucket", F.col("id").alias("new_id"))
        .join(
            hist_banded.select("band", "bucket", F.col("id").alias("hist_id")),
            ["band", "bucket"],
        )
        .select("new_id", "hist_id")
        .distinct()
    )
    # Both verify sides scale with the corpus — pin spillable sort-merge
    # so a size misestimate can't broadcast a shingle table (see the
    # note in minhash_dedup_pairs; same driver-OOM cliff, measured).
    verified = (
        cand.join(
            new_base.withColumnsRenamed({"id": "new_id", "sh": "sh_n"}).hint(
                "merge"
            ),
            "new_id",
        )
        .join(
            hist_base.withColumnsRenamed({"id": "hist_id", "sh": "sh_h"}).hint(
                "merge"
            ),
            "hist_id",
        )
        .select(
            "new_id",
            "hist_id",
            jaccard_rounded(F.col("sh_n"), F.col("sh_h"), 4).alias("j"),
        )
        .filter(F.col("j") >= min_jaccard)
    )
    best = verified.groupBy("new_id").agg(
        F.min("hist_id").alias("dup_of"),
        F.max("j").alias("jaccard"),
    )
    return new_ids.join(best.hint("merge"), "new_id", "left").select(
        F.col("new_id"),
        F.col("dup_of").isNotNull().alias("is_duplicate"),
        "dup_of",
        "jaccard",
    )


def incremental_dedup(
    new_docs: DataFrame,
    history: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 12,
    bands: int = 2,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Incremental near-dup admission: flag each NEW-batch document
    that near-duplicates the existing HISTORY corpus — the daily-ingest
    shape (history is the accumulated corpus; only cross-side pairs
    matter, never history×history).

    Same two-shuffle MinHash discipline as
    :func:`minhash_dedup_pairs`: both sides band into (band, bucket)
    keys, the candidate join crosses new×history buckets only, and
    exact Jaccard verifies candidates.  At 100 TB the history side's
    banded keys are a compact persisted index — rebuilding signatures
    for history every batch is the thing to avoid in production (write
    the banded table once, append to it).

    Returns one row per new doc: (id, is_duplicate, dup_of, jaccard)
    with ``dup_of`` = the smallest matching history id (NULL when
    admitted).
    """
    # One prep over the tagged union (one scan, one persisted shingle
    # table): filtering on the tag commutes with per-row shingling, so
    # the per-side views give the verdicts of two separate preps.
    def side(df: DataFrame, new: bool) -> DataFrame:
        return df.select(id_col, text_col, F.lit(new).alias(_SIDE))

    base, banded = minhash_prep(
        side(new_docs, True).unionByName(side(history, False)),
        id_col, text_col, shingle_k, num_hashes, bands,
    )
    is_new = F.col(_SIDE)
    new_base = base.filter(is_new).drop(_SIDE)
    out = crossside_verdicts(
        new_base,
        banded.filter(is_new).drop(_SIDE),
        base.filter(~is_new).drop(_SIDE),
        banded.filter(~is_new).drop(_SIDE),
        new_base.select(F.col("id").alias("new_id")),
        min_jaccard,
    )
    return out.withColumnRenamed("new_id", id_col)


def ngram_lm_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    digits: int = 4,
) -> DataFrame:
    """Bigram language-model quality scoring (the CCNet/KenLM-style
    perplexity filter): train add-one-smoothed bigram counts over the
    corpus itself and score each document by its mean bigram log
    probability ln((c(w1,w2)+1) / (c(w1)+V)).  Low scores mark
    incoherent / machine-generated text; the standard LLM-curation
    quality signal next to the classifier gate (hash_classifier_score).

    Plan: unigram and bigram count tables are vocabulary-sized
    aggregates with map-side combine; the corpus's exploded bigram
    stream joins them on the n-gram key (build sides are vocabulary-
    sized — candidates for broadcast when the vocab is small, plain
    shuffle joins otherwise) and V arrives as a broadcast 1-row
    aggregate — no driver-side action, one lazy plan.  Per-bigram
    log-probs are quantized to DECIMAL(18,6) BEFORE the per-doc sum so
    the reduction is exact integer arithmetic: order-independent,
    partitioning-independent, engine-portable bit-for-bit.  Documents
    with fewer than two tokens survive with n_bigrams = 0 (left join).
    """
    from sparkgraft.operators.scale import widen_narrow_scan

    toks = tokenize(F.col(text_col))
    # Tokenize + bigram explode feed every downstream shuffle from the
    # scan's parallelism — widen a narrow scan (no-op when wide).
    base = widen_narrow_scan(docs).select(
        F.col(id_col).alias("id"), toks.alias("t")
    )
    n = F.size(F.col("t"))
    pairs = F.when(
        n >= 2,
        F.zip_with(
            F.slice(F.col("t"), F.lit(1), n - 1),
            F.slice(F.col("t"), F.lit(2), n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bi = base.select("id", F.explode(pairs).alias("p")).select(
        "id", "p.w1", "p.w2"
    )
    uni = (
        base.select(F.explode("t").alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c1"))
    )
    big = bi.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    vocab = uni.agg(F.count("*").alias("v"))
    logp = F.log(
        (F.col("c2") + F.lit(1)).cast("double")
        / (F.col("c1") + F.col("v")).cast("double")
    )
    per_doc = (
        bi.join(big, ["w1", "w2"])
        .join(uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .select("id", F.round(logp, 6).cast("decimal(18,6)").alias("lp6"))
        .groupBy("id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.sum("lp6").cast("double") / F.count("*"), digits
            ).alias("avg_logp"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "avg_logp",
        )
    )


def span_coverage_gate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 8,
    max_dup_permille: int = 300,
    digits: int = 4,
) -> DataFrame:
    """Duplicated-text-fraction gate (the Gopher/RefinedWeb repetition
    cut at corpus granularity): for each document, the fraction of its
    tokens covered by ``window_tokens``-token windows whose text occurs
    more than once in the corpus; documents above ``max_dup_permille``
    are flagged for removal.

    Plan: :func:`duplicate_spans`' compact (id, start, hash) stream →
    per-doc interval UNION via the gaps-and-islands running max (one
    window over (id, start) — overlapping/touching windows merge, so
    covered tokens are never double-counted) → integer covered-token
    sums joined back to per-doc token counts.  The keep decision is an
    integer cross-multiplication; only the displayed fraction divides
    (deterministic IEEE double, rounded).  Text never shuffles.
    """
    from pyspark.sql import Window

    k = window_tokens
    spans = duplicate_spans(docs, id_col, text_col, window_tokens=k).select(
        F.col(id_col).alias("id"), "start", (F.col("start") + k).alias("e")
    )
    w_prev = (
        Window.partitionBy("id")
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("id")
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = spans.withColumn(
        "brk",
        F.when(
            F.col("start") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("g", F.sum("brk").over(w_run))
    covered = (
        islands.groupBy("id", "g")
        .agg((F.max("e") - F.min("start")).alias("ilen"))
        .groupBy("id")
        .agg(F.sum("ilen").cast("long").alias("covered_tokens"))
    )
    base = docs.select(
        F.col(id_col).alias("id"),
        F.size(tokenize(F.col(text_col))).alias("n_tokens"),
    )
    return (
        base.join(covered, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            # Integer-ratio kernel, never round(double): covered/n_tokens
            # terminates ON the round(·,4) half-boundary for real docs
            # (boundary audit hit 0.96875 = 31/32), flipping between
            # engines.
            exact_ratio(
                F.coalesce("covered_tokens", F.lit(0)),
                F.col("n_tokens"),
                digits,
            ).alias("dup_fraction"),
            (
                F.coalesce("covered_tokens", F.lit(0)) * 1000
                <= F.lit(max_dup_permille) * F.col("n_tokens")
            ).alias("keep"),
        )
    )


def gopher_quality(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 10,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, table A1)
    plus a character-entropy signal — the rule-based filter stage every
    LLM curation pipeline runs before model-based scoring.

    Per document, all as shuffle-free projections (scan-speed at any
    corpus size): word count and mean word length bounds, symbol-to-
    word ratio (# and ellipsis), bullet-started / ellipsis-ended line
    fractions, fraction of words containing an alphabetic character,
    duplicate-line fraction, and Shannon character entropy; ``keep``
    is the conjunction of the classic thresholds.

    Determinism: entropy folds cnt*ln(cnt) terms quantized to
    DECIMAL(18,6) over the SORTED distinct-character array, so the
    reduction is exact integer arithmetic in a fixed order — engine-
    portable (the DuckDB oracle mirrors the same fold).
    """
    from sparkgraft.operators.scale import widen_narrow_scan

    # CPU-dense per-row work (char sort + entropy fold + regex scans:
    # higher-order-function lambdas evaluate interpreted, ~1.2 s/5k
    # docs) with NO downstream shuffle — a single-file scan serializes
    # the whole stage into one task (r13 optimization round, guide
    # §2.6/§1: measured 1.46 s → 0.31 s at sf0.1).  No-op on a wide
    # production scan.
    docs = widen_narrow_scan(docs)
    words = tokenize(F.col(text_col))
    n_words = F.size(words)
    word_lens = F.aggregate(
        F.transform(words, lambda w: F.length(w)), F.lit(0), lambda a, x: a + x
    )
    mean_wl = word_lens.cast("double") / n_words
    n_sym = F.regexp_count(F.col(text_col), F.lit(r"#|\.\.\."))
    lines = F.split(F.col(text_col), r"\n")
    n_lines = F.size(lines)
    bullet_lines = F.size(
        F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]"))
    )
    ellipsis_lines = F.size(F.filter(lines, lambda l: l.rlike(r"\.\.\.\s*$")))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    dup_lines = n_lines - F.size(F.array_distinct(lines))
    # Shannon entropy over characters: H = ln(n) - sum(cnt*ln(cnt))/n.
    # Single O(n) pass: run-length fold over the SORTED char array —
    # each run's cnt*ln(cnt) term quantizes to DECIMAL(18,6) before an
    # exact (order-free) sum, so the result equals the oracle's
    # grouped-count formulation bit-for-bit.  (The per-distinct-char
    # filter formulation was O(n*u) lambda evaluations per doc —
    # measured 5x slower on the bench corpus.)
    chars = F.split(F.col(text_col), "")
    n_chars = F.length(F.col(text_col))
    srt = F.array_sort(chars)

    def _term(run: Column) -> Column:
        return F.round(
            run.cast("double") * F.log(run.cast("double")), 6
        ).cast("decimal(18,6)")

    def _flush(acc: Column) -> Column:
        # Add the open run's term (0-run start state contributes 0).
        return F.when(
            acc.getField("run") > 0,
            (acc.getField("s") + _term(acc.getField("run"))).cast(
                "decimal(28,6)"
            ),
        ).otherwise(acc.getField("s"))

    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("decimal(28,6)").alias("s"),
    )
    ent_sum = F.aggregate(
        srt,
        acc0,
        lambda a, c: F.when(
            a.getField("prev") == c,  # null prev -> new-run branch
            F.struct(
                c.alias("prev"),
                (a.getField("run") + F.lit(1)).alias("run"),
                a.getField("s").alias("s"),
            ),
        ).otherwise(
            F.struct(
                c.alias("prev"),
                F.lit(1).cast("long").alias("run"),
                _flush(a).alias("s"),
            )
        ),
        _flush,
    )
    entropy = F.when(
        n_chars > 0,
        F.round(
            F.log(n_chars.cast("double"))
            - ent_sum.cast("double") / n_chars.cast("double"),
            4,
        ),
    ).otherwise(F.lit(0.0))
    # Every ratio below divides integer counts: emit HALF-UP via the
    # exact integer kernel (round-9 — boundary_audit found mean word
    # length 4.28125 sitting exactly ON the 4-digit half-boundary).
    sym_ratio = exact_ratio(n_sym, n_words, 4)
    bullet_frac = exact_ratio(bullet_lines, n_lines, 4)
    ellipsis_frac = exact_ratio(ellipsis_lines, n_lines, 4)
    alpha_frac = exact_ratio(alpha_words, n_words, 4)
    dup_line_frac = exact_ratio(dup_lines, n_lines, 4)
    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_wl >= 3.0)
        & (mean_wl <= 10.0)
        & (sym_ratio < 0.1)
        & (bullet_frac < 0.9)
        & (ellipsis_frac < 0.3)
        & (alpha_frac >= 0.8)
    )
    return docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        exact_ratio(word_lens, n_words, 4).alias("mean_word_len"),
        sym_ratio.alias("symbol_word_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ellipsis_frac.alias("ellipsis_line_frac"),
        alpha_frac.alias("alpha_word_frac"),
        dup_line_frac.alias("dup_line_frac"),
        entropy.alias("char_entropy"),
        keep.alias("keep"),
    )


def setsim_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    digits: int = 4,
) -> DataFrame:
    """EXACT set-similarity self-join — every pair with token-set
    Jaccard >= ``threshold``, found WITHOUT blocking keys and WITHOUT
    the all-pairs product: PPJoin-style prefix filtering (Xiao et al.
    WWW 2008), the exact complement of MinHash-LSH (which trades
    recall for speed; this trades nothing).

    How the pair space collapses:

    1. Tokens order globally by (corpus frequency, token) ascending —
       RAREST FIRST, totally tie-broken, so every document ranks its
       tokens identically.
    2. Each document exposes only its PREFIX: the first
       ``|S| - ceil(t*|S|) + 1`` tokens in that order.  Two sets with
       Jaccard >= t must overlap in at least ``ceil(t/(1+t)*(|a|+|b|))``
       tokens, which pigeonholes at least one shared token into both
       prefixes — prefix candidates have NO false negatives (the
       classic prefix-filter guarantee).
    3. Candidates equi-join on prefix tokens only (rare tokens — the
       hot-token quadratic never forms), length-filtered by
       ``t*|a| <= |b| <= |a|/t``, then verified by exact intersection
       on the full token sets.

    Scale shape: the shuffle carries (token, id, size) prefix rows —
    a 2/(1+t)-ish fraction of the token stream, skewed toward rare
    tokens by construction; the verify join is candidate-sized.
    Output ``(id_a, id_b, jaccard)``, jaccard rounded to ``digits``.

    The tokenized base (referenced by the frequency count AND both
    verify sides) and the prefix table (referenced by both candidate
    sides) are localCheckpointed, so tokenization and the rank window
    each run ONCE instead of once per plan branch — the LSH-bands
    signature-table discipline.
    """
    from sparkgraft.operators.scale import widen_narrow_scan

    t = float(threshold)
    # Tokenization is the CPU-dense per-row stage and the checkpoint
    # below materializes it at the SCAN's parallelism — widen a narrow
    # (single-file) scan first or it runs single-task (r13 optimization
    # round, guide §2.6; no-op on a wide production scan).
    base = widen_narrow_scan(docs).select(
        F.col(id_col).cast("string").alias("id"),
        F.array_distinct(tokenize(F.col(text_col))).alias("toks"),
    ).filter(F.size("toks") > 0).localCheckpoint()
    tok = base.select("id", F.size("toks").alias("n"),
                      F.explode("toks").alias("w"))
    freq = tok.groupBy("w").agg(F.count("*").alias("c"))
    w_rank = Window.partitionBy("id").orderBy("c", "w")
    ranked = tok.join(freq, "w").withColumn(
        "rn", F.row_number().over(w_rank)
    )
    prefix = ranked.filter(
        F.col("rn") <= F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1
    ).select("w", "id", "n").localCheckpoint()
    a = prefix.select(
        "w", F.col("id").alias("id_a"), F.col("n").alias("n_a")
    )
    b = prefix.select(
        "w", F.col("id").alias("id_b"), F.col("n").alias("n_b")
    )
    cand = (
        a.join(b, "w")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("n_b") >= F.lit(t) * F.col("n_a"))
            & (F.col("n_a") >= F.lit(t) * F.col("n_b"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # verify on the full sets — candidate-sized join; both text-
    # carrying sides scale with the corpus, so pin spillable merge
    # (the minhash verify-join OOM discipline)
    fa = base.select(F.col("id").alias("id_a"), F.col("toks").alias("t_a"))
    fb = base.select(F.col("id").alias("id_b"), F.col("toks").alias("t_b"))
    return (
        cand.join(fa.hint("merge"), "id_a")
        .join(fb.hint("merge"), "id_b")
        .select(
            "id_a",
            "id_b",
            jaccard_rounded(F.col("t_a"), F.col("t_b"), digits).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= t)
    )
