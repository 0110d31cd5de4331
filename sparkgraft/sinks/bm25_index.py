"""Persisted BM25 inverted index: the offline-build / online-serve
split of lexical retrieval, symmetric to ``sinks/ann_index.py`` on the
semantic side.

Layout under ``index_dir`` (plain parquet — readable by any engine):

- ``postings/``  one row per (doc, matching term) — (term, id, tf, dl),
                 **partitioned by a deterministic md5 term bucket**.
                 This is the scale lever: a query's terms hash to a
                 handful of buckets, Spark turns the bucket predicate
                 into parquet PartitionFilters, and the term equality
                 pushes into the row-group scan — at 100 TB a k-term
                 query reads ~k/n_buckets of the postings files.
- ``terms/``     (term, df) document frequencies, same bucketing.
- ``stats/``     one row: (n_docs, sum_dl) — avgdl = sum_dl/n_docs is
                 exact (integer sums in a double), so serving scores
                 are BIT-IDENTICAL to the in-memory
                 :func:`sparkgraft.operators.textops.bm25_rank` on the
                 same corpus (asserted by the `bm25_index_serve` query
                 reusing `bm25_search`'s DuckDB oracle verbatim).
- ``docs/``      live-docs table (id, dl) — doc-level truth for
                 deletion and empty-doc accounting.
- ``tombstones/`` logical-delete ids (:func:`delete_bm25_index`);
                 serving anti-joins them, :func:`compact_bm25_index`
                 physically removes their postings.

The reference's closest analog is its newest-file probe + report scan
(SURVEY §2.2 S4/S8) — batch artifacts written once and served by
filtered reads; this applies the same discipline to retrieval.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkgraft.operators.textops import tokenize
from sparkgraft.sinks.tombstones import id_frame, read_tombstones


def _term_bucket(term: Column, n_buckets: int) -> Column:
    """Deterministic md5 bucket (the engine's standard hash toolkit —
    portable across engines and stable across Spark versions, unlike
    ``hash()``)."""
    return F.pmod(
        F.conv(F.substring(F.md5(term), 1, 4), 16, 10).cast("long"),
        F.lit(n_buckets),
    ).cast("int")


def _index_buckets(spark: SparkSession, index_dir: str, fallback: int) -> int:
    """The bucket count the index was BUILT with (persisted in stats
    since round 7) — a destructive rewrite or a serve must never trust
    a caller-passed value that may differ from the layout's.

    For pre-round-7 indexes whose stats lack the column, the count is
    DERIVED from the partition layout and VERIFIED by recomputing
    every term's bucket (one vocabulary-sized scan, paid only by
    legacy indexes): a guessed count that disagrees with the layout
    would make later serves prune postings with mismatched bucket ids
    and silently drop matches.  Raises if neither the derived
    candidate nor the caller's value reproduces the layout."""
    st = _read_artifact(spark, index_dir, "stats")
    if "n_buckets" in st.columns:
        return int(st.first()["n_buckets"])
    import os
    import re

    seen = set()
    for sub in ("terms", "postings"):
        for p in _live_paths(index_dir, sub):
            for n in os.listdir(p):
                m = re.fullmatch(r"bucket=(\d+)", n)
                if m:
                    seen.add(int(m.group(1)))
    terms = _read_artifact(spark, index_dir, "terms")
    for cand in dict.fromkeys(([max(seen) + 1] if seen else []) + [fallback]):
        bad = (
            terms.filter(_term_bucket(F.col("term"), cand) != F.col("bucket"))
            .limit(1)
            .count()
        )
        if not bad:
            return cand
    raise ValueError(
        f"cannot determine the build-time bucket count of legacy index "
        f"{index_dir}: neither the layout-derived candidate nor the "
        f"caller's value ({fallback}) reproduces the existing bucket "
        f"partitioning; pass the build-time n_buckets explicitly"
    )


def _merge_dir_into(src: str, dest: str) -> None:
    """Move every data file of ``src`` into ``dest``, preserving
    partition subdirectories — the APPLY step of a journal-committed
    append.  Idempotent under crash-retry: file names are Spark's
    UUID-unique part files, each move is one ``os.replace``, and a
    re-apply simply moves whatever is still left in ``src``."""
    import os
    import shutil

    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        out = dest if rel == "." else os.path.join(dest, rel)
        for n in files:
            if n.startswith(("_", ".")):
                continue  # _SUCCESS / CRC markers need no replay
            os.makedirs(out, exist_ok=True)
            os.replace(os.path.join(root, n), os.path.join(out, n))
    shutil.rmtree(src, ignore_errors=True)


def _repair_bm25_index(index_dir: str) -> None:
    """Finish or discard a crashed multi-artifact rewrite (round-8
    hardening).  Every mutator (:func:`append_bm25_index`,
    :func:`delete_bm25_index`, :func:`compact_bm25_index`) stages ALL
    artifacts it will touch — directory swaps as ``*_staging``,
    additive appends as ``*_incoming`` — then commits with one atomic
    journal rename, the single commit point the versioned.py
    manifest-claim discipline uses.  Repair:

    - journal present → the staged artifacts are the index's truth;
      apply any swap/append the crash left unfinished (idempotent — a
      staged dir that already swapped is simply gone, an incoming dir
      replays only its remaining files), honor any pending directory
      clears, then drop the journal;
    - journal absent → any ``*_staging``/``*_incoming`` leftovers are
      pre-commit garbage from a crash during staging; discard them
      (the live artifacts were never touched).

    ONLY MUTATORS CALL THIS — a read-only caller must never remove
    staging/incoming dirs, which may belong to a LIVE writer that has
    not committed yet (the round-8 review's serve-during-delete
    corruption window).  Serving never calls repair; it reads THROUGH
    a committed journal via :func:`_live_paths`."""
    import json
    import os
    import shutil

    journal = f"{index_dir}/_commit_journal"
    arts = ("terms", "docs", "stats", "tombstones", "postings")
    if os.path.isfile(journal):
        with open(journal) as f:
            plan = json.load(f)
        for a in plan.get("staged", []):
            s = f"{index_dir}/{a}_staging"
            if os.path.isdir(s):
                dest = f"{index_dir}/{a}"
                shutil.rmtree(dest, ignore_errors=True)
                os.replace(s, dest)
        for a in plan.get("append", []):
            inc = f"{index_dir}/{a}_incoming"
            if os.path.isdir(inc):
                os.makedirs(f"{index_dir}/{a}", exist_ok=True)
                _merge_dir_into(inc, f"{index_dir}/{a}")
        for a in plan.get("clear", []):
            shutil.rmtree(f"{index_dir}/{a}", ignore_errors=True)
        os.remove(journal)
    else:
        for a in arts:
            for suffix in ("_staging", "_incoming"):
                s = f"{index_dir}/{a}{suffix}"
                if os.path.isdir(s):
                    shutil.rmtree(s)


def _live_paths(index_dir: str, name: str) -> list[str]:
    """Read-side resolution of artifact ``name`` honoring a committed
    but not-yet-applied journal — the serve path's NON-MUTATING view:

    - journal stages ``name`` and the staging dir still exists → the
      staging dir IS the truth (the live dir is the doomed old copy);
    - journal appends ``name`` → live dir plus the incoming dir (union
      read — both are committed content);
    - journal clears ``name`` → nothing;
    - otherwise → the live dir.

    Returns a (possibly empty) path list; readers skip missing dirs.
    """
    import json
    import os

    live = f"{index_dir}/{name}"
    journal = f"{index_dir}/_commit_journal"
    if os.path.isfile(journal):
        try:
            with open(journal) as f:
                plan = json.load(f)
        except (OSError, ValueError):
            plan = {}
        if name in plan.get("clear", []):
            return []
        if name in plan.get("staged", []):
            s = f"{index_dir}/{name}_staging"
            if os.path.isdir(s):
                return [s]
            return [live] if os.path.isdir(live) else []
        if name in plan.get("append", []):
            inc = f"{index_dir}/{name}_incoming"
            # INCOMING FIRST: _read_artifact snapshot-lists the roots
            # in this order, and a concurrent journal apply only moves
            # files incoming -> live.  Listed incoming-first, a file
            # moved mid-listing appears in at least one snapshot (a
            # stale incoming path then fails LOUDLY at scan time);
            # listed live-first it could leave incoming after the live
            # glob and arrive in live after the incoming glob — in
            # NEITHER snapshot, a silent under-read of committed
            # postings.  _read_artifact dedupes by part basename in
            # case it lands in both.
            return [p for p in (inc, live) if os.path.isdir(p)]
    return [live] if os.path.isdir(live) else []


def _read_artifact(spark: SparkSession, index_dir: str, name: str):
    """Read artifact ``name`` through :func:`_live_paths`.  Multiple
    roots (live + committed incoming) load separately and union —
    Spark rejects one partitioned read spanning different root dirs.

    Each root's parquet files are SNAPSHOT-LISTED here and read as an
    explicit file list (with ``basePath`` so partition columns still
    resolve): a concurrent mutator applying the committed journal
    moves files between the roots, and lazy directory listing at
    action time could then count a moved file twice (or miss it).
    The roots list incoming-BEFORE-live (``_live_paths``' order) and
    the combined listing dedupes by part basename (Spark part names
    are UUID-unique), so a file the journal apply moves mid-listing
    shows up in at least one snapshot and counts once; a captured
    incoming path whose file has since moved fails LOUDLY at scan
    time (clean transient FileNotFound the caller can retry) — never
    a silent under-read or double-count.  On a basename collision the
    LIVE copy wins (it is the file's final home; the incoming twin is
    the one that can vanish).

    Raises FileNotFoundError when the artifact resolves to nothing —
    including a root directory with no parquet files at all (Spark's
    schema inference would otherwise fail with a misleading
    'Unable to infer schema'; every properly built artifact dir
    contains at least a zero-row schema file via
    _ensure_nonempty_dir)."""
    import glob
    import os

    paths = _live_paths(index_dir, name)
    if not paths:
        raise FileNotFoundError(
            f"bm25 index artifact '{name}' missing under {index_dir} "
            "(index not built, or artifact cleared)"
        )
    # Key = root-RELATIVE path (bucket=N/part-...): one write job reuses
    # the same part basename across partition dirs, so basenames alone
    # collide WITHIN a root; the journal apply preserves the relative
    # path when it moves incoming -> live, so cross-root twins of one
    # file still collapse to a single entry.
    listed: dict[str, tuple[str, str]] = {}  # relpath -> (root, path)
    for p in paths:  # incoming first, then live (see _live_paths)
        for f in glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True):
            listed[os.path.relpath(f, p)] = (p, f)  # later root (live) wins
    if not listed:
        raise FileNotFoundError(
            f"bm25 index artifact '{name}' has no parquet files under "
            f"{paths} (index dir corrupted or artifact never built)"
        )
    out = None
    by_root: dict[str, list[str]] = {}
    for root, f in listed.values():
        by_root.setdefault(root, []).append(f)
    for root in paths:
        files = sorted(by_root.get(root, []))
        if not files:
            continue
        part = spark.read.option("basePath", root).parquet(*files)
        out = part if out is None else out.unionByName(part)
    return out


def _commit_bm25_journal(index_dir: str, staged, clear=(), append=()) -> None:
    """Atomically write the commit journal (tmp + rename), then apply
    it via :func:`_repair_bm25_index`.  The rename is the commit
    point: before it no live artifact has been touched; after it any
    crash is finished by the next repair."""
    import json
    import os

    journal = f"{index_dir}/_commit_journal"
    tmp = journal + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {
                "staged": list(staged),
                "clear": list(clear),
                "append": list(append),
            },
            f,
        )
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, journal)
    _repair_bm25_index(index_dir)


def _ensure_nonempty_dir(spark: SparkSession, path: str, schema) -> None:
    """A partitionBy write of an EMPTY frame produces a file-less
    directory that later reads can't infer a schema from (the
    delete-every-doc end state of a GDPR workflow); backfill one
    zero-row schema-carrying parquet file."""
    import os

    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return
    spark.createDataFrame([], schema).write.mode("overwrite").parquet(path)


def write_bm25_index(
    index_dir: str,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> None:
    """Offline build: one tokenize pass → bucket-partitioned postings
    (term, id, tf, dl), bucketed term df table, 1-row corpus stats."""
    toks = tokenize(F.col(text_col))
    base = docs.select(
        F.col(id_col).alias("id"),
        F.size(toks).alias("dl"),
        F.explode(toks).alias("term"),
    )
    postings = base.groupBy("term", "id", "dl").agg(
        F.count("*").alias("tf")
    ).withColumn("bucket", _term_bucket(F.col("term"), n_buckets))
    postings.write.partitionBy("bucket").mode("overwrite").parquet(
        f"{index_dir}/postings"
    )
    terms = postings.groupBy("term").agg(F.count("*").alias("df")).withColumn(
        "bucket", _term_bucket(F.col("term"), n_buckets)
    )
    terms.write.partitionBy("bucket").mode("overwrite").parquet(
        f"{index_dir}/terms"
    )
    stats = docs.select(
        F.size(tokenize(F.col(text_col))).alias("dl")
    ).agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl"),
    ).withColumn("n_buckets", F.lit(n_buckets))
    stats.write.mode("overwrite").parquet(f"{index_dir}/stats")
    # live-docs table (id, dl): the Lucene live-docs idea — covers
    # empty-text docs (which have no postings but DO count in
    # n_docs/avgdl), and gives deletion an id-keyed dl lookup
    docs.select(
        F.col(id_col).alias("id"),
        F.size(tokenize(F.col(text_col))).alias("dl"),
    ).write.mode("overwrite").parquet(f"{index_dir}/docs")


def append_bm25_index(
    index_dir: str,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> None:
    """Incremental index maintenance — the daily-ingest shape: tokenize
    ONLY the new documents, append their postings (bucket-partitioned
    append — existing files untouched), and merge the term-df and
    corpus-stats tables by plain addition (document frequencies and
    token counts are sums, so the merged index is EXACTLY the full
    rebuild over old ∪ new — asserted in tests).  No re-tokenization of
    history, ever.

    ALL five artifacts commit through ONE journal rename (round-8
    review hardening): the new postings and docs rows stage as
    ``*_incoming`` directories and the journal's apply step moves
    their files into the live dirs, so a crash anywhere leaves either
    the complete old index (pre-commit: staging/incoming discarded, a
    retry appends once) or the complete new one (post-commit: repair
    finishes the moves) — never live postings with undecremented
    stats, and never a double-counted retry."""
    import os as _os

    spark = docs.sparkSession
    _repair_bm25_index(index_dir)
    n_buckets = _index_buckets(spark, index_dir, n_buckets)
    toks = tokenize(F.col(text_col))
    base = docs.select(
        F.col(id_col).alias("id"),
        F.size(toks).alias("dl"),
        F.explode(toks).alias("term"),
    )
    postings = base.groupBy("term", "id", "dl").agg(
        F.count("*").alias("tf")
    ).withColumn("bucket", _term_bucket(F.col("term"), n_buckets))
    postings.write.partitionBy("bucket").mode("overwrite").parquet(
        f"{index_dir}/postings_incoming"
    )
    # An EMPTY ingest batch (or all-empty texts) leaves a file-less
    # partitioned dir the read-back below couldn't schema-infer —
    # backfill a zero-row schema file so the append is a clean no-op.
    _ensure_nonempty_dir(
        spark, f"{index_dir}/postings_incoming", postings.schema
    )
    # df counts come from the STAGED incoming files (one read, and the
    # journal's truth), not a recomputation of the input
    staged_postings = spark.read.parquet(f"{index_dir}/postings_incoming")
    new_terms = staged_postings.groupBy("term").agg(F.count("*").alias("df"))
    old_terms = spark.read.parquet(f"{index_dir}/terms").select("term", "df")
    merged = (
        old_terms.unionByName(new_terms)
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .withColumn("bucket", _term_bucket(F.col("term"), n_buckets))
    )
    # the merged df table rewrites through a staged directory swap —
    # fully distributed (the vocabulary can be huge at corpus scale;
    # parquet can't lazily overwrite its own input, and a collect()
    # would put the vocab on the driver); terms + stats + the postings
    # and docs appends commit via one journal rename, so the live
    # index never sees a missing-terms window, a terms/stats mix of
    # old and new, or postings without their stats
    staging = f"{index_dir}/terms_staging"
    merged.write.partitionBy("bucket").mode("overwrite").parquet(staging)
    # An EMPTY staged frame must NOT journal as an append: its only
    # content is _ensure_nonempty_dir's zero-row schema file at the
    # incoming ROOT (bucket as a data column), and the journal apply
    # would move that flat file into the live bucket-partitioned
    # postings dir — a mixed flat/partitioned layout, which breaks
    # partition discovery, in a dir promised as 'plain parquet
    # readable by any engine'.  Skipped incoming dirs are removed here so a later
    # repair can't resurrect them.
    import shutil as _shutil

    appends = []
    if staged_postings.limit(1).count() > 0:
        appends.append("postings")
    else:
        _shutil.rmtree(f"{index_dir}/postings_incoming", ignore_errors=True)
    # stats come from the INPUT docs (a zero-token doc counts toward
    # n_docs but produces no postings rows)
    new_stats = docs.select(
        F.size(tokenize(F.col(text_col))).alias("dl")
    ).agg(F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl"))
    old = spark.read.parquet(f"{index_dir}/stats").first()
    new = new_stats.first()
    if _os.path.isdir(f"{index_dir}/docs") and int(new["n_docs"]) > 0:
        docs.select(
            F.col(id_col).alias("id"),
            F.size(tokenize(F.col(text_col))).alias("dl"),
        ).write.mode("overwrite").parquet(f"{index_dir}/docs_incoming")
        appends.append("docs")
    spark.createDataFrame(
        [(int(old["n_docs"]) + int(new["n_docs"]),
          int(old["sum_dl"]) + int(new["sum_dl"] or 0),
          n_buckets)],
        "n_docs long, sum_dl long, n_buckets int",
    ).write.mode("overwrite").parquet(f"{index_dir}/stats_staging")
    _commit_bm25_journal(
        index_dir, ["terms", "stats"], append=appends
    )


def bm25_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    query_terms: list[str],
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int = 64,
) -> DataFrame:
    """Serve BM25 from the persisted index: the query's term set prunes
    postings/terms to their buckets (PartitionFilters) and pushes the
    term equality into the scan; scoring replays bm25_rank's exact
    expressions, so the round trip is bit-identical to the in-memory
    operator.

    Serving is strictly NON-MUTATING (round-8 review hardening): a
    committed-but-unapplied journal is read THROUGH (staged dirs are
    the truth, incoming appends union in), and a live writer's
    pre-commit staging is never touched — the previous serve-entry
    repair could destroy a concurrent delete's staging and corrupt its
    commit."""
    qset = sorted(set(query_terms))
    n_buckets = _index_buckets(spark, index_dir, n_buckets)
    buckets = sorted(
        {
            int.from_bytes(
                __import__("hashlib").md5(t.encode()).digest()[:2], "big"
            )
            % n_buckets
            for t in qset
        }
    )
    post = (
        _read_artifact(spark, index_dir, "postings")
        .filter(F.col("bucket").isin(buckets) & F.col("term").isin(qset))
        .select("term", "id", "dl", "tf")
    )
    tomb = read_tombstones(spark, _live_paths(index_dir, "tombstones"), "id")
    if tomb is not None:
        # logically-deleted docs drop before scoring; df/stats were
        # adjusted at delete time, so scores equal a rebuilt index
        post = post.join(F.broadcast(tomb), "id", "left_anti")
    dfreq = (
        _read_artifact(spark, index_dir, "terms")
        .filter(F.col("bucket").isin(buckets) & F.col("term").isin(qset))
        .select("term", "df")
    )
    stats = _read_artifact(spark, index_dir, "stats").select(
        "n_docs",
        # empty index (delete-all end state): no postings survive, so
        # the avgdl placeholder never reaches a score — but the
        # division must not raise under ANSI mode
        F.when(
            F.col("n_docs") > 0,
            F.col("sum_dl").cast("double") / F.col("n_docs"),
        ).otherwise(F.lit(1.0)).alias("avgdl"),
    )
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
        post.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("id")
        .agg(F.round(F.sum(idf * tf_part), 4).alias("bm25"))
    )
    topk = scored.orderBy(F.col("bm25").desc(), F.col("id").asc()).limit(k)
    w = Window.orderBy(F.col("bm25").desc(), F.col("id").asc())
    return topk.withColumn("rnk", F.row_number().over(w)).select(
        F.col("id").alias(id_col), "bm25", "rnk"
    )


def delete_bm25_index(
    spark: SparkSession,
    index_dir: str,
    ids,
    n_buckets: int = 64,
) -> None:
    """Right-to-be-forgotten for the lexical index (the BM25 twin of
    :func:`sparkgraft.sinks.ann_index.delete_ann_index`): after this,
    served scores EXACTLY equal a rebuild over the corpus minus the
    ids — which for BM25 means more than dropping their rows: every
    surviving score shifts, because n_docs/avgdl and the deleted docs'
    term df all feed idf.  So the delete (a) extracts the victims'
    postings in ONE postings scan (the id→terms map lives only there;
    GDPR deletions batch, so this amortizes like a Lucene merge),
    (b) decrements the term-df table and corpus stats by exact integer
    subtraction, (c) appends the ids to the tombstone set that serving
    anti-joins, and (d) rewrites the live-docs table.  Physical
    removal of the postings rows is :func:`compact_bm25_index`.

    ``ids`` may be an iterable or a one-column DataFrame.  Indexes
    built before the live-docs table fall back to postings-derived doc
    stats (empty-text docs untracked — they can't match queries, but
    their dl=0 rows would keep n_docs one too high; rebuild to fix).

    Crash-atomicity (round-8): the delete touches four artifacts
    (terms, docs, stats, tombstones); ALL are staged first and the
    whole set commits via one atomic journal rename
    (:func:`_commit_bm25_journal`) — a crash anywhere leaves either
    the untouched old index (pre-journal) or a state the next repair
    finishes (post-journal).  No window where df/stats are decremented
    but the victims' tombstones are missing."""
    import os

    _repair_bm25_index(index_dir)
    n_buckets = _index_buckets(spark, index_dir, n_buckets)
    ids_df = id_frame(spark, ids, "id", long_ids=True)
    if ids_df is None:
        return
    ids_df = ids_df.distinct()
    # Idempotence: a retried/overlapping GDPR batch must not decrement
    # df/stats twice for an already-tombstoned (not yet compacted) id —
    # only ids NEW to the tombstone set participate in the subtraction.
    prior = read_tombstones(spark, _live_paths(index_dir, "tombstones"), "id")
    if prior is not None:
        ids_df = ids_df.join(F.broadcast(prior), "id", "left_anti")
    ids_df = ids_df.localCheckpoint()  # id-list-sized; referenced 4x
    if not ids_df.limit(1).count():
        return
    staged = ["terms", "stats", "tombstones"]
    postings = spark.read.parquet(f"{index_dir}/postings")
    victim = postings.join(F.broadcast(ids_df), "id")
    dec = victim.groupBy("term").agg(F.count("*").alias("dec"))
    old_terms = spark.read.parquet(f"{index_dir}/terms").select("term", "df")
    merged = (
        old_terms.join(dec, "term", "left")
        .select(
            "term",
            (F.col("df") - F.coalesce(F.col("dec"), F.lit(0))).alias("df"),
        )
        .filter(F.col("df") > 0)
        .withColumn("bucket", _term_bucket(F.col("term"), n_buckets))
    )
    staging = f"{index_dir}/terms_staging"
    merged.write.partitionBy("bucket").mode("overwrite").parquet(staging)
    _ensure_nonempty_dir(spark, staging, merged.schema)
    # doc-level decrements: live-docs table when present (exact incl.
    # empty docs), else the victims' postings
    if os.path.isdir(f"{index_dir}/docs"):
        live = spark.read.parquet(f"{index_dir}/docs")
        gone = live.join(F.broadcast(ids_df), "id")
        d = gone.agg(
            F.count("*").alias("n"), F.sum("dl").alias("s")
        ).first()
        remain = live.join(F.broadcast(ids_df), "id", "left_anti")
        remain.write.mode("overwrite").parquet(f"{index_dir}/docs_staging")
        staged.append("docs")
    else:
        d = (
            victim.select("id", "dl")
            .distinct()
            .agg(F.count("*").alias("n"), F.sum("dl").alias("s"))
            .first()
        )
    old = spark.read.parquet(f"{index_dir}/stats").first()
    spark.createDataFrame(
        [(int(old["n_docs"]) - int(d["n"] or 0),
          int(old["sum_dl"]) - int(d["s"] or 0),
          n_buckets)],
        "n_docs long, sum_dl long, n_buckets int",
    ).write.mode("overwrite").parquet(f"{index_dir}/stats_staging")
    # tombstones: full staged rewrite (prior ∪ new — id-list-sized),
    # not an append, so the set swaps with the other three artifacts
    tombs = ids_df if prior is None else prior.unionByName(ids_df).distinct()
    tombs.write.mode("overwrite").parquet(f"{index_dir}/tombstones_staging")
    _commit_bm25_journal(index_dir, staged)


def compact_bm25_index(spark: SparkSession, index_dir: str) -> int:
    """PHYSICAL forgetting for the lexical index: rewrite the postings
    without the tombstoned docs' rows (staged directory swap — the
    periodic Lucene-merge shape; df/stats were already adjusted at
    delete time, so serving results are unchanged), then clear the
    tombstone set.  The postings swap and the tombstone clear commit
    together through the journal (:func:`_commit_bm25_journal`) — a
    crash can't leave compacted postings with live tombstones (double
    anti-join is harmless) or vice versa.  Returns the number of
    postings rows removed."""
    _repair_bm25_index(index_dir)
    tomb = read_tombstones(spark, _live_paths(index_dir, "tombstones"), "id")
    if tomb is None:
        return 0
    postings = spark.read.parquet(f"{index_dir}/postings")
    n_before = postings.count()
    remain = postings.join(F.broadcast(tomb), "id", "left_anti")
    staging = f"{index_dir}/postings_staging"
    remain.write.partitionBy("bucket").mode("overwrite").parquet(staging)
    _ensure_nonempty_dir(spark, staging, remain.schema)
    n_after = spark.read.parquet(staging).count()
    _commit_bm25_journal(index_dir, ["postings"], clear=["tombstones"])
    return n_before - n_after
