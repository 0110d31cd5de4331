"""Persisted IVF-PQ ANN index: the offline-build / online-serve split
every production vector store runs.

Layout under ``index_dir`` (all plain parquet — readable by any
engine):

- ``codes/``      one row per corpus vector — (neighbor_id, cv, cn,
                  codes), **partitioned by the IVF cluster** (``part``).
                  This is the scale lever: a query probing ``nprobe``
                  of ``n_clusters`` clusters reads ONLY those
                  partitions' files — Spark turns the probe filter
                  into parquet PartitionFilters, so at 100 TB the
                  serving scan touches nprobe/n_clusters of the data
                  (plan-asserted in tests/test_plan_audit.py).
- ``centroids/``  (cluster, centroid) — k rows.
- ``codebooks/``  (sub, cluster, centroid) — m*k rows.

The codes table carries the full vector (``cv``) so the exact-cosine
rerank is self-contained; ADC-only serving (memory-constrained tiers)
can drop that column and the layout still works — the ADC stage only
reads (neighbor_id, codes).

Results are BIT-IDENTICAL to the in-memory
:func:`sparkgraft.operators.similarity.ivfpq_topk` on the same
centroids/codebooks (same assignment, encode, ADC and rerank
expressions) — asserted by the oracle query `ann_index_serve`, which
reuses `ivfpq_ann`'s DuckDB mirror verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkgraft.operators.similarity import (
    _adc_queries,
    _adc_rerank,
    _drop_zero_norm,
    _vec_norm,
    assign_nearest,
    assign_nearest_multi,
    pq_encode,
)
from sparkgraft.sinks.tombstones import (
    append_tombstones,
    compact,
    read_tombstones,
    recover,
    tombstone_dir,
)


def write_ann_index(
    index_dir: str,
    vectors: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Offline build: assign + encode every vector once, write the
    cluster-partitioned codes table and the (tiny) index metadata."""
    from sparkgraft.operators.scale import widen_narrow_scan

    spark = vectors.sparkSession
    recover(index_dir, ["codes"])
    enc = widen_narrow_scan(vectors).select(
        F.col(id_col).alias("neighbor_id"),
        assign_nearest(vec_col, centroids).alias("part"),
        F.col(vec_col).cast("array<double>").alias("cv"),
        _vec_norm(vec_col).alias("cn"),
        pq_encode(vec_col, codebooks).alias("codes"),
    )
    enc.write.partitionBy("part").mode("overwrite").parquet(
        f"{index_dir}/codes"
    )
    spark.createDataFrame(
        [(c, [float(x) for x in v]) for c, v in centroids],
        "cluster int, centroid array<double>",
    ).write.mode("overwrite").parquet(f"{index_dir}/centroids")
    spark.createDataFrame(
        [
            (s, c, [float(x) for x in v])
            for s, cb in enumerate(codebooks)
            for c, v in cb
        ],
        "sub int, cluster int, centroid array<double>",
    ).write.mode("overwrite").parquet(f"{index_dir}/codebooks")


def append_ann_index(
    index_dir: str,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance — the daily-ingest shape, symmetric
    to :func:`sparkgraft.sinks.bm25_index.append_bm25_index` on the
    lexical side: encode ONLY the new vectors against the index's
    FROZEN centroids/codebooks (real IVF-PQ services never refit
    per append — quantizer drift is handled by periodic rebuilds) and
    partition-append their codes.  Existing cluster partitions gain
    files, none are rewritten, and no history vector is ever re-read.

    Because assignment/encode are pure functions of (vector, frozen
    metadata), the appended index EXACTLY equals a full rebuild over
    old ∪ new with the same centroids/codebooks; serving results are compared
    in tests/test_round4_ops.py::test_ann_index_append_equals_full_rebuild."""
    from sparkgraft.operators.scale import widen_narrow_scan

    recover(index_dir, ["codes"])
    centroids, codebooks, _ = read_ann_index(
        vectors.sparkSession, index_dir
    )
    enc = widen_narrow_scan(vectors).select(
        F.col(id_col).alias("neighbor_id"),
        assign_nearest(vec_col, centroids).alias("part"),
        F.col(vec_col).cast("array<double>").alias("cv"),
        _vec_norm(vec_col).alias("cn"),
        pq_encode(vec_col, codebooks).alias("codes"),
    )
    enc.write.partitionBy("part").mode("append").parquet(
        f"{index_dir}/codes"
    )


# Session-scoped index cache (the readers._TABLE_CACHE pattern): a
# serve re-read the (tiny) centroid/codebook parquet from disk on EVERY
# call — ~0.35 s of sequential driver work per serve at sf0.1 (r12
# ann_forget decomposition).  Keyed by the SESSION OBJECT identity (not
# applicationId alone — newSession() siblings share one applicationId,
# and the cached codes DataFrame is bound to the session that read it)
# plus a stat-based content version derived from a RECURSIVE file
# listing, so every mutation path invalidates — including a rewrite
# that only swaps files INSIDE a codes/part=N partition dir (the
# compact_ann_index shape).  The invariant "every public mutator bumps
# _index_version" is pinned by tests/test_index_cache_invariant.py.
# Non-local paths (any URI scheme) and un-stat-able dirs are
# UNVERSIONABLE: the cache is bypassed entirely rather than served
# from a constant version that would never invalidate.  The codes
# entry is a lazy immutable plan; centroids/codebooks are driver values.
_INDEX_CACHE: dict[tuple, tuple] = {}


def _index_version(index_dir: str) -> "tuple | None":
    """Content version of the index directory: sorted recursive listing
    of (relative path, mtime_ns, size) for every file, plus the root
    dir's own mtime.  Any file added, removed, renamed, or rewritten
    anywhere under the index — including inside a single partition
    dir — changes the tuple (the invariant the cache tests pin).

    Returns ``None`` ("unversionable — bypass the cache") when the
    path carries a URI scheme (hdfs://, s3a://, even file:// — os.stat
    cannot version those) or when the root cannot be statted."""
    import os
    import re

    if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", index_dir):
        return None
    try:
        root_st = os.stat(index_dir)
    except OSError:
        return None
    parts: list[tuple] = [("", root_st.st_mtime_ns, 0)]
    for root, dirs, files in os.walk(index_dir):
        dirs.sort()
        rel = os.path.relpath(root, index_dir)
        for n in sorted(files):
            try:
                st = os.stat(os.path.join(root, n))
            except OSError:
                continue  # racing mutator; version differs next call
            parts.append((f"{rel}/{n}", st.st_mtime_ns, st.st_size))
    return tuple(parts)


def read_ann_index(
    spark: SparkSession, index_dir: str
) -> tuple[list[tuple[int, list[float]]], list[list[tuple[int, list[float]]]], DataFrame]:
    """Load the index: metadata collects to the driver (bounded — k and
    m*k rows of floats, the same class as the centroid fit), codes stay
    a lazy partitioned scan.  Memoized per (session, dir, content
    version); mutations bump the stat-based version; unversionable
    paths (remote URIs) read fresh every call.

    Raises while ``codes_trash`` exists: a compaction is running or
    crashed with partitions parked there, and ``codes`` alone would
    silently miss their vectors."""
    import os

    if os.path.isdir(f"{index_dir}/codes_trash"):
        raise RuntimeError(
            f"{index_dir}: a compaction is running or crashed (codes_trash "
            "holds parked partitions); compact_ann_index or any ANN "
            "mutator restores the index"
        )
    ver = _index_version(index_dir)
    key = (
        spark.sparkContext.applicationId,
        id(spark),
        index_dir,
        ver,
    )
    if ver is not None:
        hit = _INDEX_CACHE.get(key)
        # `is spark` defends id() reuse after a session is GC'd: a hit
        # must have been written by THIS session object, else reread.
        if hit is not None and hit[0] is spark:
            return hit[1]
        for k in [
            k
            for k in _INDEX_CACHE
            if k[0] != key[0] or (k[1] == key[1] and k[2] == index_dir)
        ]:
            del _INDEX_CACHE[k]
        # Bound across DISTINCT dirs too (index_dir is an arbitrary
        # caller path — e.g. per-test tmp dirs): FIFO-evict beyond 16.
        while len(_INDEX_CACHE) >= 16:
            del _INDEX_CACHE[next(iter(_INDEX_CACHE))]
    centroids = sorted(
        (r["cluster"], list(r["centroid"]))
        for r in spark.read.parquet(f"{index_dir}/centroids").collect()
    )
    cb_rows = spark.read.parquet(f"{index_dir}/codebooks").collect()
    n_sub = max(r["sub"] for r in cb_rows) + 1
    codebooks = [
        sorted(
            (r["cluster"], list(r["centroid"]))
            for r in cb_rows
            if r["sub"] == s
        )
        for s in range(n_sub)
    ]
    codes = spark.read.parquet(f"{index_dir}/codes")
    if ver is not None:
        _INDEX_CACHE[key] = (spark, (centroids, codebooks, codes))
    return centroids, codebooks, codes


def ivfpq_topk_indexed(
    queries: DataFrame,
    index_dir: str,
    nprobe: int = 2,
    k: int = 5,
    shortlist: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    digits: int = 6,
) -> DataFrame:
    """Online serving against a persisted index.  The query batch's
    probed-cluster set (bounded by n_clusters) filters the codes scan
    BEFORE the join — a literal ``part IN (...)`` predicate Spark
    pushes into parquet partition pruning, so only probed clusters'
    files are read.  ADC + exact rerank are the in-memory operator's
    (``similarity._adc_rerank``)."""
    centroids, codebooks, codes = read_ann_index(
        queries.sparkSession, index_dir
    )
    tomb = read_tombstones(
        queries.sparkSession, [tombstone_dir(index_dir)], "neighbor_id"
    )
    if tomb is not None:
        # Logical deletes exclude BEFORE the ADC shortlist, so served
        # results exactly equal an index that never held those vectors.
        codes = codes.join(F.broadcast(tomb), "neighbor_id", "left_anti")
    probes = assign_nearest_multi(vec_col, centroids, nprobe)
    q = _adc_queries(queries, codebooks, id_col, vec_col, probes)
    # Driver-side probed-part list: |queries| x nprobe ids, bounded by
    # n_clusters — the price of a STATIC partition filter on the scan.
    probed = sorted(
        {r["part"] for r in q.select("part").distinct().collect()}
    )
    pruned = _drop_zero_norm(codes.filter(F.col("part").isin(probed)), "cn")
    pairs = pruned.join(F.broadcast(q), "part").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _adc_rerank(pairs, len(codebooks), shortlist, k, digits)


def delete_ann_index(spark: SparkSession, index_dir: str, ids) -> None:
    """Right-to-be-forgotten for the vector index (the GDPR leg a
    training-data lakehouse needs BEYOND the fact tables — a deleted
    document's embedding must stop being servable too): append the ids
    to the index's tombstone set.  The delete is LOGICAL and O(ids):
    serving anti-joins the (broadcast — GDPR batches are id-lists, not
    corpora) tombstone set before the ADC shortlist, so results are
    BIT-IDENTICAL to an index rebuilt over the corpus minus the ids
    with the same frozen centroids/codebooks (asserted by the
    ``ann_forget`` oracle query and tests).  Physical removal is
    :func:`compact_ann_index` — the delete/vacuum split mirrors
    sinks/versioned.py's delete_versioned + vacuum.

    ``ids`` may be an iterable of ints (empty: a no-op) or a
    one-column DataFrame (any column name — it is renamed, matching
    delete_dedup_index)."""
    recover(index_dir, ["codes"])
    append_tombstones(spark, index_dir, ids, "neighbor_id", long_ids=True)


def compact_ann_index(spark: SparkSession, index_dir: str) -> int:
    """PHYSICAL forgetting for the vector index: rewrite ONLY the
    cluster partitions that hold tombstoned vectors (the IVF
    partitioning bounds the rewrite as commit-log stats bound
    delete_versioned's), drop partitions emptied entirely, then clear
    the tombstone set — the crash-safe swap of ``sinks/tombstones.py``.
    Serving results are unchanged; after this the bytes are gone.
    Deleting EVERY vector leaves one zero-row partition, so reads keep
    working.  Returns the number of cluster partitions rewritten."""
    return compact(
        spark, index_dir, ["codes"], "part", "neighbor_id", keep_schema=True
    )
