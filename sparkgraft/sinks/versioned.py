"""Versioned snapshot tables: manifest-based time travel over plain
parquet — the minimal transactional-table primitive (the Delta/Iceberg
idea) a long-running ingest pipeline needs to make reprocessing and
audits reproducible.

Layout under ``table_dir``:

- ``data/<version>-<n>.parquet``  immutable data files, never rewritten
  in place; each write lands files under its own version prefix.
- ``_manifests/v<version>.json``  one JSON manifest per committed
  version: the ORDERED list of data files that constitute the snapshot,
  the operation ("overwrite" | "append"), and the parent version.
- ``_manifests/_latest``          pointer file holding the newest
  committed version number.
- ``_manifests/v<version>_stats-<token>.parquet`` and
  ``..._blooms-<token>.parquet``   the version's data-skipping index:
  one row per manifest file with its min/max/null-count stats
  (``stats_cols``) or its Bloom bitmaps (``bloom_cols``), named in the
  manifest as ``stats_file`` / ``bloom_file``.

Commit protocol (optimistic concurrency): data files (token-unique
names) and the per-file stats/Bloom tables (token-unique, recorded
in the manifest) are fully written first; then the writer CLAIMS the
version by creating ``v<N>.json`` via an atomic put-if-absent
(``os.link`` from a fully-written temp file — complete content AND
exclusivity in one step).  Manifest creation is the commit point:
when two writers race the same parent, exactly one claim succeeds and
the loser raises :class:`CommitConflictError`, cleans up its own
files, and (inside the public writers) retries against the new parent
— Delta-style lost-update prevention, detected at commit time rather
than silently last-writer-wins.  The ``_latest`` pointer is a
monotone cache flipped after the claim via ``os.replace``; readers
scan forward past it, so a crash (or a slow writer flipping late)
never hides or tears a committed version.  A crash before the claim
leaves orphan data files that a later ``vacuum`` removes — exactly
the recovery story of the big table formats.

Reads are manifest-driven: ``read_versioned(dir, version)`` loads the
snapshot's exact file list (time travel), so concurrent writers can
land new versions while a long batch job keeps reading a pinned one.
At 100 TB the manifest stays tiny (one row per FILE, not per record)
and the data scan is ordinary pruned parquet.

Reference anchor: the reference's event store keeps only ``latest``
semantics (restapi/app_fs.py); this adds the version history a
reproducible training-data pipeline requires (which exact snapshot
trained model X?).
"""

from __future__ import annotations

import json
import os
import uuid
import warnings
from collections.abc import Callable, Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkgraft.operators.scale import _bloom_pos, _shiftright_var
from sparkgraft.sinks.layout import zorder_key


class CommitConflictError(RuntimeError):
    """Another writer committed this version first (optimistic-
    concurrency conflict).  The public writers catch it and retry
    against the new parent; it surfaces only when retries are
    exhausted or when calling :func:`_commit` directly."""


def _manifest_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_manifests")


def _latest_path(table_dir: str) -> str:
    return os.path.join(_manifest_dir(table_dir), "_latest")


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(_manifest_dir(table_dir), f"v{version}.json")


def latest_version(table_dir: str) -> int | None:
    """Newest COMMITTED version, or None for an empty table.  The
    commit point is manifest creation, so this starts from the
    ``_latest`` pointer cache and scans forward while newer manifests
    exist — a crash between claim and pointer flip (or a slow writer
    flipping the pointer after a faster successor) never hides a
    committed version."""
    p = _latest_path(table_dir)
    if not os.path.exists(p):
        # No pointer yet: either an empty table or a writer crashed
        # between its v0 claim and the first pointer flip.
        if not os.path.exists(_manifest_path(table_dir, 0)):
            return None
        v = 0
    else:
        with open(p) as fh:
            v = int(fh.read().strip())
    while os.path.exists(_manifest_path(table_dir, v + 1)):
        v += 1
    return v


def _read_manifest(table_dir: str, version: int) -> dict:
    with open(_manifest_path(table_dir, version)) as fh:
        return json.load(fh)


def _snapshot(table_dir: str, version: int | None) -> tuple[int, dict]:
    """(version, manifest) of ``version``, the latest by default."""
    v = latest_version(table_dir) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    return v, _read_manifest(table_dir, v)


def committed_manifests(table_dir: str) -> Iterator[dict]:
    """Every committed manifest up to the :func:`latest_version` seen
    when the walk starts, oldest first."""
    v = latest_version(table_dir)
    if v is None:
        return
    for i in range(v + 1):
        yield _read_manifest(table_dir, i)


def committed_batches(table_dir: str) -> set:
    """Batch ids in the committed manifests: the streaming sinks' replay
    ledger."""
    return {
        m["batch_id"]
        for m in committed_manifests(table_dir)
        if m.get("batch_id") is not None
    }


def _side_table(table_dir: str, man: dict, key: str) -> str | None:
    """Location of a commit's per-file table, ``key`` = ``stats_file``
    or ``bloom_file`` (token-unique names recorded in the manifest, so
    a concurrent loser can never have clobbered one), or None when the
    commit wrote none."""
    name = man.get(key)
    return os.path.join(_manifest_dir(table_dir), name) if name else None


def manifest_local_df(spark: SparkSession, path: str) -> DataFrame:
    """A per-file stats/Bloom table as a LOCAL relation: the tables are
    metadata-sized (one row per data file), so reading them
    driver-side via pyarrow and re-entering them as a LocalRelation
    lets a prune's predicate + collect fold to a driver-local
    LocalTableScan — ZERO jobs per prune, no AQE stage round-trips —
    while still re-reading the table from parquet on every call
    (nothing is cached across invocations).  Arrow→Spark type mapping
    is exact for the table's column classes (strings, longs, doubles,
    UTC-adjusted timestamps, array<long> bitmaps) — pinned against the
    distributed read in tests/test_layout.py.  Any surprise (non-local
    path, unreadable footer) falls back to the distributed read with a
    warning naming the path and the exception class."""
    try:
        import pyarrow.parquet as pq

        return spark.createDataFrame(pq.read_table(path))
    except Exception as exc:
        warnings.warn(
            f"manifest_local_df({path}): local read failed "
            f"({type(exc).__name__}); falling back to spark.read.parquet",
            stacklevel=2,
        )
        return spark.read.parquet(path)


def _scan(spark: SparkSession, table_dir: str, rel_files: list[str]) -> DataFrame:
    return spark.read.parquet(*[os.path.join(table_dir, f) for f in rel_files])


def _pruned(
    spark: SparkSession, table_dir: str, version: int, rel_files
) -> DataFrame:
    """The files a skipping predicate kept, or the snapshot's empty
    frame (zero rows, the table's columns) when it kept none."""
    if not rel_files:
        return read_versioned(spark, table_dir, version).limit(0)
    return _scan(spark, table_dir, sorted(rel_files))


def _rel_file(table_dir: str) -> Column:
    """``input_file_name()`` as the table-relative ``file`` key of the
    per-file tables, so the table directory can move."""
    prefix = os.path.abspath(table_dir) + os.sep
    return F.replace(
        F.replace(F.input_file_name(), F.lit("file://"), F.lit("")),
        F.lit(prefix),
        F.lit(""),
    ).alias("file")


def _file_stats(spark: SparkSession, table_dir: str, rel_files: list[str],
                stats_cols: list[str]) -> DataFrame:
    """Per-file (min, max, null-count, n_rows) over exactly
    ``rel_files`` — one distributed pass, one row per file."""
    aggs = []
    for c in stats_cols:
        aggs += [
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(
                f"nulls_{c}"
            ),
        ]
    return (
        _scan(spark, table_dir, rel_files)
        .groupBy(_rel_file(table_dir))
        .agg(F.count("*").alias("n_rows"), *aggs)
    )


def _file_blooms(
    spark: SparkSession,
    table_dir: str,
    rel_files: list[str],
    cols: list[str],
    bits: int,
    hashes: int,
    salt: str,
) -> DataFrame:
    """Per-file Bloom bitmaps over exactly ``rel_files``: the
    scale.bloom_bitmap construction grouped by file — (file,
    bloom_<col> array<long>), one distributed pass, one row per file."""
    written = _scan(spark, table_dir, rel_files)
    n_words = bits // 64
    out = None
    for c in cols:
        positions = F.array(
            *[_bloom_pos(h, F.col(c), bits, salt) for h in range(hashes)]
        )
        words = written.select(
            _rel_file(table_dir), F.explode(positions).alias("pos")
        ).select(
            "file",
            (F.col("pos") / 64).cast("int").alias("word_idx"),
            F.expr("shiftleft(1L, cast(pmod(pos, 64) as int))").alias("bit"),
        )
        per_word = words.groupBy("file", "word_idx").agg(
            F.bit_or("bit").alias("w")
        )
        bm = per_word.groupBy("file").agg(
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
            ).alias(f"bloom_{c}")
        )
        out = bm if out is None else out.join(bm, "file")
    return out


def bloom_keep(
    col_name: str,
    value,
    bits: int = 4096,
    hashes: int = 3,
    salt: str = "bloom",
) -> Column:
    """Bloom-table predicate for ``col = value``: true iff every hash
    position's bit is set in the file's ``bloom_<col>`` bitmap — i.e.
    the file MIGHT contain the value (the caller's row filter stays
    exact).

    For int/str values the hash positions are CONSTANTS — computed
    driver-side with the same md5 recipe ``_bloom_pos`` evaluates
    (``pmod(conv(substr(md5('h|salt|value'),1,8),16,10), bits)``;
    python md5 of the identical string, bit-identical by
    construction) and rendered as one SQL text, instead of ``hashes``
    md5/conv/shift expression trees per value: a 5-value IN-lookup
    built ~500 py4j expression nodes per call, the dominant cost of
    bloom_travel's query construction.  Column-typed values keep the
    expression path."""
    import hashlib

    if hashes < 1:
        # Degenerate config: without this the expression path would
        # return None and the fast path an unparseable '()'.
        raise ValueError(f"bloom_keep: hashes must be >= 1, got {hashes}")
    # EXACT types only: an int subclass whose str()
    # differs from Spark's cast-to-string (e.g. IntEnum on older
    # Pythons) would hash a different string than the expression path
    # and silently prune the WRONG files — false negatives.  bool is
    # an int subclass and is excluded by the same rule.
    if type(value) in (int, str):
        tests = []
        for h in range(hashes):
            p = (
                int(
                    hashlib.md5(
                        f"{h}|{salt}|{value}".encode()
                    ).hexdigest()[:8],
                    16,
                )
                % bits
            )
            tests.append(
                f"(shiftright(element_at(`bloom_{col_name}`, "
                f"{p // 64 + 1}), {p % 64}) & 1) = 1"
            )
        return F.expr("(" + " AND ".join(tests) + ")")
    cond = None
    for h in range(hashes):
        pos = _bloom_pos(h, F.lit(value), bits, salt)
        word = F.element_at(
            F.col(f"bloom_{col_name}"), (pos / 64).cast("int") + F.lit(1)
        )
        test = (
            _shiftright_var(word, F.pmod(pos, F.lit(64))).bitwiseAND(F.lit(1))
            == 1
        )
        cond = test if cond is None else (cond & test)
    return cond


def _bloom_config(man: dict) -> "dict | None":
    """A manifest's Bloom-index configuration, or None."""
    if not man.get("bloom_cols"):
        return None
    return {
        "cols": list(man["bloom_cols"]),
        "bits": man.get("bloom_bits", 4096),
        "hashes": man.get("bloom_hashes", 3),
        "salt": man.get("bloom_salt", "bloom"),
    }


def write_versioned(
    df: DataFrame,
    table_dir: str,
    mode: str = "append",
    stats_cols: "list[str] | None" = None,
    sort_col: "str | Column | None" = None,
    n_files: int | None = None,
    extra_meta: "dict | None" = None,
    retries: int = 20,
    bloom_cols: "list[str] | None" = None,
) -> int:
    """Commit ``df`` as a new snapshot version; returns the version
    number.  ``mode='append'`` includes the parent snapshot's files in
    the new manifest (no data rewrite — append is metadata-only on top
    of the new files); ``mode='overwrite'`` starts the file list
    fresh.  Data lands before the manifest, the manifest before the
    pointer flip — each step atomic via ``os.replace``.

    ``stats_cols`` composes data skipping with versioning (Delta
    parity: per-file stats live in the commit metadata): the commit
    also writes a per-file min/max/null-count stats table beside its
    manifest, covering the NEW files only plus the parent's carried
    stats on append — no history rescan, ever.  A later
    :func:`read_versioned_skipping` prunes a time-travel read with a
    stats predicate.  ``sort_col``/``n_files`` range-partition + sort
    the write so each file covers a tight range (what makes the stats
    selective; an unsorted write gives every file the full range).
    ``sort_col`` is a column name or any Column: a :func:`zorder_key`
    gives files tight ranges on EVERY interleaved dimension, so one
    stats table prunes range filters on any of them.

    ``bloom_cols`` adds per-file Bloom bitmaps to the commit log (the
    Delta/Iceberg bloom-filter-index move): EQUALITY skipping for
    point lookups on high-cardinality unsorted columns that min/max
    stats can't prune.  Once enabled, every descendant commit
    (append/DELETE/MERGE/OPTIMIZE) INHERITS the config and indexes
    only its new files (carried files' bitmap rows are copied from the
    parent — no history rescan); query with
    :func:`read_versioned_bloom`.

    Concurrency: on a commit conflict (another writer claimed the
    version first) the already-landed data files are REUSED — the
    rows being appended/overwritten don't depend on the parent — and
    the commit retries against the new parent, up to ``retries``
    times before :class:`CommitConflictError` propagates."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unsupported mode: {mode}")
    parent = latest_version(table_dir)
    version = 0 if parent is None else parent + 1
    new_files = _land_files(df, table_dir, version, sort_col, n_files)
    for attempt in range(retries + 1):
        carry = (
            _read_manifest(table_dir, parent)["files"]
            if mode == "append" and parent is not None
            else []
        )
        try:
            _commit(
                df.sparkSession, table_dir, version, parent, mode,
                carry + new_files, stats_cols, new_files, carry, extra_meta,
                bloom_cols=bloom_cols,
            )
            return version
        except CommitConflictError:
            if attempt == retries:
                _remove_files(table_dir, new_files)
                raise
            parent = latest_version(table_dir)
            version = 0 if parent is None else parent + 1
    raise AssertionError("unreachable")


def _land_files(
    df: DataFrame,
    table_dir: str,
    version: int,
    sort_col: "str | Column | None" = None,
    n_files: int | None = None,
) -> list[str]:
    """Stage ``df``'s parquet files and rename them under the version
    prefix; returns the table-relative file list.  Data is fully on
    disk before any metadata references it.  Names carry a per-write
    token (``v<N>-<token>-<n>.parquet``) so concurrent writers racing
    the same version can never clobber each other's files — the name
    records the version at LAND time; on a commit retry the same
    files commit under the next version, and the manifest (never the
    name) is authoritative."""
    token = uuid.uuid4().hex[:8]
    staging = os.path.join(table_dir, "data", f"_staging_v{version}-{token}")
    w = df
    if sort_col is not None:
        key = F.col(sort_col) if isinstance(sort_col, str) else sort_col
        w = df.repartitionByRange(n_files or 4, key).sortWithinPartitions(key)
    elif n_files is not None:
        # n_files without sort_col still bounds the file count (the
        # small-files intent, e.g. a quarantine commit) — coalesce is
        # deterministic (no shuffle), landing AT MOST n_files files.
        w = df.coalesce(n_files)
    w.write.mode("overwrite").parquet(staging)
    files = []
    n = 0
    for name in sorted(os.listdir(staging)):
        if not name.endswith(".parquet"):
            continue
        final = os.path.join(
            table_dir, "data", f"v{version}-{token}-{n}.parquet"
        )
        os.replace(os.path.join(staging, name), final)
        files.append(os.path.relpath(final, table_dir))
        n += 1
    for leftover in os.listdir(staging):
        os.remove(os.path.join(staging, leftover))
    os.rmdir(staging)
    return files


def _remove_files(table_dir: str, rel_files: list[str]) -> None:
    """Best-effort cleanup of a conflict loser's OWN landed files
    (token-unique names — never another writer's)."""
    for f in rel_files:
        try:
            os.remove(os.path.join(table_dir, f))
        except OSError:
            pass


def _per_file_table(
    spark: SparkSession,
    table_dir: str,
    name: str,
    parent_table: str | None,
    new_files: list[str],
    carried_files: list[str],
    build: Callable[[list[str]], DataFrame],
) -> str | None:
    """Write a commit's per-file table (stats or Blooms) as ``name``
    under the manifest dir and return ``name``, or None for a commit
    without files.  Carried files copy their rows from
    ``parent_table`` (None when the parent wrote none or under another
    config); the carried files it lacks and the new files are computed
    by ``build`` — one scan of exactly those files, never a history
    rescan — so the table covers EVERY manifest file."""
    parts, fresh = [], list(carried_files)
    if carried_files and parent_table:
        rows = manifest_local_df(spark, parent_table).filter(
            F.col("file").isin(carried_files)
        )
        # bounded collect: one row per carried file
        have = {r["file"] for r in rows.select("file").collect()}
        fresh = [f for f in carried_files if f not in have]
        if have:
            parts.append(rows)
    fresh += new_files
    if fresh:
        parts.append(build(fresh))
    if not parts:
        return None
    table = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    table.write.mode("overwrite").parquet(
        os.path.join(_manifest_dir(table_dir), name)
    )
    return name


def _commit(
    spark: SparkSession,
    table_dir: str,
    version: int,
    parent: "int | None",
    operation: str,
    files: list[str],
    stats_cols: "list[str] | None",
    new_files: list[str],
    carried_files: list[str],
    extra_meta: "dict | None" = None,
    bloom_cols: "list[str] | None" = None,
) -> None:
    """Commit metadata for an already-landed version: the per-file
    stats and Bloom tables land first under token-unique names, then
    the manifest CLAIMS the version via atomic put-if-absent
    (``os.link``) — the commit point; a lost race raises
    :class:`CommitConflictError` after cleaning up this writer's
    tables.  The ``_latest`` pointer flips last (monotone cache;
    readers scan forward).

    Coverage invariant: a committed stats or Bloom table covers EVERY
    file in the manifest (:func:`_per_file_table`).  Carried files'
    rows are copied from the parent only when it indexed them under
    the same stats columns / Bloom config; otherwise they are
    recomputed instead of silently committing a manifest that claims
    coverage it doesn't have — read_versioned_skipping's superset
    guarantee, read_versioned_bloom's no-false-negative guarantee and
    stats_summary's exactness all depend on it."""
    os.makedirs(_manifest_dir(table_dir), exist_ok=True)
    token = uuid.uuid4().hex[:8]
    pman = {} if parent is None else _read_manifest(table_dir, parent)
    stats_file = None
    if stats_cols:
        stats_file = _per_file_table(
            spark, table_dir, f"v{version}_stats-{token}.parquet",
            _side_table(table_dir, pman, "stats_file")
            if pman.get("stats_cols") == list(stats_cols)
            else None,
            new_files, carried_files,
            lambda fs: _file_stats(spark, table_dir, fs, list(stats_cols)),
        )
    # Explicit ``bloom_cols`` enables the Bloom index (default bits,
    # hashes and salt); None INHERITS the parent commit's config, so
    # append/COW/compact commits keep point-lookup pruning alive
    # without re-opting-in (Delta bloom-filter-index persistence).
    bcfg = _bloom_config({"bloom_cols": bloom_cols} if bloom_cols else pman)
    bloom_file = None
    if bcfg:
        bloom_file = _per_file_table(
            spark, table_dir, f"v{version}_blooms-{token}.parquet",
            _side_table(table_dir, pman, "bloom_file")
            if _bloom_config(pman) == bcfg
            else None,
            new_files, carried_files,
            lambda fs: _file_blooms(spark, table_dir, fs, **bcfg),
        )
    manifest = {
        "version": version,
        "parent": parent,
        "operation": operation,
        "files": files,
        "stats_cols": list(stats_cols) if stats_cols else None,
    }
    if stats_file:
        manifest["stats_file"] = stats_file
    if bcfg:
        manifest["bloom_cols"] = bcfg["cols"]
        manifest["bloom_bits"] = bcfg["bits"]
        manifest["bloom_hashes"] = bcfg["hashes"]
        manifest["bloom_salt"] = bcfg["salt"]
        if bloom_file:
            manifest["bloom_file"] = bloom_file
    if extra_meta:
        manifest.update(extra_meta)
    mpath = _manifest_path(table_dir, version)
    tmp = mpath + f".tmp-{token}"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    try:
        # Atomic put-if-absent: link the fully-written temp file to the
        # manifest name — the COMMIT POINT.  Exactly one of N racing
        # writers succeeds; everyone else gets FileExistsError.
        os.link(tmp, mpath)
    except FileExistsError:
        import shutil

        for side in (stats_file, bloom_file):
            if side:
                shutil.rmtree(
                    os.path.join(_manifest_dir(table_dir), side),
                    ignore_errors=True,
                )
        raise CommitConflictError(
            f"version {version} of {table_dir} was committed by another "
            "writer — retry against the new parent"
        ) from None
    finally:
        try:
            os.remove(tmp)
        except OSError:
            pass
    # Pointer-cache flip.  Check-then-write, NOT atomic: two racing
    # committers can interleave so a slow older writer transiently
    # regresses the pointer (v5 overwriting v6's flip).  That is
    # tolerated by design — latest_version() always scans FORWARD from
    # the cached value over the manifest dir, so reads stay correct
    # and the pointer self-heals on the next commit; the only cost is
    # extra manifest stat calls until then.
    cur = -1
    if os.path.exists(_latest_path(table_dir)):
        try:
            with open(_latest_path(table_dir)) as fh:
                cur = int(fh.read().strip())
        except ValueError:
            cur = -1
    if version > cur:
        ltmp = _latest_path(table_dir) + f".tmp-{token}"
        with open(ltmp, "w") as fh:
            fh.write(str(version))
        os.replace(ltmp, _latest_path(table_dir))


def read_versioned(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Read a snapshot: the latest by default, or any committed
    ``version`` (time travel).  The scan is the manifest's exact file
    list — ordinary parquet, so pushdown/pruning apply unchanged.
    ``merge_schema=True`` reconciles schema evolution across commits
    (an appended version may carry new columns; older files read them
    as NULL — Delta/Iceberg add-column parity) at the cost of reading
    every file's footer."""
    v, manifest = _snapshot(table_dir, version)
    if not manifest["files"]:
        raise FileNotFoundError(f"version {v} of {table_dir} is empty")
    paths = [os.path.join(table_dir, f) for f in manifest["files"]]
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*paths)


def stats_summary(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """METADATA-ONLY table summary from the commit-log stats: row
    count, per-column min/max/null-count — computed from the stats
    table alone, zero data files opened (the Delta 'SELECT count(*)'
    optimization).  One row; column set mirrors the commit's
    stats_cols.  Exactness asserted against full scans in tests."""
    v, man = _snapshot(table_dir, version)
    cols = man.get("stats_cols")
    if not cols:
        raise ValueError(
            f"version {v} of {table_dir} was committed without stats_cols"
        )
    path = _side_table(table_dir, man, "stats_file")
    if path is None:
        raise FileNotFoundError(f"version {v} of {table_dir} is empty")
    aggs = [F.sum("n_rows").alias("n_rows")]
    for c in cols:
        aggs += [
            F.min(f"min_{c}").alias(f"min_{c}"),
            F.max(f"max_{c}").alias(f"max_{c}"),
            F.sum(f"nulls_{c}").alias(f"nulls_{c}"),
        ]
    return spark.read.parquet(path).agg(*aggs)


def read_versioned_skipping(
    spark: SparkSession,
    table_dir: str,
    keep,
    version: int | None = None,
) -> DataFrame:
    """Time travel WITH data skipping: scan only the files of snapshot
    ``version`` whose commit-log stats survive the ``keep`` predicate
    over ``min_*``/``max_*``/``nulls_*``/``n_rows``; the standard range
    predicate for ``col BETWEEN lo AND hi`` is ``(max_col >= lo) AND
    (min_col <= hi)``.  Skipping is a superset guarantee, so
    ``read_versioned_skipping(...).filter(p)`` ≡
    ``read_versioned(...).filter(p)`` with fewer files opened (both
    asserted in tests/test_versioned.py); a predicate that keeps no
    file gives zero rows with the table's columns.  The version must
    have been committed with ``stats_cols``."""
    v, man = _snapshot(table_dir, version)
    if not man.get("stats_cols"):
        raise ValueError(
            f"version {v} of {table_dir} was committed without stats_cols"
        )
    path = _side_table(table_dir, man, "stats_file")
    rel = [] if path is None else [
        r["file"]
        for r in manifest_local_df(spark, path).filter(keep).select("file").collect()
    ]
    return _pruned(spark, table_dir, v, rel)


def read_versioned_bloom(
    spark: SparkSession,
    table_dir: str,
    eq: dict,
    version: int | None = None,
) -> DataFrame:
    """Time travel WITH Bloom equality skipping: scan only the files
    of snapshot ``version`` whose commit-log Bloom bitmaps might
    contain EVERY ``col = value`` in ``eq`` (conjunctive point
    lookup).  A list/tuple/set value means ``col IN (...)`` — ONE
    pruned read over the union of per-value survivors (the batched
    form; N sequential point reads would pay the manifest + scan
    overhead N times).  Blooms have no false negatives by
    construction (probe
    positions replay the build's md5 hashing with the commit's
    recorded bits/hashes/salt), so
    ``read_versioned_bloom(...).filter(p)`` ≡
    ``read_versioned(...).filter(p)`` with fewer files opened — the
    pruning min/max stats can't do for point predicates on
    high-cardinality unsorted columns.  Files absent from the bloom
    table are conservatively kept (the staleness guard; the commit
    coverage invariant makes this unreachable for tables written by
    this module).  The version must descend from a commit with
    ``bloom_cols`` covering every queried column."""
    v, man = _snapshot(table_dir, version)
    bcfg = _bloom_config(man)
    if bcfg is None or any(c not in bcfg["cols"] for c in eq):
        raise ValueError(
            f"version {v} of {table_dir} has no Bloom index covering "
            f"{sorted(eq)} (bloom_cols={bcfg and bcfg['cols']})"
        )
    if not man["files"]:
        raise FileNotFoundError(f"version {v} of {table_dir} is empty")
    keep = None
    for c, value in eq.items():
        vals = (
            list(value)
            if isinstance(value, (list, tuple, set, frozenset))
            else [value]
        )
        term = None
        for one in vals:
            t_ = bloom_keep(
                c, one, bits=bcfg["bits"], hashes=bcfg["hashes"],
                salt=bcfg["salt"],
            )
            term = t_ if term is None else (term | t_)
        keep = term if keep is None else (keep & term)
    indexed, kept = set(), set()
    path = _side_table(table_dir, man, "bloom_file")
    if path:
        bm = manifest_local_df(spark, path).filter(
            F.col("file").isin(man["files"])
        )
        # ONE bounded collect (one row per manifest file) carrying the
        # keep verdict — previously two sequential driver round-trips
        # (r13 optimization round, guide §1; NULL verdicts — files
        # missing a probed bitmap — stay un-kept, exactly as the
        # filter(keep) form dropped them).
        rows = bm.select("file", keep.alias("__keep")).collect()
        indexed = {r["file"] for r in rows}
        kept = {r["file"] for r in rows if r["__keep"]}
    return _pruned(spark, table_dir, v, kept | (set(man["files"]) - indexed))


def _key_range_keep(
    source: DataFrame, key_cols: list[str], stats_cols
) -> "Column | None":
    """Stats predicate "this file may hold a key of ``source``": the
    per-key-column overlap of each file's [min, max] with the source's
    [lo, hi], ANDed over the key columns (composite keys prune
    conjunctively: disjointness on ANY column proves no tuple
    equality).  None when a key column has no commit-log stats;
    ``F.lit(False)`` when a key column is entirely NULL in the source
    (such rows never equal a stored key).  A file whose stats are NULL
    makes the conjunction NULL, which :func:`_touched_files` counts as
    touched — a missed pruning, never a missed match."""
    if not key_cols or any(k not in (stats_cols or []) for k in key_cols):
        return None
    aggs = []
    for k in key_cols:
        aggs += [F.min(k).alias(f"lo_{k}"), F.max(k).alias(f"hi_{k}")]
    bounds = source.agg(*aggs).first()
    if any(bounds[f"lo_{k}"] is None for k in key_cols):
        return F.lit(False)
    conj = None
    for k in key_cols:
        term = (F.col(f"max_{k}") >= F.lit(bounds[f"lo_{k}"])) & (
            F.col(f"min_{k}") <= F.lit(bounds[f"hi_{k}"])
        )
        conj = term if conj is None else (conj & term)
    return conj


def _touched_files(
    spark: SparkSession, table_dir: str, man: dict, stats_keep
) -> tuple[list[str], list[str]]:
    """Split a snapshot's files into (touched, untouched) under a
    commit-log stats predicate: untouched files PROVABLY contain no
    affected row (their stats fail ``stats_keep``) and carry over to
    the child version unrewritten.  Files not covered by the stats
    table (or with NULL stats) are conservatively touched — the
    bloom-manifest staleness discipline."""
    path = _side_table(table_dir, man, "stats_file")
    if stats_keep is None or path is None:
        return list(man["files"]), []
    stats = manifest_local_df(spark, path)
    rows = stats.withColumn("_keep", stats_keep).select("file", "_keep").collect()
    keep_map = {r["file"]: r["_keep"] for r in rows}
    touched, untouched = [], []
    for f in man["files"]:
        if keep_map.get(f, True) is False:
            untouched.append(f)
        else:
            touched.append(f)
    return touched, untouched


def delete_versioned(
    spark: SparkSession,
    table_dir: str,
    predicate,
    stats_keep=None,
    sort_col: "str | Column | None" = None,
    n_files: int | None = None,
    retries: int = 20,
) -> int:
    """Copy-on-write DELETE (Delta/Iceberg ``DELETE WHERE`` parity):
    commit a new version without the rows matching ``predicate``.
    With ``stats_keep`` (a file-stats predicate over-approximating
    "this file may contain a matching row"), only the stats-surviving
    files are read and rewritten — every other file carries over to
    the new manifest METADATA-ONLY, its stats rows copied from the
    parent commit.  At 100 TB a targeted delete rewrites the handful
    of files whose ranges overlap the predicate, not the table.

    SQL NULL semantics: rows where ``predicate`` is NULL are KEPT
    (DELETE removes only TRUE matches).  The parent version stays
    readable (time travel); ``vacuum`` reclaims rewritten files.

    Concurrency: the deleted row set depends on the parent snapshot,
    so a commit conflict RE-PLANS against the new parent (the loser's
    landed files are removed), up to ``retries`` times."""
    parent = latest_version(table_dir)
    if parent is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    for attempt in range(retries + 1):
        man = _read_manifest(table_dir, parent)
        version = parent + 1
        touched, untouched = _touched_files(spark, table_dir, man, stats_keep)
        new_files: list[str] = []
        if touched:
            remain = _scan(spark, table_dir, touched).filter(
                ~F.coalesce(predicate, F.lit(False))
            )
            new_files = _land_files(
                remain, table_dir, version, sort_col, n_files
            )
        try:
            _commit(
                spark, table_dir, version, parent, "delete",
                untouched + new_files, man.get("stats_cols"), new_files,
                untouched,
            )
            return version
        except CommitConflictError:
            _remove_files(table_dir, new_files)
            if attempt == retries:
                raise
            parent = latest_version(table_dir)
    raise AssertionError("unreachable")


def upsert_versioned(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    key_cols: list[str],
    stats_keep=None,
    sort_col: "str | Column | None" = None,
    n_files: int | None = None,
    extra_meta: "dict | None" = None,
    retries: int = 20,
) -> int:
    """Copy-on-write MERGE upsert (``MERGE INTO ... WHEN MATCHED
    UPDATE WHEN NOT MATCHED INSERT`` parity): commit a new version
    where every target row whose key appears in ``source`` is replaced
    by the source row, and source rows with new keys are inserted.

    File pruning: when every key column carries commit-log stats, the
    touched set is derived automatically from the source's per-column
    key ranges — files whose [min, max] provably exclude every source
    key (disjoint on ANY key column — conjunctive pruning for
    composite keys) carry over metadata-only (their stats rows copied
    from the parent).  Pass
    ``stats_keep`` to prune on a custom predicate; it must
    over-approximate "this file may contain a source key" (soundness
    contract — an untouched file with a source key would silently skip
    the update).

    Source keys must be UNIQUE (Delta parity: MERGE errors when a
    target row matches multiple source rows) — duplicates raise
    instead of silently committing duplicate key rows; pre-dedup with
    an explicit rule (merge_sink keeps the newest per key by its order
    column).  NULL source keys never match a target row (SQL equality)
    and INSERT alongside any existing NULL-key rows.

    Concurrency: the merged row set depends on the parent snapshot, so
    a commit conflict RE-PLANS against the new parent (the loser's
    landed files are removed), up to ``retries`` times — two writers
    merging different keys against the same parent both land, serially
    ordered, with neither update lost."""
    parent = latest_version(table_dir)
    if parent is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    # NULL-key rows are exempt from the uniqueness check: a NULL key
    # never matches any target row (SQL equality), so multiple NULL-key
    # sources are legitimate independent INSERTs, not a MERGE conflict.
    nonnull = source
    for k in key_cols:
        nonnull = nonnull.filter(F.col(k).isNotNull())
    dup = (
        nonnull.groupBy(*key_cols)
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        key = {k: dup[0][k] for k in key_cols}
        raise ValueError(
            f"upsert_versioned: duplicate source key {key} — MERGE "
            "requires unique source keys; dedup first (e.g. newest per "
            "key by an order column, as merge_sink does)"
        )
    auto_keep = stats_keep is None
    for attempt in range(retries + 1):
        man = _read_manifest(table_dir, parent)
        if auto_keep:
            # Re-derived per attempt: a conflict's new parent may carry
            # DIFFERENT stats_cols, and a stale predicate referencing
            # min_/max_ columns absent from the new stats table would
            # crash the retry instead of falling back to all-files.
            stats_keep = _key_range_keep(source, key_cols, man.get("stats_cols"))
        version = parent + 1
        touched, untouched = _touched_files(spark, table_dir, man, stats_keep)
        if touched:
            merged = _scan(spark, table_dir, touched).join(
                source.select(*key_cols), key_cols, "left_anti"
            ).unionByName(source)
        else:
            merged = source
        new_files = _land_files(merged, table_dir, version, sort_col, n_files)
        try:
            _commit(
                spark, table_dir, version, parent, "merge",
                untouched + new_files, man.get("stats_cols"), new_files,
                untouched, extra_meta,
            )
            return version
        except CommitConflictError:
            _remove_files(table_dir, new_files)
            if attempt == retries:
                raise
            parent = latest_version(table_dir)
    raise AssertionError("unreachable")


def table_history(table_dir: str) -> list[dict]:
    """All committed versions, oldest first: (version, parent,
    operation, n_files) — the audit trail."""
    return [
        {
            "version": m["version"],
            "parent": m["parent"],
            "operation": m["operation"],
            "n_files": len(m["files"]),
        }
        for m in committed_manifests(table_dir)
    ]


def compact_table(
    spark: SparkSession,
    table_dir: str,
    target_files: int = 1,
    zorder_cols: "list[str] | None" = None,
    zorder_bits: int = 8,
    stats_cols: "list[str] | None" = None,
    extra_meta: "dict | None" = None,
) -> int:
    """OPTIMIZE: rewrite the latest snapshot into ``target_files``
    files and commit the result as a new version (operation recorded
    as overwrite of identical data — history keeps the pre-compaction
    version readable until vacuumed).  The small-file answer for a
    streaming ingest that lands one version per trigger.

    ``zorder_cols`` = OPTIMIZE ZORDER parity: the rewrite range-
    partitions + sorts on the interleaved Morton key
    (:func:`zorder_key`; columns must be integer-quantized), so with
    ``stats_cols`` the recommitted per-file stats prune range filters
    on EVERY interleaved dimension."""
    zkey = (
        zorder_key([F.col(c) for c in zorder_cols], zorder_bits)
        if zorder_cols
        else None
    )
    return write_versioned(
        read_versioned(spark, table_dir), table_dir, mode="overwrite",
        stats_cols=stats_cols, sort_col=zkey, n_files=target_files,
        extra_meta=extra_meta,
    )


def vacuum(
    table_dir: str,
    keep_versions: int = 1,
    min_file_age_sec: float = 600.0,
) -> list[str]:
    """Remove data files unreachable from the newest ``keep_versions``
    manifests (crash orphans and compacted-away history).  Returns the
    deleted file names.  Never touches manifests — history stays
    auditable even after its data is vacuumed.

    Files referenced by NO manifest at all are spared while younger
    than ``min_file_age_sec``: under the optimistic-concurrency commit
    protocol a concurrent writer lands its token-named data files
    BEFORE claiming the manifest, so a zero-grace vacuum could delete
    an in-flight commit's files and leave its (subsequently
    successful) manifest pointing at nothing — the retention-window
    rule Delta's VACUUM applies to uncommitted files.  Files
    referenced by a SUPERSEDED manifest (compacted/rewritten history)
    are committed, never in-flight, and delete immediately regardless
    of age.  Pass 0 only when no writer can be live."""
    import time

    manifests = list(committed_manifests(table_dir))
    if not manifests:
        return []
    keep = set()
    referenced = set()
    for m in manifests:
        referenced.update(m["files"])
        if m["version"] > manifests[-1]["version"] - keep_versions:
            keep.update(m["files"])
    data_dir = os.path.join(table_dir, "data")
    now = time.time()
    deleted = []
    for name in sorted(os.listdir(data_dir)):
        rel = os.path.join("data", name)
        full = os.path.join(data_dir, name)
        if os.path.isdir(full):
            continue
        if rel not in keep:
            if rel not in referenced:
                # never committed: possibly an in-flight writer's file
                try:
                    if now - os.path.getmtime(full) < min_file_age_sec:
                        continue
                except OSError:
                    continue  # already gone (concurrent cleanup)
            os.remove(full)
            deleted.append(rel)
    return deleted
