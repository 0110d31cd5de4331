"""File-arrival micro-batch pipeline (SURVEY §2.9, E1/E2 restatement).

The reference runs three threads per directory (watchdog observer, 2 s
ticker, worker queue — Pipeline.py:60-84) with debounce (P7), oldest-
first single-file processing (T1), dead-lettering (T3), archive-on-
success (T4) and Redis health flags (T6).  Here one Structured
Streaming query replaces all of it:

  readStream(file source)  ≡ watcher+ticker (driver lists new files)
  maxFilesPerTrigger       ≡ single-file micro-batches
  checkpoint               ≡ the processed-set ledger (D1), exactly-once
  foreachBatch             ≡ worker body: transform → sink, with
                             per-file try/except → quarantine + health
  Trigger.AvailableNow     ≡ deterministic drain for tests

Scale: the file source's listing/checkpoint is driver-side metadata
(same as the reference's ledger) while decode/stats run distributed;
at 100 TB of arrivals the only adjustments are `maxFilesPerTrigger`
(batch width) and `cleanSource` — the DAG is unchanged.

Strict per-file ordering across executors is best-effort (documented
deviation, SURVEY §7): within a micro-batch we process files oldest-
first by filename timestamp, matching Pipeline.py:135-160.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LOG = logging.getLogger("sparkgraft.streaming")


@dataclass
class HealthBoard:
    """T6 — in-process health/heartbeat signal sink (Redis analog).

    Flags follow the reference convention (README.txt:7-12):
    -1 unknown, 0 healthy, 1 unhealthy; keys ``health:<pipeline>_*``.
    """

    flags: dict[str, int] = field(default_factory=dict)
    history: list[tuple[str, int]] = field(default_factory=list)

    def set(self, key: str, value: int) -> None:
        self.flags[key] = value
        self.history.append((key, value))


def stable_files(
    files: DataFrame, now_ts, min_age_sec: int = 40
) -> DataFrame:
    """P7/T2 — debounce predicate: admit files whose mtime age ≥ min age.

    Reference: Pipeline.py:24-25,96-119 (2 identical stat() polls + 40 s
    min age).  On a file-listing DataFrame (path,name,size,mtime) this is
    a pure filter; the 2-poll stability check is subsumed by age (a file
    still being written has a fresh mtime).
    """
    return files.filter(
        F.col("mtime") <= F.lit(now_ts) - F.expr(f"INTERVAL {min_age_sec} SECONDS")
    )


def dedup_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """D3's content-hash event dedup lifted into Structured Streaming:
    drop any event whose key was already seen within the watermark
    horizon (``dropDuplicatesWithinWatermark``).

    The watermark BOUNDS the dedup state — keys older than the horizon
    expire from the state store, so state size tracks the event rate x
    horizon, not the full history (a bare ``dropDuplicates`` on a
    stream grows state forever; at 100 TB/day that is the difference
    between a working pipeline and an OOM).  Exactly-once *within the
    horizon*; replays older than it are a ledger concern (D1).
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


class FilePipeline:
    """E1/E2 — streaming file pipeline: arrival → transform → sink,
    with quarantine, archive and health flags.

    Parameters
    ----------
    transform : (DataFrame) -> DataFrame
        Per-file computation (e.g. channel stats A1, latest-row A2).
        Raising marks the file failed (T3).
    sink : (DataFrame, str) -> None
        Batch sink for one file's result (KV/CSV/register image, §2.10).
    """

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        input_dir: str,
        schema: str,
        transform: Callable[[DataFrame], DataFrame],
        sink: Callable[[DataFrame, str], None],
        checkpoint_dir: str,
        quarantine_dir: str | None = None,
        archive_dir: str | None = None,
        fmt: str = "csv",
        max_files_per_trigger: int = 1,
        health: HealthBoard | None = None,
        options: dict[str, str] | None = None,
    ) -> None:
        self.spark = spark
        self.name = name
        self.input_dir = input_dir
        self.schema = schema
        self.transform = transform
        self.sink = sink
        self.checkpoint_dir = checkpoint_dir
        self.quarantine_dir = quarantine_dir
        self.archive_dir = archive_dir
        self.fmt = fmt
        self.max_files_per_trigger = max_files_per_trigger
        self.health = health if health is not None else HealthBoard()
        self.options = {"header": "true"} if fmt == "csv" else {}
        if options:
            self.options.update(options)

    # -- stream assembly ---------------------------------------------------

    def _stream(self) -> DataFrame:
        reader = (
            self.spark.readStream.format(self.fmt)
            .schema(self.schema)
            .option("maxFilesPerTrigger", str(self.max_files_per_trigger))
        )
        for k, v in self.options.items():
            reader = reader.option(k, v)
        df = reader.load(self.input_dir)
        return df.withColumn("_file", F.input_file_name())

    def _process_batch(self, batch: DataFrame, batch_id: int) -> None:
        # T1: oldest-first within the micro-batch (filename order encodes
        # the start timestamp in the reference's naming scheme, F1).
        # toLocalIterator keeps the driver footprint one-partition-wide even
        # when an availableNow drain packs a huge directory into one batch.
        files = sorted(
            r["_file"] for r in batch.select("_file").distinct().toLocalIterator()
        )
        # Two-phase: run every file's transform+sink BEFORE moving any file.
        # A sink's Spark action lazily re-lists the batch's file set, so
        # moving file N during the loop would make file N+1's action throw
        # FileNotFoundException (then be wrongly quarantined while the
        # checkpoint still marks it consumed).
        moves: list[tuple[Path, str | None]] = []
        for f in files:
            sub = batch.filter(F.col("_file") == f).drop("_file")
            # input_file_name() is a percent-encoded URI ("Logger%201_...").
            src = Path(unquote(urlparse(f).path))
            try:
                result = self.transform(sub)
                self.sink(result, src.name)
                self.health.set(f"health:{self.name}_file_processing", 0)
                moves.append((src, self.archive_dir))  # T4 finished/
            except Exception:
                self.health.set(f"health:{self.name}_file_processing", 1)
                moves.append((src, self.quarantine_dir))  # T3 failed/
        for src, target in moves:
            self._move(src, target)

    def _move(self, src: Path, target_dir: str | None) -> None:
        if not target_dir:
            return
        Path(target_dir).mkdir(parents=True, exist_ok=True)
        if src.exists():
            shutil.move(str(src), str(Path(target_dir) / src.name))

    # -- execution ---------------------------------------------------------

    def run_available(self) -> None:
        """Drain everything currently in the directory (tests, backfill)."""
        q = (
            self._stream()
            .writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def start(self, processing_time: str = "2 seconds"):
        """Continuous mode: poll like the reference's 2 s ticker (T7)."""
        return (
            self._stream()
            .writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(processingTime=processing_time)
            .start()
        )


def _drain(stream, on_batch, checkpoint_dir: str):
    """Start ``on_batch`` as a ``foreachBatch`` query that drains what
    the source holds now (``Trigger.AvailableNow``), then stops."""
    return (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


class _BatchState:
    """Replay-safe driver-side state of one ``foreachBatch`` monitor.

    A monitor folds each micro-batch into a small JSON-serializable
    state (a k-row profile, sketch cells, a reservoir, per-key
    scalars) kept in ``<checkpoint_dir>/<file_name>`` as
    ``{batch_id, state, prev, pinned}``:

    * A restarted query reloads the stored state, so it resumes
      instead of silently starting again from ``empty``.
    * The state is written before Spark commits the batch, so after a
      crash the same batch id can be delivered again.
      ``before(batch_id)`` then returns ``prev``, the pre-batch
      snapshot: the replay is folded in once, not twice, and re-emits
      the same sink output.
    * ``pinned`` is an optional fixed reference (the ks and cusum
      baselines), computed by ``pin()`` on the first start only and
      reloaded afterwards, so restarts compare against the identical
      baseline.
    * ``commit`` writes a temp file, ``fsync``s it and renames it over
      the old one, so a crash or power loss leaves the old or the new
      state, never a torn or empty file.

    Reloaded rows come back as JSON lists.
    """

    def __init__(self, checkpoint_dir: str, file_name: str, empty, pin=None):
        self.path = os.path.join(checkpoint_dir, file_name)
        self.batch_id = None
        self.state = self.prev = empty
        self.pinned = None
        if os.path.exists(self.path):
            with open(self.path) as fh:
                stored = json.load(fh)
            self.batch_id = stored["batch_id"]
            self.state, self.prev = stored["state"], stored["prev"]
            self.pinned = stored["pinned"]
        if pin is not None and self.pinned is None:
            self.pinned = pin()

    def before(self, batch_id: int):
        """The state batch ``batch_id`` folds into."""
        return self.prev if batch_id == self.batch_id else self.state

    def commit(self, batch_id: int, state) -> None:
        """Persist ``state`` as the state after batch ``batch_id``."""
        if batch_id != self.batch_id:
            self.prev = self.state
        self.batch_id, self.state = batch_id, state
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "batch_id": batch_id,
                    "state": state,
                    "prev": self.prev,
                    "pinned": self.pinned,
                },
                fh,
            )
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self.path)


def drift_monitor(
    stream,
    cols: list[str],
    sink,
    checkpoint_dir: str,
    tol_pct: int = 10,
    null_tol_permille: int = 20,
):
    """Streaming drift monitoring over ``foreachBatch`` snapshots: each
    micro-batch is profiled with :func:`profile_columns` (one
    distributed aggregation pass — the only work that touches data)
    and diffed against the PREVIOUS batch's profile via
    :func:`drift_report`; ``sink(verdicts_df, batch_id)`` receives the
    per-column verdict table for every batch after the first.  The
    first batch seeds the baseline — the live version of the batch
    `drift_report` query, and the monitoring loop the reference's
    per-cycle health flags imply (README.txt:7-12,
    helper/redis_utility.py:10-35).

    Scale shape: the per-batch profile is one row PER PROFILED COLUMN
    (k rows, k ≈ 10s), so holding it on the driver between batches is
    bounded state, not data — the expensive aggregation stays fully
    distributed inside profile_columns.  The profile is kept in
    ``drift_baseline.json`` under :class:`_BatchState`'s replay and
    restart policy: a restarted query diffs its first batch against
    the stored profile, and a crash replay of batch N diffs against
    N's predecessor, re-emitting the real verdict.  Returns the
    started query.
    """
    from sparkgraft.operators.stats import drift_report, profile_columns

    store = _BatchState(checkpoint_dir, "drift_baseline.json", None)

    def on_batch(batch, batch_id: int) -> None:
        spark = batch.sparkSession
        prof = profile_columns(batch, cols)
        rows = prof.collect()  # k rows — one per profiled column
        baseline = store.before(batch_id)
        if baseline is not None:
            verdicts = drift_report(
                spark.createDataFrame(baseline, prof.schema),
                spark.createDataFrame(rows, prof.schema),
                tol_pct=tol_pct,
                null_tol_permille=null_tol_permille,
            )
            sink(verdicts, batch_id)
        store.commit(batch_id, rows)

    return _drain(stream, on_batch, checkpoint_dir)




def dedup_admission(
    stream,
    history_dir: str,
    checkpoint_dir: str,
    sink,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 12,
    bands: int = 2,
    min_jaccard: float = 0.5,
):
    """Streaming near-dup ADMISSION — the live form of
    ``textops.incremental_dedup`` and the production daily-ingest
    shape: each micro-batch's documents are checked against the
    PERSISTED MinHash index of everything admitted so far, then the
    admitted (non-duplicate) docs' signatures are appended to that
    index.  History is never re-shingled: the index holds the prepped
    (id, sh) shingle sets and (id, band, bucket) LSH keys as two
    parquet tables under ``history_dir`` — exactly the "write the
    banded table once, append to it" discipline the batch operator's
    docstring prescribes.

    Exactly-once under ``foreachBatch`` replays WITHOUT a rewrite-
    capable store: every index row carries ``_batch_id``, verdicts for
    batch N are computed against ``_batch_id < N`` only, and the
    append is skipped when rows for N already exist — so a crash
    between append and checkpoint-commit replays to identical verdicts
    and no duplicate index rows.  ``sink(verdicts_df, batch_id)``
    receives one row per incoming doc: (doc_id, is_duplicate, dup_of,
    jaccard).

    Scale shape: per batch, one shingle pass over the BATCH only; the
    candidate join crosses batch x history buckets (compact keys);
    index append is the admitted subset.  All heavy joins inherit the
    spillable-merge pinning of crossside_verdicts.

    Contract: one ``history_dir`` belongs to ONE checkpoint lineage —
    verdicts, the replay-done checks, and the compaction ledger are
    all keyed by that lineage's batch ids.  Attaching a FRESH
    checkpoint to an existing index only makes sense as a full
    re-delivery of the same source (batch ids realign; replays of
    compacted-away batches stay suppressed — by design, so erased
    content is not resurrected from source).  To ingest NEW data into
    an existing index, keep the original checkpoint.
    """
    from sparkgraft.operators.textops import crossside_verdicts, minhash_prep
    from sparkgraft.sinks.tombstones import read_tombstones, recover, tombstone_dir

    base_dir = os.path.join(history_dir, "base")
    banded_dir = os.path.join(history_dir, "banded")

    def _read_or_empty(spark, path, schema):
        if os.path.isdir(path):
            return spark.read.schema(schema).parquet(path)
        return spark.createDataFrame([], schema)

    def on_batch(batch, batch_id: int) -> None:
        spark = batch.sparkSession
        recover(history_dir, ["base", "banded"])
        new_base, new_banded = minhash_prep(
            batch, id_col, text_col, shingle_k, num_hashes, bands
        )
        base_schema = new_base.schema.add("_batch_id", "long")
        banded_schema = new_banded.schema.add("_batch_id", "long")
        hist_base_all = _read_or_empty(spark, base_dir, base_schema)
        hist_banded_all = _read_or_empty(spark, banded_dir, banded_schema)
        # Replay safety: verdicts only ever see strictly-older batches.
        hist_base = hist_base_all.filter(F.col("_batch_id") < batch_id)
        hist_banded = hist_banded_all.filter(F.col("_batch_id") < batch_id)
        # Right-to-be-forgotten: tombstoned history docs stop matching
        # immediately (logical delete, O(ids) — see delete_dedup_index;
        # physical shingle removal is compact_dedup_index).
        tomb = read_tombstones(spark, [tombstone_dir(history_dir)], "id")
        if tomb is not None:
            hist_base = hist_base.join(F.broadcast(tomb), "id", "left_anti")
            hist_banded = hist_banded.join(
                F.broadcast(tomb), "id", "left_anti"
            )
        verdicts = crossside_verdicts(
            new_base,
            new_banded,
            hist_base.drop("_batch_id"),
            hist_banded.drop("_batch_id"),
            batch.select(F.col(id_col).alias("new_id")),
            min_jaccard,
        ).withColumnRenamed("new_id", id_col)
        verdicts = verdicts.persist()
        verdicts.count()
        sink(verdicts, batch_id)
        # Replay idempotence is checked PER TABLE: a crash between the
        # two appends leaves one table with batch N's rows and the
        # other without, and a single check on either table would then
        # skip (or duplicate) the other's append on replay — admitted
        # docs permanently missing their banded LSH keys can never
        # surface as near-dup candidates again (silent false
        # negatives).  Independent checks make the replay finish
        # exactly the missing half.
        # A batch whose every admitted doc was later forgotten leaves
        # zero surviving rows after compaction — the compaction ledger
        # remembers it so a full-checkpoint-loss replay can't
        # resurrect the forgotten signatures from the source data.
        compacted = _compacted_batch_ids(spark, history_dir)
        base_done = batch_id in compacted or (
            hist_base_all.filter(F.col("_batch_id") == batch_id).limit(1).count()
            > 0
        )
        banded_done = batch_id in compacted or (
            hist_banded_all.filter(F.col("_batch_id") == batch_id)
            .limit(1)
            .count()
            > 0
        )
        if not (base_done and banded_done):
            admitted = verdicts.filter(~F.col("is_duplicate")).select(
                F.col(id_col).alias("id")
            )
            if not base_done:
                (
                    new_base.join(admitted, "id")
                    .withColumn("_batch_id", F.lit(batch_id))
                    .write.mode("append")
                    .partitionBy("_batch_id")
                    .parquet(base_dir)
                )
            if not banded_done:
                (
                    new_banded.join(admitted, "id")
                    .withColumn("_batch_id", F.lit(batch_id))
                    .write.mode("append")
                    .partitionBy("_batch_id")
                    .parquet(banded_dir)
                )
        for df in (verdicts, new_base, new_banded):
            df.unpersist()

    return _drain(stream, on_batch, checkpoint_dir)


def _compacted_batch_ids(spark, history_dir: str) -> set:
    """Batch ids fully emptied by compact_dedup_index (bounded: one
    entry per forgotten-out batch)."""
    p = os.path.join(history_dir, "compacted_batches")
    if not os.path.isdir(p):
        return set()
    return {r["_batch_id"] for r in spark.read.parquet(p).collect()}


def delete_dedup_index(spark, history_dir: str, ids) -> None:
    """LOGICAL right-to-be-forgotten for the persisted dedup-admission
    index (the third persisted index next to ann_index/bm25_index —
    same tombstone discipline): append the ids to the index's
    tombstone set, O(ids) work.  From the next micro-batch on, the
    forgotten docs' signatures stop producing candidates — a
    re-submitted copy of a forgotten document is ADMITTED, not flagged
    against content the user asked to erase.  Physical shingle removal
    (the index's ``base`` table stores content-derived shingle sets,
    so bytes matter for GDPR) is :func:`compact_dedup_index`.

    ``ids`` may be a non-empty iterable of id values or a one-column
    DataFrame matching the ingest's ``id_col`` type; an empty iterable
    is a no-op (schema inference needs at least one value)."""
    from sparkgraft.sinks.tombstones import append_tombstones, recover

    recover(history_dir, ["base", "banded"])
    append_tombstones(spark, history_dir, ids, "id", long_ids=False)


def compact_dedup_index(spark, history_dir: str) -> int:
    """PHYSICAL forgetting for the dedup-admission index: rewrite ONLY
    the ``_batch_id`` partitions holding tombstoned rows (the appends
    are batch-partitioned, so the forgotten docs' batch spread bounds
    the rewrite), drop partitions emptied entirely, record fully-
    emptied batches in the ``compacted_batches`` ledger (replay
    idempotence survives the empty-batch corner), then clear the
    tombstone set — the crash-safe swap of ``sinks/tombstones.py``.
    Verdicts are unchanged; after this the forgotten shingle bytes are
    gone.  Returns the number of partition directories rewritten or
    dropped."""
    from sparkgraft.sinks.tombstones import compact

    def record(emptied: set) -> None:
        if emptied:
            spark.createDataFrame(
                [(b,) for b in sorted(emptied)], "_batch_id long"
            ).write.mode("append").parquet(f"{history_dir}/compacted_batches")

    return compact(
        spark, history_dir, ["base", "banded"], "_batch_id", "id",
        on_swapped=record,
    )


def _merge_sketch(spark, sk, base_rows, gc, schema_str):
    """Cell-wise DDSketch merge of the batch sketch ``sk`` into the
    stored sketch rows; returns the merged cells (bounded: log-buckets
    per group)."""
    if base_rows:
        sk = (
            sk.unionByName(spark.createDataFrame(base_rows, schema_str))
            .groupBy(*gc, "sign", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
    return [tuple(r) for r in sk.collect()]


def _sketch_schema(batch, gc) -> str:
    """DDL of the sketch cells: group columns, then sign/bucket/cnt."""
    return ", ".join(
        [f"`{c}` {batch.schema[c].dataType.simpleString()}" for c in gc]
        + ["sign int", "bucket long", "cnt long"]
    )


def quantile_monitor(
    stream,
    value_col: str,
    checkpoint_dir: str,
    sink,
    group_cols: list[str] | None = None,
    alpha: float = 0.01,
    qs: tuple = (0.5, 0.9, 0.99),
):
    """Streaming percentiles via the DDSketch merge law — the way
    live p99s are actually computed at scale: each micro-batch is
    sketched with ONE distributed pass (``ddsketch_build``), merged
    cell-wise into the running sketch (bounded state: one count per
    log-bucket, ~a few hundred rows per group), and
    ``sink(quantiles_df, batch_id)`` receives the updated
    p50/p90/p99 per group after every batch.

    The running sketch is kept in ``ddsketch_state.json`` under
    :class:`_BatchState`'s replay and restart policy, so a replayed
    batch is never double-counted and a restart never resets the
    percentiles.  Estimates match the batch operator exactly on the
    same data — the merge law is exact, so streaming vs batch is
    bit-identical (asserted in tests).
    """
    from sparkgraft.operators.sketch import ddsketch_build, ddsketch_quantiles

    gc = list(group_cols or [])
    store = _BatchState(checkpoint_dir, "ddsketch_state.json", [])

    def on_batch(batch, batch_id: int) -> None:
        spark = batch.sparkSession
        schema_str = _sketch_schema(batch, gc)
        rows = _merge_sketch(
            spark,
            ddsketch_build(batch, value_col, gc, alpha=alpha),
            store.before(batch_id),
            gc,
            schema_str,
        )
        quants = ddsketch_quantiles(
            spark.createDataFrame(rows, schema_str), gc, qs=qs, alpha=alpha
        )
        sink(quants, batch_id)
        store.commit(batch_id, rows)

    return _drain(stream, on_batch, checkpoint_dir)


def ks_monitor(
    stream,
    value_col: str,
    baseline,
    checkpoint_dir: str,
    sink,
    group_cols: list[str] | None = None,
    alpha: float = 0.01,
):
    """Streaming distribution-drift monitor: two-sample KS between a
    PINNED baseline and everything streamed so far, after every
    micro-batch — the live form of ``stats.ks_test_binned``.

    Both sides live as DDSketch log-bucket histograms, so state is
    bounded (~log-many cells per group) and the merge is cell-wise
    addition; the KS statistic is computed from the histograms via the
    exact-integer ``stats.ks_from_counts`` machinery over a monotone
    (sign, bucket) encoding — identical to ks_test_binned on the same
    union of values (the statistic depends only on bucket ORDER and
    counts, asserted in tests).

    The running histogram is kept in ``ks_state.json`` under
    :class:`_BatchState`'s replay and restart policy; the baseline
    histogram is its pinned value, built once at the first start.
    ``sink(verdicts_df, batch_id)`` receives one row per group with
    (n_a, n_b, ks_stat, drift) after every batch.
    """
    from sparkgraft.operators.sketch import ddsketch_build
    from sparkgraft.operators.stats import ks_from_counts

    gc = list(group_cols or [])
    store = _BatchState(
        checkpoint_dir,
        "ks_state.json",
        [],
        pin=lambda: [
            tuple(r)
            for r in ddsketch_build(
                baseline, value_col, gc, alpha=alpha
            ).collect()  # bounded: log-bucket cells per group
        ],
    )

    # monotone single-column encoding of (sign asc, sign*bucket asc)
    big = 1 << 40

    def on_batch(batch, batch_id: int) -> None:
        spark = batch.sparkSession
        schema_str = _sketch_schema(batch, gc)
        rows = _merge_sketch(
            spark,
            ddsketch_build(batch, value_col, gc, alpha=alpha),
            store.before(batch_id),
            gc,
            schema_str,
        )
        v_ord = (
            F.col("sign").cast("long") * big
            + F.col("sign") * F.col("bucket")
        ).alias("v")
        a = spark.createDataFrame(store.pinned, schema_str).select(
            *gc, v_ord, F.col("cnt").alias("ca"), F.lit(0).alias("cb")
        )
        b = spark.createDataFrame(rows, schema_str).select(
            *gc, v_ord, F.lit(0).alias("ca"), F.col("cnt").alias("cb")
        )
        counts = (
            a.unionByName(b)
            .groupBy(*gc, "v")
            .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
        )
        sink(ks_from_counts(counts, gc), batch_id)
        store.commit(batch_id, rows)

    return _drain(stream, on_batch, checkpoint_dir)


def sample_monitor(
    stream,
    weight_col: str,
    key_cols: list[str],
    k: int,
    checkpoint_dir: str,
    sink,
    salt: str = "ws",
    carry_cols: list[str] | None = None,
):
    """Streaming weighted reservoir (the live form of
    ``scale.weighted_sample``): maintain the k highest A-ES priorities
    ln(u)/w seen so far — a without-replacement weighted sample of the
    WHOLE stream at every point, in O(k) state.

    A-ES priorities are deterministic md5 functions of (salt, key), so
    the running reservoir after any prefix is EXACTLY the batch
    ``weighted_sample`` of that prefix's union (merge law: top-k of
    (state ∪ batch top-k) = top-k of the union) — asserted in tests
    and by the oracle-checked ``stream_sample`` query.  The reservoir
    is kept in ``reservoir_state.json`` under :class:`_BatchState`'s
    replay and restart policy, so crash replays never re-admit
    duplicates.  ``sink(reservoir_df, batch_id)`` receives the current
    sample after every batch.
    """
    from sparkgraft.operators.scale import weighted_sample

    store = _BatchState(checkpoint_dir, "reservoir_state.json", [])

    def on_batch(batch, batch_id: int) -> None:
        spark = batch.sparkSession
        cols = [*key_cols, *(carry_cols or []), weight_col]
        schema_str = ", ".join(
            f"`{c}` {batch.schema[c].dataType.simpleString()}" for c in cols
        )
        # batch-local top-k (distributed), then merge with the O(k) state
        local = weighted_sample(
            batch.select(*cols), weight_col, key_cols, k, salt=salt
        )
        cand = [tuple(r) for r in local.collect()] + store.before(batch_id)
        merged_df = weighted_sample(
            spark.createDataFrame(cand, schema_str)
            .dropDuplicates(list(key_cols)),
            weight_col,
            key_cols,
            k,
            salt=salt,
        )
        rows = [tuple(r) for r in merged_df.collect()]
        sink(merged_df, batch_id)
        store.commit(batch_id, rows)

    return _drain(stream, on_batch, checkpoint_dir)


def cusum_monitor(
    stream,
    baseline: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
    checkpoint_dir: str,
    sink,
    k: float = 0.0,
    h: float = 5.0,
    baseline_n: int = 50,
    digits: int = 6,
):
    """Streaming CUSUM mean-shift monitor — the live form of
    ``stats.cusum_changepoints``, in O(1) state per (key, side): the
    whole recurrence folds into TWO numbers per key and side — the
    running increment sum C and the running min M = min(0, min_j C_j)
    — because S_t = C_t − M_{t} (the cumsum − running-min identity).
    Per batch, the window computation runs distributed in Spark; only
    one (C, M) row per key collects.

    μ₀ is PINNED at the first start from the first ``baseline_n``
    rows per key of ``baseline``.  Only keys present in the baseline
    are monitored — batch rows for unknown keys are dropped by the
    baseline join (new keys need a monitor restart with a refreshed
    baseline).  The per-key state and μ₀ are kept in
    ``cusum_state.json`` under :class:`_BatchState`'s replay and
    restart policy, so a replayed batch never double-advances the
    recurrence (asserted in tests).

    Alarms are bit-identical to the batch operator run over the union
    of all batches (same integer arithmetic), PROVIDED rows arrive in
    (ts, id) order across batches — the reference's oldest-first
    single-flight discipline (SURVEY §2.9 T1/O3), natural for
    file-cadence ingestion; within a batch, order is free.
    ``sink(alarms_df, batch_id)`` receives that batch's alarm rows.
    """
    from decimal import Decimal

    from pyspark.sql import Window

    from sparkgraft.operators.stats import MEAN_SCALE, scaled_long

    k_s = int(round(k * MEAN_SCALE))
    h_s = int(round(h * MEAN_SCALE))

    def pin() -> dict:
        w_rn = Window.partitionBy(key_col).orderBy(
            F.col(ts_col).asc(), F.col(id_col).asc()
        )
        base_rows = (
            baseline.select(
                F.col(key_col),
                F.col(ts_col),
                F.col(id_col),
                scaled_long(F.col(value_col)).alias("xs"),
            )
            .withColumn("rn", F.row_number().over(w_rn))
            .withColumnRenamed(key_col, "key")
            .filter(F.col("rn") <= baseline_n)
            .groupBy("key")
            .agg(F.count("*").alias("nb"), F.sum("xs").alias("sb"))
            .collect()  # bounded: one row per monitored key
        )
        return {str(r["key"]): [int(r["nb"]), int(r["sb"])] for r in base_rows}

    store = _BatchState(checkpoint_dir, "cusum_state.json", {}, pin=pin)

    def on_batch(batch, batch_id: int) -> None:
        spark = batch.sparkSession
        keys = store.before(batch_id)
        # Tiny broadcast tables: pinned baseline + per-key (C, M) state.
        meta_rows = [
            (
                kk,
                nb,
                Decimal(sb),
                *(Decimal(int(s)) for s in keys.get(kk, ["0"] * 4)),
            )
            for kk, (nb, sb) in store.pinned.items()
        ]
        meta = spark.createDataFrame(
            meta_rows,
            "key string, nb long, sb decimal(38,0), cp0 decimal(38,0), "
            "mp0 decimal(38,0), cn0 decimal(38,0), mn0 decimal(38,0)",
        )
        dec = lambda c: c.cast("decimal(38,0)")
        t = batch.select(
            F.col(key_col).cast("string").alias("key"),
            F.col(ts_col).alias("ts"),
            F.col(id_col).alias("id"),
            F.col(value_col).alias("v"),
            scaled_long(F.col(value_col)).alias("xs"),
        ).join(F.broadcast(meta), "key")
        nb, sb, xs = dec(F.col("nb")), F.col("sb"), dec(F.col("xs"))
        kd = F.lit(k_s).cast("decimal(38,0)")
        t = t.withColumn("yp", nb * xs - sb - nb * kd).withColumn(
            "yn", sb - nb * xs - nb * kd
        )
        w_cum = Window.partitionBy("key").orderBy(
            F.col("ts").asc(), F.col("id").asc()
        ).rowsBetween(Window.unboundedPreceding, 0)
        t = t.withColumn("lcp", F.sum("yp").over(w_cum)).withColumn(
            "lcn", F.sum("yn").over(w_cum)
        )
        t = t.withColumn("rmp", F.min("lcp").over(w_cum)).withColumn(
            "rmn", F.min("lcn").over(w_cum)
        )
        # Global cumsum / running-min: C = C0 + local, M = min(M0, C0+rm).
        t = (
            t.withColumn("cp", F.col("cp0") + F.col("lcp"))
            .withColumn("cn", F.col("cn0") + F.col("lcn"))
            .withColumn("mp", F.least(F.col("mp0"), F.col("cp0") + F.col("rmp")))
            .withColumn("mn", F.least(F.col("mn0"), F.col("cn0") + F.col("rmn")))
        )
        sp = F.col("cp") - F.col("mp")
        sn = F.col("cn") - F.col("mn")
        thresh = nb * F.lit(h_s).cast("decimal(38,0)")

        def _stat(s):
            unit = nb * F.lit(MEAN_SCALE // (10**digits)).cast("decimal(38,0)")
            r = F.call_function(
                "div", F.lit(2).cast("decimal(38,0)") * s + unit, 2 * unit
            )
            return r.cast("double") / F.lit(float(10**digits))

        up, down = sp > thresh, sn > thresh
        alarms = (
            t.filter(up | down)
            .select(
                F.col("key").alias(key_col),
                F.col("ts").alias(ts_col),
                F.col("id").alias(id_col),
                F.col("v").alias(value_col),
                F.when(up, F.lit("up")).otherwise(F.lit("down")).alias("side"),
                F.when(up, _stat(sp)).otherwise(_stat(sn)).alias("stat"),
            )
        )
        # New per-key state: one aggregate row per key.
        fin = (
            t.groupBy("key")
            .agg(
                F.sum("yp").alias("dp"),
                F.sum("yn").alias("dn"),
                F.min("rmp").alias("rp"),
                F.min("rmn").alias("rn_"),
                F.first("cp0").alias("cp0"),
                F.first("mp0").alias("mp0"),
                F.first("cn0").alias("cn0"),
                F.first("mn0").alias("mn0"),
            )
            .collect()
        )
        new_keys = dict(keys)
        for r in fin:
            cp_new = int(r["cp0"]) + int(r["dp"])
            cn_new = int(r["cn0"]) + int(r["dn"])
            mp_new = min(int(r["mp0"]), int(r["cp0"]) + int(r["rp"]))
            mn_new = min(int(r["mn0"]), int(r["cn0"]) + int(r["rn_"]))
            new_keys[r["key"]] = [
                str(cp_new), str(mp_new), str(cn_new), str(mn_new)
            ]
        sink(alarms, batch_id)
        store.commit(batch_id, new_keys)

    return _drain(stream, on_batch, checkpoint_dir)


def alert_monitor(
    stream,
    key_col: str,
    ts_col: str,
    alarm_col: str,
    checkpoint_dir: str,
    sink,
    cooldown: int,
    escalate_after: int,
):
    """Streaming alert cooldown/escalation — the live form of
    ``operators.alerts.alert_lifecycle`` (the reference's retry-after-
    cooldown / escalate-while-unhealthy / clear-on-recovery flow,
    ``sevenio/main.py:28-31`` + ``README.txt:7-12``).

    Per-key state is FOUR scalars — ``(in_streak, streak_len,
    streak_start, prev_bucket)`` — because the whole lifecycle is a
    per-key fold over the evaluation stream; each batch runs the batch
    operator distributed with the carried state broadcast in, and only
    one carry-out row per key collects (the evaluation stream is
    health-flag-sized, one row per key per batch, never fact-table-
    sized).  The per-key state is kept in ``alert_state.json`` under
    :class:`_BatchState`'s replay and restart policy, so a replayed
    batch never double-advances the fold.

    Emitted events are bit-identical to ``alert_lifecycle`` run over
    the union of all batches, PROVIDED evaluations arrive in ``ts``
    order across batches (oldest-first single-flight, SURVEY §2.9
    T1/O3); within a batch, order is free.  Keys are tracked as
    strings.  ``sink(events_df, batch_id)`` receives that batch's
    alert events.
    """
    from sparkgraft.operators.alerts import (
        _annotate,
        alert_carry_out,
    )

    store = _BatchState(checkpoint_dir, "alert_state.json", {})

    carry_schema = (
        f"{key_col} string, in_streak boolean, streak_len0 long, "
        "streak_start0 long, prev_bucket0 long"
    )

    def on_batch(batch, batch_id: int) -> None:
        spark = batch.sparkSession
        keys = store.before(batch_id)
        carry = None
        if keys:
            carry = spark.createDataFrame(
                [
                    (kk, bool(st[0]), int(st[1]), st[2], st[3])
                    for kk, st in keys.items()
                ],
                carry_schema,
            )
        evals = batch.select(
            F.col(key_col).cast("string").alias(key_col),
            F.col(ts_col),
            F.col(alarm_col),
        )
        ann = _annotate(
            evals,
            [key_col],
            ts_col,
            alarm_col,
            cooldown,
            escalate_after,
            carry,
        ).localCheckpoint()  # events + carry-out read it once each
        events = ann.filter(F.col("action").isNotNull()).select(
            key_col,
            F.col("_ts").alias(ts_col),
            "action",
            "streak_len",
            "escalated",
        )
        sink(events, batch_id)
        out = alert_carry_out(ann, [key_col], carry).collect()
        new_keys = dict(keys)
        for r in out:  # bounded: one row per monitored key
            if not r["in_streak"]:
                # A cleared key's carry row is semantically identical
                # to no row at all — EVICT it, so state and the
                # broadcast carry track currently-alarming keys, not
                # every key ever seen (round-8 review: a rotating key
                # population would otherwise grow both unboundedly).
                new_keys.pop(r[key_col], None)
                continue
            new_keys[r[key_col]] = [
                True,
                int(r["streak_len0"]),
                None if r["streak_start0"] is None else int(r["streak_start0"]),
                None if r["prev_bucket0"] is None else int(r["prev_bucket0"]),
            ]
        store.commit(batch_id, new_keys)

    return _drain(stream, on_batch, checkpoint_dir)


def cdc_feed(
    spark,
    table_dir: str,
    key_cols: list[str],
    compare_cols: list[str],
    checkpoint_dir: str,
    sink,
    include_values: bool = False,
):
    """Streaming change-data feed from versioned-table commits (the
    readChangeFeed analog for sinks/versioned.py): every committed
    version's manifest is one JSON file under ``_manifests/v<N>.json``,
    so the manifest directory IS a file-stream source — each commit
    arrives as (part of) a micro-batch, and ``sink(cdc_df, batch_id)``
    receives that commit's row-level changes vs its parent
    (snapshot_diff through time travel, unchanged rows dropped,
    ``_commit_version`` carried per row).  Version 0 (no parent) emits
    every row as ``added``.

    Exactly-once: the file source's checkpoint guarantees each
    manifest is DELIVERED once; the feed itself is stateless — CDC
    rows are a pure function of the immutable manifests — so a crash
    replay of batch N re-emits bit-identical rows (asserted in tests),
    the replay safety the monitors get from :class:`_BatchState`
    falling out of the commit protocol's immutability.

    Scale: APPEND commits (the dominant type under streaming ingest)
    take a fast path — their changes are exactly the rows of their
    new files, read directly and emitted as 'added' with NO join
    touching the table (changed-rows-sized work).  The fast path is
    only sound when the appended keys are NEW, so it is taken only
    when that is cheaply PROVABLE from the parent's commit-log stats
    (every key column in stats_cols, and no parent file whose
    [min, max] overlaps the fresh key range on ALL key columns —
    composite keys prune conjunctively); otherwise the commit falls
    back to the full snapshot_diff — a re-added existing key is then
    classified correctly instead of double-counting as 'added'.  The
    first fallback logs a warning (logger ``sparkgraft.streaming``)
    naming the table and the remedy, single-key ``stats_cols`` on the
    table — the correctness is silent but the O(table)-per-commit cost
    cliff should not be.  Overwrite/delete/merge commits always run
    the full snapshot_diff (one co-partitioned full-outer join of the
    two referenced snapshots).

    Returns the started StreamingQuery.
    """
    from sparkgraft.operators.merge import snapshot_diff
    from sparkgraft.sinks.versioned import (
        _key_range_keep,
        _read_manifest,
        _touched_files,
        read_versioned,
    )

    manifest_glob = os.path.join(table_dir, "_manifests")
    fallback_seen: list = []  # once-per-stream fallback-warning latch

    stream = (
        spark.readStream.schema("version long, parent long, operation string")
        .option("pathGlobFilter", "v*.json")
        .option("maxFilesPerTrigger", 1)
        .json(manifest_glob)
    )

    def _added_only(df, version):
        """Append fast-path emission: every row of the commit's NEW
        files is an 'added' change — no join touches the table."""
        cols = [
            *key_cols,
            F.lit("added").alias("change_type"),
            F.array().cast("array<string>").alias("changed_cols"),
        ]
        if include_values:
            for c in compare_cols:
                cols.append(
                    F.lit(None).cast(df.schema[c].dataType).alias(f"old_{c}")
                )
                cols.append(F.col(c).alias(f"new_{c}"))
        return df.select(*cols).withColumn(
            "_commit_version", F.lit(version)
        )

    def _keys_provably_new(bs, parent: int, fresh_df) -> bool:
        """Cheap new-keys validation for the append fast path: the
        fresh files' key-range predicate (versioned._key_range_keep)
        keeps no parent file.  Not provable (a key column without
        stats, a parent file the stats table lacks or with NULL stats,
        or a file overlapping on every key column) returns False and
        the caller falls back to the full diff — an over-approximation,
        never a missed collision."""
        pman = _read_manifest(table_dir, parent)
        keep = _key_range_keep(fresh_df, key_cols, pman.get("stats_cols"))
        return keep is not None and not _touched_files(
            bs, table_dir, pman, keep
        )[0]

    def on_batch(batch, batch_id: int) -> None:
        bs = batch.sparkSession
        commits = sorted(
            (r["version"], r["parent"], r["operation"])
            for r in batch.collect()
        )  # bounded: one row per committed version in this batch
        if not commits:
            return

        def _full_diff(version: int, parent: int):
            old = read_versioned(bs, table_dir, version=parent)
            new = read_versioned(bs, table_dir, version=version)
            return (
                snapshot_diff(
                    old, new, key_cols, compare_cols,
                    include_values=include_values,
                )
                .filter(F.col("change_type") != "unchanged")
                .withColumn("_commit_version", F.lit(version))
            )

        out = None
        for version, parent, operation in commits:
            # APPEND FAST PATH: an append commit's changes are exactly
            # the rows of its new files (added; nothing removed or
            # changed) — read ONLY those files instead of full-outer-
            # joining two table-sized snapshots.  Sound only for NEW
            # keys: taken when the parent's commit-log stats prove the
            # fresh key range disjoint; otherwise the commit falls back
            # to the full diff.
            if operation == "append" and parent is not None:
                man_new = set(_read_manifest(table_dir, version)["files"])
                man_old = set(_read_manifest(table_dir, parent)["files"])
                fresh = sorted(man_new - man_old)
                if not fresh:
                    continue  # metadata-only commit: no row changes
                df = bs.read.parquet(
                    *[os.path.join(table_dir, f) for f in fresh]
                )
                if _keys_provably_new(bs, parent, df):
                    d = _added_only(df, version)
                else:
                    # Surface the cost cliff ONCE per stream: the
                    # fallback is correct but O(table) per commit
                    # instead of O(changed rows) — operators should add
                    # single-key stats_cols to the table.
                    if not fallback_seen:
                        fallback_seen.append(version)
                        _LOG.warning(
                            "cdc_feed(%s): append commit v%d failed the "
                            "provably-new-keys check (multi-column key, "
                            "missing key-column stats, or interleaved "
                            "key ranges) — falling back to the full "
                            "snapshot_diff, O(table) per append commit. "
                            "Add single-key stats_cols to the table. "
                            "Logged once; later commits may fall back "
                            "silently.",
                            table_dir,
                            version,
                        )
                    d = _full_diff(version, parent)
            elif parent is None:
                d = _added_only(
                    read_versioned(bs, table_dir, version=version), version
                )
            else:
                d = _full_diff(version, parent)
            out = d if out is None else out.unionByName(d)
        if out is not None:
            sink(out, batch_id)

    return _drain(stream, on_batch, checkpoint_dir)


def versioned_sink(
    stream,
    table_dir: str,
    checkpoint_dir: str,
    stats_cols: list[str] | None = None,
    sort_col: str | None = None,
    n_files: int | None = None,
    expectations: dict | None = None,
    quarantine_dir: str | None = None,
    auto_compact_every: int | None = None,
    compact_target_files: int = 4,
):
    """Streaming ingest into a versioned table (sinks/versioned.py):
    each micro-batch commits ONE append version — immutable files, a
    manifest recording the batch id, commit-log stats when
    ``stats_cols`` is given.  Exactly-once: every manifest records its
    batch id; the sink rebuilds the committed-batch set from the
    manifests once at start and maintains it in memory, so a
    ``foreachBatch`` replay of ANY already-committed batch skips —
    including full-checkpoint-loss replays that re-deliver every
    batch, not just the crash-interrupted last one.

    ``expectations`` (dict of name -> boolean Column, NULL counts as
    failure — validate_rows semantics) gates admission: rows failing
    any rule commit to ``quarantine_dir`` as their OWN versioned table
    (rows carry ``_failed_rules``) instead of the main table — the
    reference's T3 dead-letter discipline (failed/ dir + health flag,
    Pipeline.py:195-204) elevated to auditable lakehouse commits.
    Each destination keeps its own manifest batch ledger, so a crash
    between the two commits heals on replay (only the missing half
    lands).

    ``auto_compact_every=N`` runs OPTIMIZE as part of the sink: after
    every N ingest commits the snapshot rewrites into
    ``compact_target_files`` files (one compaction commit; data
    bit-identical — compact_table parity is tested) so many small
    drains can't accumulate unbounded small files.  Ingest
    commits are counted from the manifests (operation == 'append') and
    each compaction commit records the append count it covered
    (``appends_at_compact`` in its manifest), so the policy is both
    replay-stable (a replayed batch skips its append AND therefore
    never re-triggers compaction) and recovery-immediate: after a
    crash between the Nth append and its compaction — or attaching the
    sink to a table already past the threshold — the NEXT successful
    append compacts (appends-since-last-compaction >= N), instead of
    deferring a full extra cycle to 2N.

    This closes the lakehouse loop with the rest of the module: ingest
    here → ``cdc_feed`` streams each commit's changes downstream →
    ``delete_versioned``/``upsert_versioned`` maintain → ``vacuum``
    reclaims.  Returns the started StreamingQuery.
    """
    from sparkgraft.sinks.versioned import (
        committed_batches,
        committed_manifests,
        compact_table,
        write_versioned,
    )

    ms = list(committed_manifests(table_dir))
    committed = {m["batch_id"] for m in ms if m.get("batch_id") is not None}
    committed_q = committed_batches(quarantine_dir) if quarantine_dir else set()
    # Append count and the append count recorded by the newest
    # compaction commit (``appends_at_compact``; 0 when the table has
    # never compacted) rebuild from the manifests (replay-stable, same
    # discipline as the batch ledger) and advance in memory.  So
    # recovery from a crash between the Nth append and its compaction
    # (or attaching to a table already past the threshold) compacts on
    # the NEXT append instead of deferring a full extra cycle to 2N.
    appends = [sum(m["operation"] == "append" for m in ms)]
    compacted_at = [
        next(
            (
                m["appends_at_compact"]
                for m in reversed(ms)
                if m.get("appends_at_compact") is not None
            ),
            0,
        )
    ]

    def on_batch(batch, batch_id: int) -> None:
        good, bad = batch, None
        if expectations:
            checks = F.filter(
                F.array(
                    *[
                        F.when(~F.coalesce(cond, F.lit(False)), F.lit(name))
                        for name, cond in expectations.items()
                    ]
                ),
                lambda x: x.isNotNull(),
            )
            tagged = batch.withColumn("_failed_rules", checks)
            good = tagged.filter(F.size("_failed_rules") == 0).drop(
                "_failed_rules"
            )
            bad = tagged.filter(F.size("_failed_rules") > 0).withColumn(
                "_failed_rules", F.concat_ws(",", "_failed_rules")
            )
        if batch_id not in committed and not good.isEmpty():
            write_versioned(
                good,
                table_dir,
                mode="append",
                stats_cols=stats_cols,
                sort_col=sort_col,
                n_files=n_files,
                extra_meta={"batch_id": batch_id},
            )
            committed.add(batch_id)
            if auto_compact_every:
                appends[0] += 1
                if appends[0] - compacted_at[0] >= auto_compact_every:
                    compact_table(
                        batch.sparkSession,
                        table_dir,
                        target_files=compact_target_files,
                        stats_cols=stats_cols,
                        extra_meta={"appends_at_compact": appends[0]},
                    )
                    compacted_at[0] = appends[0]
        if (
            quarantine_dir
            and bad is not None
            and batch_id not in committed_q
            and not bad.isEmpty()
        ):
            write_versioned(
                bad,
                quarantine_dir,
                mode="append",
                n_files=1,
                extra_meta={"batch_id": batch_id},
            )
            committed_q.add(batch_id)

    return _drain(stream, on_batch, checkpoint_dir)


def view_maintainer(
    spark,
    table_dir: str,
    group_cols: list[str],
    sum_cols: list[str],
    key_cols: list[str],
    view_dir: str,
    checkpoint_dir: str,
):
    """Incremental materialized-view maintenance (IVM): a per-group
    (n_rows, sum_<c>) aggregate view over a versioned table, updated
    from the full-image CDC feed instead of recomputed — each commit
    applies ``cdc_group_delta`` (old images subtract, new images add,
    group-migrating updates move mass) to the stored view.  After any
    chain of appends / COW deletes / MERGEs the maintained view equals
    the direct aggregate of the latest snapshot (asserted in tests) —
    DECIMAL-exact sums make the equality bitwise, not approximate.

    The view itself is stored AS a versioned table whose commits carry
    the source batch id, so replay idempotence reuses the
    versioned_sink ledger discipline (the committed-batch set rebuilds
    from the view's own manifests), and the view's history is itself
    time-travelable.  Scale shape: per commit, work = one diff join of
    the two snapshots + a delta aggregate sized by the CHANGED rows +
    a view-sized merge join — never a full re-aggregation of the
    table.  Appends follow cdc_feed's validated fast path: the
    adds-only shortcut is taken only when the commit-log stats PROVE
    the appended keys new, so an append that re-adds an existing key
    is classified by the full diff instead of silently double-counting
    in the view.  Returns the started StreamingQuery.
    """
    from sparkgraft.operators.merge import cdc_group_delta
    from sparkgraft.sinks.versioned import (
        committed_batches,
        latest_version,
        read_versioned,
        write_versioned,
    )

    committed = committed_batches(view_dir)

    compare_cols = list(dict.fromkeys([*group_cols, *sum_cols]))

    def apply_delta(cdc, batch_id: int) -> None:
        if batch_id in committed:
            return
        delta = cdc_group_delta(cdc, group_cols, sum_cols)
        vcur = latest_version(view_dir)
        if vcur is None:
            merged = delta.select(
                *group_cols,
                F.col("d_rows").alias("n_rows"),
                *[
                    F.col(f"d_sum_{c}").alias(f"sum_{c}")
                    for c in sum_cols
                ],
            )
        else:
            cur = read_versioned(spark, view_dir)
            d = delta.select(
                *[F.col(g).alias(f"__g_{g}") for g in group_cols],
                "d_rows",
                *[f"d_sum_{c}" for c in sum_cols],
            )
            cond = None
            for g in group_cols:
                eq = F.col(g).eqNullSafe(F.col(f"__g_{g}"))
                cond = eq if cond is None else (cond & eq)
            merged = (
                cur.join(d, cond, "full_outer")
                .select(
                    *[
                        F.coalesce(F.col(g), F.col(f"__g_{g}")).alias(g)
                        for g in group_cols
                    ],
                    (
                        F.coalesce(F.col("n_rows"), F.lit(0))
                        + F.coalesce(F.col("d_rows"), F.lit(0))
                    ).alias("n_rows"),
                    *[
                        (
                            F.coalesce(
                                F.col(f"sum_{c}"),
                                F.lit(0).cast("decimal(38,6)"),
                            )
                            + F.coalesce(
                                F.col(f"d_sum_{c}"),
                                F.lit(0).cast("decimal(38,6)"),
                            )
                        )
                        .cast("decimal(38,6)")
                        .alias(f"sum_{c}")
                        for c in sum_cols
                    ],
                )
            )
        # emptied groups drop, matching a direct GROUP BY of the table
        merged = merged.filter(F.col("n_rows") > 0)
        write_versioned(
            merged, view_dir, mode="overwrite",
            extra_meta={"batch_id": batch_id},
        )
        committed.add(batch_id)

    return cdc_feed(
        spark,
        table_dir,
        key_cols,
        compare_cols,
        checkpoint_dir,
        apply_delta,
        include_values=True,
    )


def merge_sink(
    stream,
    table_dir: str,
    key_cols: list[str],
    order_col: str,
    checkpoint_dir: str,
    stats_cols: list[str] | None = None,
    sort_col: str | None = None,
    n_files: int | None = None,
):
    """Streaming MERGE into a versioned table, the engine's streaming
    upsert: each micro-batch upserts (matched keys update, new keys
    insert) as ONE committed version, with the touched-file set
    stats-pruned by the source key range (upsert_versioned) so a
    narrow update batch rewrites a handful of files, not the table.

    The newest row per key wins by ``order_col``, within a batch and
    across batches: a source row whose key is already stored with a
    strictly newer ``order_col`` is a LATE row and is dropped before
    the upsert, so it never overwrites newer stored state.  A NULL
    order loses; an exact tie goes to the later batch (within a batch,
    ties are broken by nothing further — sources should be unique per
    (key, order)).  The late-row guard reads only the stored files the
    source key range can hit (``read_versioned_skipping`` when every
    key column has stats) and is planned against the snapshot it
    reads: the sink must be the table's single writer.  A batch whose
    rows are all late commits nothing.

    Replay ledger: the committed-batch set rebuilds from the manifests
    (the versioned_sink discipline).  The first batch ever creates the
    table.  Returns the started StreamingQuery.
    """
    from pyspark.sql import Window

    from sparkgraft.sinks.versioned import (
        _key_range_keep,
        _snapshot,
        committed_batches,
        latest_version,
        read_versioned,
        read_versioned_skipping,
        upsert_versioned,
        write_versioned,
    )

    committed = committed_batches(table_dir)

    def drop_late(spark, source):
        """``source`` without the rows whose key is stored with a
        strictly newer ``order_col``."""
        version, man = _snapshot(table_dir, None)
        if not man["files"]:
            return source
        keep = _key_range_keep(source, key_cols, man.get("stats_cols"))
        stored = (
            read_versioned(spark, table_dir, version)
            if keep is None
            else read_versioned_skipping(spark, table_dir, keep, version)
        ).select(
            *[F.col(k).alias(f"__stored_{k}") for k in key_cols],
            F.col(order_col).alias("__stored_order"),
        )
        new, old = F.col(order_col), F.col("__stored_order")
        on = [F.col(k) == F.col(f"__stored_{k}") for k in key_cols]
        newer = (old > new) | (new.isNull() & old.isNotNull())
        return source.join(stored, [*on, newer], "left_anti")

    def on_batch(batch, batch_id: int) -> None:
        if batch_id in committed or batch.isEmpty():
            return
        w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
        source = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if latest_version(table_dir) is None:
            write_versioned(
                source, table_dir, mode="overwrite",
                stats_cols=stats_cols, sort_col=sort_col, n_files=n_files,
                extra_meta={"batch_id": batch_id},
            )
        else:
            source = drop_late(batch.sparkSession, source)
            if source.isEmpty():
                return
            upsert_versioned(
                batch.sparkSession, table_dir, source, key_cols,
                sort_col=sort_col, n_files=n_files,
                extra_meta={"batch_id": batch_id},
            )
        committed.add(batch_id)

    return _drain(stream, on_batch, checkpoint_dir)
