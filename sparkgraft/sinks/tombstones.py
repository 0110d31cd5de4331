"""Logical deletes and partition-bounded compaction for the persisted
indexes (``ann_index``, the dedup-admission index in
``streaming/pipeline.py``; ``bm25_index`` reads its tombstones and
normalizes its ids here but keeps its journaled rewrite).

A delete appends ids to ``<index_dir>/tombstones``, a parquet id set
that serving anti-joins.  :func:`compact` rewrites only the partitions
holding tombstoned ids into ``<table>_staging`` and swaps them in.
The swap moves each live partition to ``<table>_trash`` before its
staged copy moves in; the trash is deleted after every swap, and the
tombstones after the trash.  :func:`recover` restores each trash entry
whose live partition is missing (a crash between the two moves, or a
partition an unfinished compaction emptied) and deletes the rest.
Every mutator of an index runs it before it writes, so a write never
creates a live partition that would shadow a parked one.  The restored
rows are still tombstoned, so the next compaction removes them again;
because the tombstones outlive the trash, a restore never brings back
a row whose tombstone is gone.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def tombstone_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "tombstones")


def id_frame(spark: SparkSession, ids, col: str, long_ids: bool) -> "DataFrame | None":
    """``ids`` as a one-column DataFrame named ``col``: a DataFrame of
    any column name is renamed; an iterable becomes ``long`` rows
    (``long_ids``) or rows of the type Spark infers.  None for an empty
    iterable."""
    if isinstance(ids, DataFrame):
        return ids.toDF(col)
    rows = [(int(i),) if long_ids else (i,) for i in ids]
    if not rows:
        return None
    return spark.createDataFrame(rows, f"{col} long" if long_ids else [col])


def read_tombstones(
    spark: SparkSession, paths: list[str], col: str
) -> "DataFrame | None":
    """Distinct ``col`` over the tombstone dirs in ``paths`` that hold
    a parquet file, or None when none does."""
    paths = [p for p in paths if glob.glob(os.path.join(glob.escape(p), "*.parquet"))]
    if not paths:
        return None
    return spark.read.parquet(*paths).select(col).distinct()


def append_tombstones(
    spark: SparkSession, index_dir: str, ids, col: str, long_ids: bool
) -> None:
    """Logical delete of ``ids`` (see :func:`id_frame`); an empty
    iterable is a no-op."""
    df = id_frame(spark, ids, col, long_ids)
    if df is not None:
        df.write.mode("append").parquet(tombstone_dir(index_dir))


def _partitions(table_dir: str, part_col: str) -> set[str]:
    return {
        os.path.basename(p)
        for p in glob.glob(os.path.join(glob.escape(table_dir), f"{part_col}=*"))
    }


def recover(index_dir: str, tables: list[str]) -> None:
    """Undo the swap of a compaction that died: put back each parked
    partition of ``<index_dir>/<table>`` whose live copy is missing."""
    for table in tables:
        table_dir = os.path.join(index_dir, table)
        trash = f"{table_dir}_trash"
        if not os.path.isdir(trash):
            continue
        for name in os.listdir(trash):
            live = os.path.join(table_dir, name)
            if os.path.isdir(live):
                shutil.rmtree(os.path.join(trash, name))
            else:
                os.replace(os.path.join(trash, name), live)
        os.rmdir(trash)


def compact(
    spark: SparkSession, index_dir: str, tables: list[str], part_col: str, col: str,
    keep_schema: bool = False, on_swapped: "Callable[[set], None] | None" = None,
) -> int:
    """Remove the tombstoned ``col`` ids physically from each
    ``<index_dir>/<table>`` (partitioned by ``part_col``), then clear
    the tombstones.  ``keep_schema`` keeps one zero-row partition when
    a table loses every row, so it stays readable.
    ``on_swapped`` gets the ``part_col`` values dropped in any table,
    after the last swap and before the trash is deleted.  Returns the
    number of partitions rewritten or dropped across the tables."""
    recover(index_dir, tables)
    table_dirs = [os.path.join(index_dir, t) for t in tables]
    tomb = read_tombstones(spark, [tombstone_dir(index_dir)], col)
    if tomb is None:
        return 0
    touched, emptied = 0, set()
    for table in table_dirs:
        if not _partitions(table, part_col):
            continue
        live = spark.read.parquet(table)
        hit = live.join(F.broadcast(tomb), col).select(part_col).distinct()
        # bounded collect: one row per partition holding forgotten ids
        affected = sorted(r[part_col] for r in hit.collect())
        if not affected:
            continue
        names = [f"{part_col}={p}" for p in affected]
        # parquet can't lazily overwrite its own input: stage the
        # surviving rows, then swap the affected partition dirs
        staging, trash = f"{table}_staging", f"{table}_trash"
        live.filter(F.col(part_col).isin(affected)).join(
            F.broadcast(tomb), col, "left_anti"
        ).write.partitionBy(part_col).mode("overwrite").parquet(staging)
        if (
            keep_schema
            and not _partitions(staging, part_col)
            and _partitions(table, part_col) <= set(names)
        ):
            spark.createDataFrame([], live.drop(part_col).schema).write.mode(
                "overwrite"
            ).parquet(os.path.join(staging, names[0]))
        os.makedirs(trash, exist_ok=True)
        for p, name in zip(affected, names):
            os.replace(os.path.join(table, name), os.path.join(trash, name))
            src = os.path.join(staging, name)
            if os.path.isdir(src):
                os.replace(src, os.path.join(table, name))
            else:
                emptied.add(p)
        touched += len(affected)
    if on_swapped is not None:
        on_swapped(emptied)
    for table in table_dirs:
        shutil.rmtree(f"{table}_trash", ignore_errors=True)
        shutil.rmtree(f"{table}_staging", ignore_errors=True)
    shutil.rmtree(tombstone_dir(index_dir), ignore_errors=True)
    return touched
