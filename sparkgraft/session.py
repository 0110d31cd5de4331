"""SparkSession factory with scale-oriented defaults.

The engine targets large clusters (100 TB inputs, ~1000 executors) but is
tested on ``local[*]``.  All knobs below are *per-job sane defaults* — on
a real cluster the resource manager overrides cores/memory while the SQL
conf here (AQE, broadcast threshold, partition sizing) carries over.
**SIZING.md derives the cluster-mode values of every knob here from the
SCALE.md measurements** (per-task rates, straggler shares, memory
identities); these defaults are the local[32] instantiation of those
formulas.

Rationale per setting:

- ``spark.sql.adaptive.enabled`` + coalescePartitions + skewJoin: runtime
  re-planning is the single biggest lever at 100 TB — it fixes shuffle
  partition counts after seeing real sizes and splits skewed join keys.
- ``spark.sql.shuffle.partitions``: a *starting* value; AQE coalesces
  down.  Local default 32 matches the harness (local[32]); real clusters
  should set ~2-3x total cores.
- ``spark.sql.files.maxPartitionBytes`` 128m: keeps scan tasks in the
  sweet spot where one task's working set fits executor memory.
- ``spark.sql.autoBroadcastJoinThreshold`` 64m: dimension tables in this
  engine (region/nation/mapping-style lookups, SURVEY §2.3 J1) are tiny;
  broadcasting them removes the shuffle entirely.
- Arrow enabled: every Pandas-UDF hot path (report parsing, embedding
  kernels) moves data in Arrow batches, not pickled rows.
- Local masters only: Python workers fork from ``sparkgraft.pydaemon`` (no
  per-task ``pyspark.zip`` re-read), found via ``PYTHONPATH`` from any working
  directory.  On a cluster ``--py-files`` reach workers after the daemon starts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Parquet scans: enable filter pushdown + dictionary filtering (on by
    # default, pinned here so a misconfigured cluster can't silently
    # disable them).
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "sparkgraft",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster
    master is configured (the test/bench harness contract).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    if master and master.startswith("local"):
        # Local mode runs every executor thread inside ONE JVM whose heap
        # defaults to 1g — 32 concurrent tasks starve at soak scale (the
        # harness box has 128 GiB).  The 24g default is capped at a third
        # of this machine's RAM: a heap ceiling above what the JVM, the
        # Python driver and its workers can share lets the JVM defer
        # collection until the kernel kills it.  Only effective when this
        # call is the one that launches the JVM; a cluster manager
        # overrides it.
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{min(24 * 1024, ram_mb // 3)}m"),
        )
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = builder.config("spark.python.daemon.module", "sparkgraft.pydaemon")
        builder = builder.config("spark.executorEnv.PYTHONPATH", root)
    conf = dict(DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
