"""Full determinism audit (the verify-skill recipe, persisted): run
every ``queries()`` entry TWICE — separate SparkSessions with shuffle
partitions 7 vs 64 — and diff the canonicalized result sets.  Any
difference is a partitioning-dependent result that WILL flake the
driver gate.  Every memoized artifact (fits, staged fixtures,
drained streams) is rebuilt in each session, so both runs compute
every query from scratch.

Run:  python tools/determinism_audit.py [sf_dir]
Exit code 0 = every query partition-count-invariant.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def run(n_partitions: int, sf_dir: str) -> dict[str, str]:
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", str(n_partitions))
        .config("spark.ui.enabled", "false")
        .appName(f"determinism-{n_partitions}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name, fn in sorted(entrymod.queries().items()):
        rows = sorted(
            tuple(canon(v) for v in r) for r in fn(spark, sf_dir).collect()
        )
        out[name] = hashlib.md5(repr(rows).encode()).hexdigest()
    spark.stop()
    entrymod.clear_artifacts()
    return out


def main(sf_dir: str) -> int:
    a = run(7, sf_dir)
    b = run(64, sf_dir)
    bad = [k for k in a if a[k] != b[k]]
    print(f"audited {len(a)} queries at {sf_dir}")
    print("NONDETERMINISTIC:", bad or "none")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"))
