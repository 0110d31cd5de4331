"""spark-graft benchmark runner.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Runs one workload in its own Spark session on ``local[<cpus>]`` and
prints, as the last line of stdout, one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer
ones, gathered from spans around the benchmark's calls into each layer
and from Spark's event log.  The line before it is a diagnostics
record (sample counts, contention probes, per-query figures).

Workloads (see NOTES.md): ``ingest``, ``sensor_history``, ``curation``.
Everything the run writes stays under ``perfbench/_work`` in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
DRIVER_MEM = "4g"  # the library's 24g default exceeds a 15 GiB box


def _configure_env(cpus: int) -> None:
    """Pin every place Spark, the JVM and Python write temporary files
    to the work directory, before pyspark is imported."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            # every JVM, the spark-submit launcher included
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
    )
    os.environ.pop("SPARK_MASTER", None)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--cpus", type=int, default=len(os.sched_getaffinity(0)),
        help="Spark local[N] threads (default: the CPUs this process may use)",
    )
    args = ap.parse_args(argv)

    missing = [
        p for p in ("sparkgraft/api.py", "__spark_entry__.py")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: engine sources not found in {ROOT}: {missing}", file=sys.stderr)
        return 2

    _configure_env(args.cpus)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    load_before = os.getloadavg()
    t0 = time.time()
    run = workloads.Run(args.seed, args.seconds, bool(args.trace), args.cpus, WORK)
    try:
        res = workloads.WORKLOADS[args.workload](run)
    finally:
        run.close()
    res.diag.update(
        workload=args.workload,
        seed=args.seed,
        cpus=args.cpus,
        driver_mem=DRIVER_MEM,
        wall_s=round(time.time() - t0, 3),
        loadavg_before=[round(x, 2) for x in load_before],
        loadavg_after=[round(x, 2) for x in os.getloadavg()],
    )
    metrics = res.layer if args.trace else res.e2e
    print(json.dumps({"diagnostics": res.diag}, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
