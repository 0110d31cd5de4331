"""Open-loop arrival generator for the ``ingest`` workload.

Runs as its own process so its schedule never slows when the engine
does.  Files are written into a staging directory first (untimed), then
each is renamed into the landing directory at its due time; rename is
atomic, so the file source never sees a partial file.  Every rename is
logged as ``name due actual`` (Unix seconds) to the log file, which the
benchmark reads after the run.

Usage: python3 loadgen.py STAGING LANDING LOG SCHEDULE
where SCHEDULE holds one ``name due`` pair per line, sorted by due.
"""

from __future__ import annotations

import os
import sys
import time


def main(staging: str, landing: str, log_path: str, schedule_path: str) -> int:
    with open(schedule_path) as fh:
        plan = [(name, float(due)) for name, due in (ln.split() for ln in fh if ln.strip())]
    with open(log_path, "w") as log:
        for name, due in plan:
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(os.path.join(staging, name), os.path.join(landing, name))
            log.write(f"{name} {due:.6f} {time.time():.6f}\n")
            log.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:5]))
