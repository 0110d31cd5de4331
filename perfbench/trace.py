"""Measurement plumbing: Spark event-log parsing, a streaming progress
listener, process-tree RSS sampling and process shutdown.

Engine work is read from Spark's own records after the session stops:
the event log gives every job, stage and task with its metrics, and
jobs are attributed to a query by their job-group tag or, where no tag
is set (streaming callbacks), by submission time inside a window.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass


# -- event log ---------------------------------------------------------------


@dataclass
class Task:
    stage: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_bytes: int
    spill_bytes: int
    input_rows: int


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int
    stages: list[int]


def _event_files(evdir: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(evdir):
        out += [os.path.join(root, f) for f in files if not f.startswith(".")]
    return sorted(out)


def read_event_log(evdir: str) -> tuple[list[Job], dict[int, list[Task]]]:
    """Jobs and per-stage tasks from every event-log file under evdir."""
    jobs: dict[int, Job] = {}
    tasks: dict[int, list[Task]] = {}
    for path in _event_files(evdir):
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    met = ev.get("Task Metrics") or {}
                    t = Task(
                        stage=ev["Stage ID"],
                        run_s=met.get("Executor Run Time", 0) / 1e3,
                        cpu_s=met.get("Executor CPU Time", 0) / 1e9,
                        gc_s=met.get("JVM GC Time", 0) / 1e3,
                        shuffle_bytes=(met.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        spill_bytes=met.get("Memory Bytes Spilled", 0)
                        + met.get("Disk Bytes Spilled", 0),
                        input_rows=(met.get("Input Metrics") or {}).get("Records Read", 0),
                    )
                    tasks.setdefault(t.stage, []).append(t)
                elif '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"],
                        props.get("spark.jobGroup.id"),
                        ev.get("Submission Time", 0),
                        0,
                        list(ev.get("Stage IDs", [])),
                    )
                elif '"SparkListenerJobEnd"' in line:
                    ev = json.loads(line)
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end_ms = ev.get("Completion Time", 0)
    return sorted(jobs.values(), key=lambda j: j.job_id), tasks


def _union_s(intervals: list[tuple[int, int]]) -> float:
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1e3


def engine_totals(jobs: list[Job], tasks: dict[int, list[Task]], cores: int) -> dict:
    """Sum the engine work of a set of jobs.  A stage that several jobs
    share (a reused shuffle) is counted once, by its first job."""
    seen: set[int] = set()
    ts: list[Task] = []
    for j in jobs:
        for s in j.stages:
            if s not in seen and s in tasks:
                seen.add(s)
                ts += tasks[s]
    exec_s = _union_s([(j.submit_ms, max(j.end_ms, j.submit_ms)) for j in jobs])
    task_s = sum(t.run_s for t in ts)
    return {
        "exec_s": exec_s,
        "jobs": len(jobs),
        "stages": len(seen),
        "tasks": len(ts),
        "task_s": task_s,
        "parallelism": task_s / (exec_s * cores) if exec_s > 0 else 0.0,
        "offcpu_s": sum(max(t.run_s - t.cpu_s, 0.0) for t in ts),
        "shuffle_bytes": sum(t.shuffle_bytes for t in ts),
        "max_task_share": max((t.run_s for t in ts), default=0.0) / task_s if task_s else 0.0,
        "spill_bytes": sum(t.spill_bytes for t in ts),
        "gc_s": sum(t.gc_s for t in ts),
        "input_rows": sum(t.input_rows for t in ts),
    }


def jobs_in(jobs: list[Job], start: float, end: float) -> list[Job]:
    """Jobs submitted inside [start, end] (Unix seconds)."""
    a, b = start * 1e3, end * 1e3
    return [j for j in jobs if a <= j.submit_ms <= b]


# -- streaming progress --------------------------------------------------------


def progress_listener(sink: list):
    """A StreamingQueryListener that appends each progress as a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append(
                {
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "timestamp": p.timestamp,
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()


def cpu_times() -> tuple[int, int]:
    """(steal, total) CPU ticks from /proc/stat: the share of time the
    hypervisor ran someone else, a contention diagnostic."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


# -- processes -----------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except OSError:
        return 0.0


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (driver, JVM, Python workers) every ``period`` seconds."""

    def __init__(self, period: float = 0.25) -> None:
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_mb(p) for p in [me, *descendants(me)])
            self.peak_mb = max(self.peak_mb, total)
            self._stop.wait(self.period)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every listed process has ended; SIGKILL whatever is
    left at the deadline, then reap this process's own children."""
    import signal

    deadline = time.time() + timeout
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in pids) and time.time() < deadline + 10:
        time.sleep(0.1)
    for p in pids:
        try:
            os.waitpid(p, os.WNOHANG)
        except ChildProcessError:
            pass
