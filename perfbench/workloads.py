"""The benchmark's two workloads, one per kind of job users run.

``ingest``     open-loop E1 stream: logger files land on a schedule and
               ``FilePipeline`` turns each into per-channel stats, a KV
               hash and a register image.
``analytics``  closed loop, one client: repeated passes of a suite of
               sensor-history and LLM-data curation queries.

Each returns a ``Result``: end-to-end metrics, per-layer metrics (filled
only when tracing), diagnostics, and the attempted/failed counts of the
correctness checks, which run after the timed window.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal

import gen
import trace

# The timed suite: queries whose timed call does engine work on every
# call.  The stream_* family, dedup_forget and forget_panel serve
# memoized rows and are left out (NOTES.md gives each choice).
SUITE = [
    # sensor history over the multi-file events table
    "channel_stats",
    "latest_per_user",
    "rolling_anomaly",
    # LLM-data curation over documents and embeddings
    "setsim_pairs",
    "semdedup_capped",
]
# A fixed pass count per run (about 10 s of work each on a 4-core box):
# passes keep getting faster for a while, so a time-boxed loop would let
# a faster engine run more of them and shift the median by itself.
ANALYTICS_PASS_S = 10.0
SENSOR_FILES, SENSOR_ROWS = 4, 50_000
CURATION_DOCS, CURATION_VECS = 800, 400

INGEST_PERIOD_S = 6.0  # one arrival per three 2 s triggers: about half of drain capacity
INGEST_TRIGGER_S = 2.0  # FilePipeline.start default
INGEST_WARM = 1
INGEST_BURST = 3  # traced runs only: the drain rate is a per-layer figure
METRICS = ("mean", "min", "max")


@dataclass
class Result:
    e2e: dict
    layer: dict
    diag: dict
    attempted: int
    failed: int


class Run:
    """One benchmark run: its settings, work paths and Spark session."""

    def __init__(self, seed: int, seconds: float, tracing: bool, cpus: int, work: str):
        self.seed, self.seconds, self.tracing, self.cpus = seed, seconds, tracing, cpus
        self.work = work
        self.data = os.path.join(work, "data")
        self.scratch = os.path.join(work, f"run-{os.getpid()}")
        shutil.rmtree(self.scratch, ignore_errors=True)
        os.makedirs(self.scratch)
        self.events = os.path.join(self.scratch, "events")
        self.spans: list[dict] = []
        self.spark = None
        self.session_start_s = 0.0
        self._t0 = time.perf_counter()
        self.phases: dict[str, float] = {}

    def mark(self, phase: str) -> None:
        """Record when a phase of the run ended (seconds since start)."""
        self.phases[phase] = round(time.perf_counter() - self._t0, 2)

    def span(self, layer: str, name: str, start: float, end: float, **attrs) -> None:
        if self.tracing:
            self.spans.append(dict(layer=layer, name=name, start=start, end=end, **attrs))

    def start_spark(self):
        from sparkgraft import api as sg

        tmp = os.environ["TMPDIR"]
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
            ),
        }
        if self.tracing:
            os.makedirs(self.events)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.events,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t = time.perf_counter()
        self.spark = sg.get_spark("perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session and the JVM, and wait for every process the
        run started (JVM, Python workers) to end."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        pids = trace.descendants(os.getpid())
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        trace.wait_gone(pids)

    def finish(self) -> None:
        """Write the spans, kept in memory during the run."""
        if self.tracing:
            import json

            with open(os.path.join(self.work, "last-trace.json"), "w") as fh:
                json.dump(self.spans, fh)

    def close(self) -> None:
        """Stop everything the run started and drop its scratch files;
        safe to call after a failure at any point."""
        self.stop_spark()
        shutil.rmtree(self.scratch, ignore_errors=True)


def jvm_probe(spark) -> float:
    """Fixed-work JVM aggregate; its time depends on box contention only."""
    t = time.perf_counter()
    spark.range(5_000_000).selectExpr("sum(id * 2) AS s", "avg(id) AS a").write.format(
        "noop"
    ).mode("overwrite").save()
    return round(time.perf_counter() - t, 4)


def tail(samples: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least ten samples beyond it."""
    n = len(samples)
    if n < 11:
        return None, None
    s = sorted(samples)
    k = n - 11  # index with exactly ten samples above it
    return round(100.0 * (k + 1) / n, 1), s[k]


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# -- correctness: the canonicalisation of tests/conftest.py ------------------


def canon_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(canon_value(r[i]) for i in order) for r in rows)
    return sorted(cols), out


# -- closed-loop query workloads ---------------------------------------------------


@dataclass
class Call:
    npass: int
    name: str
    start: float = 0.0  # Unix seconds
    build_s: float = 0.0
    plan_s: float = 0.0
    exec_s: float = 0.0
    total_s: float = 0.0
    result: tuple | None = None
    error: str | None = None


def _query_workload(run: Run, suite: list[str], sf_dir: str, views: dict) -> Result:
    run.mark("data")
    with trace.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = run.start_spark()
        import __spark_entry__ as entry

        queries = entry.queries()
        for name in suite:  # warm-up: codegen, artifact builds, workers
            queries[name](spark, sf_dir).collect()
        setup_s = time.perf_counter() - t0
        run.mark("setup")
        cpu0 = trace.cpu_times()
        jvm_probe(spark)
        probe_before = jvm_probe(spark)

        sc = spark.sparkContext
        persisted0 = sc._jsc.getPersistentRDDs().size()
        calls: list[Call] = []
        passes = max(1, round(run.seconds / ANALYTICS_PASS_S))
        start = time.perf_counter()
        for npass in range(passes):
            for name in suite:
                c = Call(npass, name, time.time())
                if run.tracing:
                    sc.setJobGroup(f"bench:{name}:{npass}", name)
                a = time.perf_counter()
                try:
                    df = queries[name](spark, sf_dir)
                    b = time.perf_counter()
                    if run.tracing:
                        df._jdf.queryExecution().executedPlan()
                    p = time.perf_counter()
                    c.result = (df.columns, df.collect())
                    e = time.perf_counter()
                    c.build_s, c.plan_s, c.exec_s, c.total_s = b - a, p - b, e - p, e - a
                except Exception as exc:  # a failing query is counted, not fatal
                    c.error = f"{type(exc).__name__}: {exc}"[:300]
                calls.append(c)
        elapsed = time.perf_counter() - start
        run.mark("timed")
        cpu1 = trace.cpu_times()
        if run.tracing:
            sc.setJobGroup("probe", "contention probe")  # keep it out of the suite's jobs
        persisted1 = sc._jsc.getPersistentRDDs().size()
        probe_after = jvm_probe(spark)
        run.stop_spark()
        run.mark("stopped")

    # Correctness, outside the timed window: every timed call against
    # the query's DuckDB oracle on the same directory.
    import duckdb

    con = duckdb.connect()
    for t, path in views.items():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    oracles = entry.oracle_sql()
    expected = {}
    for name in suite:
        cur = con.execute(oracles[name])
        expected[name] = canon_rows([d[0] for d in cur.description], cur.fetchall())
    con.close()
    failures = []
    for c in calls:
        if c.error is not None:
            failures.append((c.name, c.npass, c.error))
        elif canon_rows(*c.result) != expected[c.name]:
            failures.append((c.name, c.npass, "oracle mismatch"))

    ok = [c for c in calls if c.error is None]
    per_query = {
        n: _median([c.total_s for c in ok if c.name == n]) for n in suite
    }
    pass_s = sum(per_query.values())
    pct, tail_s = tail([c.total_s for c in ok])
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (pass_s, "s"),
    }
    layer = {}
    if run.tracing:
        layer = _query_layers(run, suite, calls, passes, persisted1 - persisted0)
        _set(layer, "process.peak_rss_mb", rss.peak_mb)
    diag = {
        "passes": passes,
        "pass_sums_s": [round(sum(c.total_s for c in ok if c.npass == p), 4) for p in range(passes)],
        "timed_s": round(elapsed, 3),
        "query_calls": len(calls),
        "per_query_median_s": {k: round(v, 4) for k, v in per_query.items()},
        "query_latency_tail": {"percentile": pct, "value_s": tail_s, "samples": len(ok)},
        "jvm_probe_s": [probe_before, probe_after],
        "cpu_steal_share": round((cpu1[0] - cpu0[0]) / max(cpu1[1] - cpu0[1], 1), 4),
        "failures": failures[:20],
    }
    run.mark("checked")
    diag["phases_s"] = run.phases
    run.finish()
    return Result(e2e, layer, diag, len(calls), len(failures))


def _empty_layers() -> dict:
    """Every per-layer metric at 0: a layer the workload does not
    exercise reports 0 (NOTES.md says which layer each workload drives)."""
    names = {
        "session.start_s": "s",
        "process.peak_rss_mb": "MB",
        "streaming.queue_wait_s": "s",
        "streaming.batch_overhead_s": "s",
        "streaming.drain_files_per_s": "1/s",
        "streaming.batches": "count",
        "streaming.files_per_batch": "count",
        "streaming.quarantined": "count",
        "operators.build_s": "s",
        "sinks.kv_s": "s",
        "sinks.register_s": "s",
        "entry.build_s": "s",
        "engine.plan_s": "s",
        "engine.exec_s": "s",
        "engine.jobs": "count",
        "engine.stages": "count",
        "engine.tasks": "count",
        "engine.task_s": "s",
        "engine.parallelism": "ratio",
        "engine.offcpu_s": "s",
        "engine.shuffle_bytes": "bytes",
        "engine.max_task_share": "ratio",
        "engine.spill_bytes": "bytes",
        "engine.gc_s": "s",
        "engine.input_rows": "count",
        "engine.persisted_rdds_leaked": "count",
        "engine.jobs_per_file": "count",
        "engine.file_reads_per_file": "count",
        "gen.late_s": "s",
        "gen.backlog_max": "count",
    }
    for q in SUITE:
        names.update({f"q.{q}.plan_s": "s", f"q.{q}.exec_s": "s", f"q.{q}.task_s": "s"})
    return {k: (0.0, u) for k, u in names.items()}


def _set(layer: dict, name: str, value: float) -> None:
    layer[name] = (float(value), layer[name][1])


ADDITIVE = ("exec_s", "jobs", "stages", "tasks", "task_s", "offcpu_s",
            "shuffle_bytes", "spill_bytes", "gc_s", "input_rows")


def _engine_layers(layer: dict, totals: dict, per: int) -> None:
    for k, v in totals.items():
        _set(layer, f"engine.{k}", v / per if k in ADDITIVE else v)


def _query_layers(run: Run, suite, calls, npass, leaked) -> dict:
    layer = _empty_layers()
    jobs, tasks = trace.read_event_log(run.events)
    mine = [j for j in jobs if j.group and j.group.startswith("bench:")]
    _engine_layers(layer, trace.engine_totals(mine, tasks, run.cpus), npass)
    ok = [c for c in calls if c.error is None]

    def by_pass(attr: str) -> float:
        return _median([sum(getattr(c, attr) for c in ok if c.npass == p) for p in range(npass)])

    _set(layer, "session.start_s", run.session_start_s)
    _set(layer, "entry.build_s", by_pass("build_s"))
    _set(layer, "engine.plan_s", by_pass("plan_s"))
    _set(layer, "engine.persisted_rdds_leaked", leaked / npass)
    for q in suite:
        qc = [c for c in ok if c.name == q]
        _set(layer, f"q.{q}.plan_s", _median([c.plan_s for c in qc]))
        _set(layer, f"q.{q}.exec_s", _median([c.exec_s for c in qc]))
        per_pass = [
            trace.engine_totals(
                [j for j in mine if j.group == f"bench:{q}:{p}"], tasks, run.cpus
            )["task_s"]
            for p in range(npass)
        ]
        _set(layer, f"q.{q}.task_s", _median(per_pass))
    for c in calls:
        run.span("entry", c.name, c.start, c.start + c.total_s, npass=c.npass,
                 build_s=c.build_s, plan_s=c.plan_s, exec_s=c.exec_s, error=c.error)
    return layer


def analytics(run: Run) -> Result:
    d = gen.analytics_dir(run.data, run.seed, SENSOR_FILES, SENSOR_ROWS,
                          CURATION_DOCS, CURATION_VECS)
    views = {
        "events": f"{d}/events.parquet/*.parquet",
        "documents": f"{d}/documents.parquet",
        "embeddings": f"{d}/embeddings.parquet",
    }
    return _query_workload(run, SUITE, d, views)


# -- open-loop ingest -----------------------------------------------------------------


def _expected_stats(files: dict) -> dict:
    """stem -> {"<channel>:<metric>": value} computed by DuckDB over the
    generated samples, in the channel_stats oracle's shape; the mean is
    rounded HALF-UP from the exact decimal sum."""
    import duckdb
    import numpy as np
    import pandas as pd

    frames = []
    for stem, mat in files.items():
        micros = np.round((mat[:, 0] * 86400.0 + gen.OLE_EPOCH_UNIX) * 1e6).astype("int64")
        for ci, ch in enumerate(gen.LOGGER_CHANNELS):
            frames.append(
                pd.DataFrame(
                    {
                        "file": stem,
                        "ts": pd.to_datetime(micros, unit="us"),
                        "channel": ch.replace("-", "_"),
                        "value": mat[:, ci + 1],
                    }
                )
            )
    con = duckdb.connect()
    con.register("samples", pd.concat(frames, ignore_index=True))
    rows = con.execute(
        """
        WITH t0 AS (SELECT file, min(ts) AS t0 FROM samples GROUP BY file)
        SELECT s.file, s.channel,
               CAST(sum(CAST(s.value AS DECIMAL(27,6))) AS VARCHAR) AS total,
               count(s.value) AS n,
               round(min(s.value), 3) AS "min",
               round(max(s.value), 3) AS "max"
        FROM samples s JOIN t0 USING (file)
        WHERE s.ts >= t0.t0 + INTERVAL 10 SECOND
        GROUP BY s.file, s.channel
        """
    ).fetchall()
    con.close()
    out: dict[str, dict] = {}
    for stem, ch, total, n, mn, mx in rows:
        mean = float((Decimal(total) / n).quantize(Decimal("0.001"), ROUND_HALF_UP))
        out.setdefault(stem, {}).update(
            {f"{ch}:mean": mean, f"{ch}:min": mn, f"{ch}:max": mx}
        )
    return out


def ingest(run: Run) -> Result:
    import numpy as np

    n_open = max(3, math.floor(run.seconds / INGEST_PERIOD_S))
    total = INGEST_WARM + n_open + (INGEST_BURST if run.tracing else 0)
    rng = np.random.default_rng([run.seed, 4])
    base_unix = 1_700_000_000.0 + float(rng.integers(0, 86_400 * 365))
    staging = os.path.join(run.scratch, "staging")
    landing = os.path.join(run.scratch, "landing")
    failed_dir = os.path.join(run.scratch, "failed")
    os.makedirs(staging)
    os.makedirs(landing)
    names, mats = [], {}
    for i in range(total):
        start = base_unix + 30.0 * i
        blob, mat = gen.logger_file(rng, start)
        name = "Logger1_100Hz_30sek_" + time.strftime(
            "%Y-%m-%d_%H-%M-%S", time.gmtime(start)
        ) + ".dat"
        with open(os.path.join(staging, name), "wb") as fh:  # mtime order = schedule order
            fh.write(blob)
        names.append(name)
        mats[name] = mat
    register_of = {
        f"{ch.replace('-', '_')}:{m}": 100 + 2 * (3 * i + j)
        for i, ch in enumerate(gen.LOGGER_CHANNELS)
        for j, m in enumerate(METRICS)
    }

    run.mark("data")
    with trace.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = run.start_spark()
        from pyspark.sql import functions as F

        from sparkgraft import api as sg

        progress: list[dict] = []
        if run.tracing:
            spark.streams.addListener(trace.progress_listener(progress))
        mapping = spark.createDataFrame(list(register_of.items()), "field string, register int")
        sunk: dict[str, dict] = {}
        pending: dict = {}

        def transform(batch):
            a = time.time()
            samples = sg.decode_sample_files(batch)
            first = samples.agg(F.min("ts")).collect()[0][0]
            cleaned = samples.filter(
                F.col("ts") >= F.lit(first) + F.expr("INTERVAL 10 SECONDS")
            )
            out = sg.channel_stats(cleaned, ["channel"], "value")
            pending.update(start=a, end=time.time())
            return out

        def sink(stats, stem):
            a = time.time()
            kv = {
                r["field"]: r["value"]
                for r in sg.stats_to_kv(stats, "channel", file_stem=stem).collect()
            }
            b = time.time()
            image = sg.register_image(sg.stats_to_kv(stats, "channel"), mapping)
            reg = {r["register"]: r["reg_value"] for r in image.collect()}
            c = time.time()
            sunk[stem] = dict(
                kv=kv, reg=reg, t_start=pending["start"], t_built=pending["end"],
                t_kv=b, t_sink_start=a, done=c,
            )

        pipeline = sg.FilePipeline(
            spark,
            name="lpi_100hz",
            input_dir=landing,
            schema="path string, modificationTime timestamp, length long, content binary",
            transform=transform,
            sink=sink,
            checkpoint_dir=os.path.join(run.scratch, "checkpoint"),
            quarantine_dir=failed_dir,
            archive_dir=os.path.join(run.scratch, "finished"),
            fmt="binaryFile",
            options={},
            health=sg.HealthBoard(),
        )
        query = pipeline.start(f"{INGEST_TRIGGER_S:g} seconds")

        def quarantined() -> int:
            return len(os.listdir(failed_dir)) if os.path.isdir(failed_dir) else 0

        def wait_for(n: int, deadline: float) -> None:
            while len(sunk) + quarantined() < n and time.time() < deadline:
                time.sleep(0.02)

        for name in names[:INGEST_WARM]:  # warm-up: the first stream batches
            os.rename(os.path.join(staging, name), os.path.join(landing, name))
        wait_for(INGEST_WARM, time.time() + 150)
        setup_s = time.perf_counter() - t0
        run.mark("setup")
        cpu0 = trace.cpu_times()
        jvm_probe(spark)
        probe_before = jvm_probe(spark)
        persisted0 = spark.sparkContext._jsc.getPersistentRDDs().size()

        # Open loop: one arrival per period, each half-way between two
        # ticks of the trigger clock (Spark fires processing-time triggers
        # at epoch multiples of the interval).  Every file then waits the
        # mean trigger delay, so the spread measures the engine rather
        # than where an arrival fell between ticks.  Traced runs add a
        # burst that lands at once, for the drain rate.
        grid = math.ceil((time.time() + 1.5) / INGEST_TRIGGER_S) * INGEST_TRIGGER_S
        due = {
            name: grid + INGEST_PERIOD_S * k + INGEST_TRIGGER_S / 2
            for k, name in enumerate(names[INGEST_WARM : INGEST_WARM + n_open])
        }
        burst_due = grid + INGEST_PERIOD_S * n_open + INGEST_TRIGGER_S / 2
        burst = names[INGEST_WARM + n_open :]
        due.update({name: burst_due for name in burst})
        schedule = os.path.join(run.scratch, "schedule.txt")
        gen_log = os.path.join(run.scratch, "arrivals.log")
        with open(schedule, "w") as fh:
            fh.writelines(f"{n} {d:.6f}\n" for n, d in due.items())
        loadgen = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py"),
             staging, landing, gen_log, schedule]
        )
        wait_for(total, burst_due + 30 * INGEST_BURST + 60)
        run.mark("timed")
        cpu1 = trace.cpu_times()
        query.stop()
        loadgen.wait(timeout=60)
        persisted1 = spark.sparkContext._jsc.getPersistentRDDs().size()
        probe_after = jvm_probe(spark)
        time.sleep(0.5 if run.tracing else 0)  # let the listener bus drain
        run.stop_spark()
        run.mark("stopped")

    with open(gen_log) as fh:
        arrivals = {n: (float(d), float(a)) for n, d, a in (ln.split() for ln in fh)}
    timed = names[INGEST_WARM:]
    expected = _expected_stats({n: mats[n] for n in timed})
    failures = []
    for n in timed:
        got = sunk.get(n)
        if got is None:
            failures.append((n, "not sunk (quarantined or timed out)"))
            continue
        want = expected[n]
        bad_kv = [f for f, v in want.items() if got["kv"].get(f"{n}:{f}") in (None, "")
                  or float(got["kv"][f"{n}:{f}"]) != v]
        bad_reg = [f for f, v in want.items()
                   if got["reg"].get(register_of[f]) is None
                   or np.float32(got["reg"][register_of[f]]) != np.float32(v)]
        if bad_kv or bad_reg or len(got["kv"]) != len(want):
            failures.append((n, f"kv wrong {bad_kv[:3]}, registers wrong {bad_reg[:3]}"))

    open_names = names[INGEST_WARM : INGEST_WARM + n_open]
    lat = [sunk[n]["done"] - due[n] for n in open_names if n in sunk]
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (_median(lat), "s"),
    }
    layer = {}
    if run.tracing:
        layer = _ingest_layers(run, sunk, timed, open_names, due, arrivals,
                               progress, quarantined(), persisted1 - persisted0)
        burst_done = [sunk[n]["done"] for n in burst if n in sunk]
        if burst_done:
            _set(layer, "streaming.drain_files_per_s",
                 len(burst_done) / (max(burst_done) - burst_due))
        _set(layer, "process.peak_rss_mb", rss.peak_mb)
    pct, tail_s = tail(lat)
    diag = {
        "open_loop_files": len(open_names),
        "burst_files": len(burst),
        "latency_s": [round(x, 4) for x in lat],
        "latency_tail": {"percentile": pct, "value_s": tail_s, "samples": len(lat)},
        "gen_late_max_s": round(max((a - d for d, a in arrivals.values()), default=0.0), 4),
        "jvm_probe_s": [probe_before, probe_after],
        "cpu_steal_share": round((cpu1[0] - cpu0[0]) / max(cpu1[1] - cpu0[1], 1), 4),
        "failures": failures[:20],
    }
    run.mark("checked")
    diag["phases_s"] = run.phases
    run.finish()
    return Result(e2e, layer, diag, len(timed), len(failures))


def _ingest_layers(run, sunk, timed, open_names, due, arrivals, progress,
                   n_quarantined, leaked) -> dict:
    from datetime import datetime

    layer = _empty_layers()
    got = [sunk[n] for n in timed if n in sunk]
    files = max(len(got), 1)
    window = (min(due[n] for n in timed), max((g["done"] for g in got), default=0.0))
    jobs, tasks = trace.read_event_log(run.events)
    mine = trace.jobs_in(jobs, *window)
    totals = trace.engine_totals(mine, tasks, run.cpus)
    _engine_layers(layer, totals, files)
    _set(layer, "engine.jobs_per_file", len(mine) / files)
    _set(layer, "engine.file_reads_per_file", totals["input_rows"] / files)
    _set(layer, "engine.persisted_rdds_leaked", leaked / files)
    _set(layer, "session.start_s", run.session_start_s)
    _set(layer, "streaming.queue_wait_s",
         _median([sunk[n]["t_start"] - due[n] for n in open_names if n in sunk]))
    _set(layer, "operators.build_s", _median([g["t_built"] - g["t_start"] for g in got]))
    _set(layer, "sinks.kv_s", _median([g["t_kv"] - g["t_sink_start"] for g in got]))
    _set(layer, "sinks.register_s", _median([g["done"] - g["t_kv"] for g in got]))
    batches, overheads = 0, []
    for p in progress:
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        trig = p["duration_ms"].get("triggerExecution", 0) / 1e3
        if p["rows"] == 0 or not window[0] <= start <= window[1]:
            continue
        batches += 1
        inside = sum(g["done"] - g["t_start"] for g in got if start <= g["t_start"] <= start + trig)
        overheads.append(trig - inside)
    _set(layer, "streaming.batches", batches)
    _set(layer, "streaming.files_per_batch", len(got) / batches if batches else 0.0)
    _set(layer, "streaming.batch_overhead_s", _median(overheads))
    _set(layer, "streaming.quarantined", n_quarantined)
    _set(layer, "gen.late_s", max((a - d for d, a in arrivals.values()), default=0.0))
    events = sorted([(a, 1) for n, (d, a) in arrivals.items()]
                    + [(g["done"], -1) for g in got])
    depth = peak = 0
    for _, step in events:
        depth += step
        peak = max(peak, depth)
    _set(layer, "gen.backlog_max", peak)
    for n in timed:
        if n in sunk:
            g = sunk[n]
            run.span("operators", "transform", g["t_start"], g["t_built"], file=n)
            run.span("sinks", "kv", g["t_sink_start"], g["t_kv"], file=n)
            run.span("sinks", "register", g["t_kv"], g["done"], file=n)
    return layer


WORKLOADS = {"ingest": ingest, "analytics": analytics}
