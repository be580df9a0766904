"""What the three workloads share: the Spark session they measure, the
statistics they report, and the file-system counters they read.

The harness starts Spark through the program's own session factory
(``beast_spark.session.get_spark``) as ``local[<cores>]`` in this one
process, and adds only settings that keep runs apart and quiet: a
private warehouse dir, no console progress bar and, for the traced run,
an uncompressed single-file event log.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import time
import traceback

from perfbench.trace import Tracer


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    """One benchmark run's state: work dir, seed, tracer and the current
    Spark session."""

    def __init__(self, work: str, inputs: str, seed: int, tracer: Tracer) -> None:
        self.work = work
        self.inputs = inputs
        self.seed = seed
        self.tracer = tracer
        self.spark = None
        self.event_logs: list[str] = []
        self._event_log_on = False
        self._n = 0
        self._batches = 0

    def next_batch(self) -> int:
        """Index of the next generated input batch not yet fed to any
        workload instance of this run."""
        self._batches += 1
        return self._batches - 1

    def fresh_dir(self, name: str) -> str:
        """A new, empty directory under the work dir."""
        self._n += 1
        path = os.path.join(self.work, f"{name}-{self._n}")
        os.makedirs(path)
        return path

    def start_session(self, event_log: bool = False):
        """Stop any current session and start a new one."""
        from beast_spark.session import get_spark

        self.stop_session()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={self.work}",
        }
        if event_log:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(app_name="perfbench", cpus=cores(), extra_conf=conf)
        self._event_log_on = event_log
        return self.spark

    def session(self):
        """The current session, or a new one."""
        return self.spark or self.start_session()

    def stop_session(self) -> None:
        if self.spark is None:
            return
        app = self.spark.sparkContext.applicationId
        for q in self.spark.streams.active:
            q.stop()
        self.spark.stop()
        self.spark = None
        if self._event_log_on:
            self.event_logs.append(os.path.join(self.work, "eventlog", app))
        self._event_log_on = False

    def close(self) -> None:
        """Stop the session, then end the JVM that PySpark launched (it
        exits when its stdin closes) and wait until it has exited."""
        from pyspark import SparkContext

        self.stop_session()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is None:
            return
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None

    def setups(self, n: int, warm_up, event_log: bool = False) -> list[float]:
        """Start a session and run ``warm_up()`` n times; returns the wall
        seconds of each. The last session stays open. A failed warm-up
        does not end the run: the workload has counted it as failed."""
        out = []
        for _ in range(n):
            self.stop_session()
            t0 = time.perf_counter()
            self.start_session(event_log=event_log)
            try:
                warm_up()
            except Exception:  # noqa: BLE001 - counted by the workload
                traceback.print_exc()
            out.append(time.perf_counter() - t0)
        return out


def timed_query(tracer, build, execute) -> dict:
    """Build a DataFrame with ``build()`` and run it with ``execute(df)``.

    Under tracing the physical plan is forced between the two, in its own
    span, so planning is split from execution; untraced, planning happens
    inside ``execute`` as it would for any caller. Times are ms; the
    ``exec_start``/``end`` epoch seconds line the query up with the event
    log."""
    t0 = time.perf_counter()
    with tracer.span("query.build"):
        df = build()
    t1 = time.perf_counter()
    if tracer.enabled:
        with tracer.span("query.plan"):
            df._jdf.queryExecution().executedPlan()
    exec_start = time.time()
    with tracer.span("query.execute"):
        execute(df)
    t2 = time.perf_counter()
    return {"df": df, "build_ms": (t1 - t0) * 1000, "total_ms": (t2 - t0) * 1000,
            "exec_start": exec_start, "end": time.time()}


def query_layers(log, runs: list[dict], own: dict) -> dict:
    """Driver-side split of a list of ``timed_query`` results."""
    from perfbench.eventlog import first_job_ms, stage_gap_ms

    n = max(len(runs), 1)
    first = [first_job_ms(log, r["exec_start"], r["end"]) for r in runs]
    out = {
        "spark.first_job_ms": (median([f for f in first if f is not None]), "ms"),
        "spark.stage_gap_ms": (
            median([stage_gap_ms(log, r["exec_start"], r["end"]) for r in runs]), "ms"),
    }
    for span in ("query.build", "query.plan", "query.execute"):
        out[f"{span}_ms"] = (own.get(span, 0.0) * 1000 / n, "ms/query")
    return out


def oracle_compare(spark_pdf, oracle_pdf) -> str | None:
    """The registry's hash-exact rule (``tools/oracle_sweep.py``): columns
    by name, every cell stringified, rows sorted, no float tolerance.
    Returns None on a match, else the first difference."""
    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from oracle_sweep import compare

    return compare(spark_pdf, oracle_pdf)


def tail(values: list[float]) -> tuple[float, float]:
    """(level, value): the highest of the 50/75/90/95/99th percentiles
    that has at least 10 samples beyond it; the maximum (level 100)
    when there are too few samples for any of them."""
    n = len(values)
    for level in (99, 95, 90, 75, 50):
        if n * (100 - level) / 100 >= 10:
            return float(level), percentile(values, level)
    return 100.0, max(values)


def percentile(values: list[float], level: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(level / 100 * len(s)) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def data_files(*paths: str) -> dict[str, int]:
    """Size of every data file under ``paths`` (hidden and
    underscore-prefixed bookkeeping files are left out)."""
    out = {}
    for path in paths:
        for dirpath, _, names in os.walk(path):
            for name in names:
                if not name.startswith((".", "_")):
                    full = os.path.join(dirpath, name)
                    out[full] = os.path.getsize(full)
    return out


PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def stream_layers(phase: dict) -> dict:
    """Per-trigger phase medians from ``StreamingQueryProgress.durationMs``
    and the tail of the micro-batch latency."""
    level, value = tail(phase["trigger_ms"])
    out = {"batch_tail_ms": (value, "ms"), "batch_tail_level": (level, "pct")}
    for ph in PHASES:
        out[f"progress.{ph}_ms"] = (median([p.get(ph, 0.0) for p in phase["phases"]]), "ms")
    return out


def self_times_in(tracer, window) -> dict[str, float]:
    """Self seconds per span name over the spans that began in ``window``."""
    from perfbench.trace import self_times

    return self_times([s for s in tracer.spans if window[0] <= s.start <= window[1]])


def progress_phases(progress) -> dict[str, float]:
    """``durationMs`` of one ``StreamingQueryProgress`` as a plain dict."""
    return {k: float(v) for k, v in progress.durationMs.items()}


def progress_rows(progress) -> int:
    return int(progress.numInputRows)
