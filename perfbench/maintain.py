"""``maintain`` workload: absorb -> commit -> serve, in a closed loop.

One file-source stream (``maxFilesPerTrigger=1``) feeds every
micro-batch of 20k plain event rows to two maintainers through their
``apply_batch`` hooks:

* ``RollupMaintainer`` (whole-directory swap commit, ``SwapCommittedTable``)
  keyed (day, event_type, user_id);
* ``HourlyWindowStatsMaintainer`` (sharded manifest commit,
  ``ManifestSwapTable``), q23's hourly stats.

A cycle drops the next file into the source directory, waits until the
stream has committed it, then serves two reads: ``read_rollup``
collected, and ``read_stats`` filtered to one event type and collected.

All cycles of one instance, set-up warm-ups included, continue one
stream and one pair of state directories across session restarts, so
every measured cycle merges into existing state.
"""

from __future__ import annotations

import os
import random
import time
import traceback

from perfbench.gen import EVENT_TYPES, MAINTAIN_BATCH_ROWS
from perfbench.harness import (
    data_files,
    median,
    progress_phases,
    progress_rows,
    query_layers,
    self_times_in,
    stream_layers,
    tail,
    timed_query,
)

EVENTS_DDL = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
)
ROLLUP_KEYS = ["event_type", "user_id"]


class Maintain:
    # A measured unit is one cycle, ~2 s at the time of writing. The
    # state grows every cycle, so the cycle count must not depend on
    # speed: it is fixed by --seconds.
    UNIT_SECONDS = 2.0

    def __init__(self, bench) -> None:
        from beast_spark.streaming.eventstats import HourlyWindowStatsMaintainer
        from beast_spark.streaming.rollup import RollupMaintainer

        self.bench = bench
        self.rng = random.Random(bench.seed)
        root = bench.fresh_dir("maintain")
        self.src = os.path.join(root, "src")
        self.ckpt = os.path.join(root, "ckpt")
        os.makedirs(self.src)
        self.rollup = RollupMaintainer(os.path.join(root, "rollup"), ROLLUP_KEYS, "ts", "value")
        self.hourly = HourlyWindowStatsMaintainer(os.path.join(root, "hourly"))
        self.state_dirs = (self.rollup.path, self.hourly.path)
        self.fed: list[str] = []  # generated row files moved into the source, in order
        self.query = None
        self.attempted = self.failed = 0

    def _start(self) -> None:
        tr = self.bench.tracer
        rollup_apply = tr.wrap(self.rollup.apply_batch, "rollup.apply")
        hourly_apply = tr.wrap(self.hourly.apply_batch, "hourly.apply")

        def absorb(batch_df, batch_id):
            rollup_apply(batch_df, batch_id)
            hourly_apply(batch_df, batch_id)

        stream = (
            self.bench.spark.readStream.schema(EVENTS_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )
        self.query = (
            stream.writeStream.foreachBatch(tr.wrap(absorb, "maintain.batch"))
            .option("checkpointLocation", self.ckpt)
            .start()
        )

    def _stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def _running(self) -> bool:
        """The stream runs in the current session (a session restart
        stops it)."""
        return self.query is not None and self.query.isActive

    def cycle(self) -> dict:
        """Feed one file, wait for its commit, serve both reads."""
        from pyspark.sql import functions as F

        spark = self.bench.spark
        tr = self.bench.tracer
        if not self._running():
            self._start()
        name = f"b{self.bench.next_batch():04d}.parquet"
        before = data_files(*self.state_dirs) if tr.enabled else None
        n_before = len(self.query.recentProgress)
        self.attempted += 1
        t0 = time.perf_counter()
        os.rename(os.path.join(self.bench.inputs, "rows", name), os.path.join(self.src, name))
        self.fed.append(name)
        try:
            self.query.processAllAvailable()
        except Exception:
            self.failed += 1
            raise
        progress = [p for p in self.query.recentProgress[n_before:] if progress_rows(p) > 0]
        out = {"progress": progress, "serves": []}
        if before is not None:
            new = {k: v for k, v in data_files(*self.state_dirs).items() if before.get(k) != v}
            out["commit_files"] = len(new)
            out["commit_bytes"] = sum(new.values())
        etype = self.rng.choice(EVENT_TYPES)
        reads = (
            ("rollup.read", lambda: self.rollup.read_rollup(spark)),
            ("hourly.read",
             lambda: self.hourly.read_stats(spark).filter(F.col("event_type") == etype)),
        )
        for span, build in reads:
            self.attempted += 1
            try:
                with tr.span(span):
                    run = timed_query(tr, build, lambda df: df.collect())
            except Exception:
                self.failed += 1
                raise
            run["read"] = span
            if tr.enabled:
                run["files_read"] = len(run["df"].inputFiles())
            del run["df"]
            out["serves"].append(run)
        out["wall"] = time.perf_counter() - t0
        return out

    def warm_up(self) -> None:
        """One cycle. The stream keeps running, so after the last set-up
        the measured cycles continue the same query."""
        self.cycle()

    def run_phase(self, units: int) -> dict:
        """Run ``units`` cycles."""
        cycles = []
        start = time.time()
        for _ in range(units):
            try:
                cycles.append(self.cycle())
            except Exception:  # noqa: BLE001 - a failed cycle is counted, not fatal
                traceback.print_exc()
        self._stop()
        phases = [progress_phases(p) for c in cycles for p in c["progress"]]
        return {
            "window": (start, time.time()),
            "cycles": cycles,
            "phases": phases,
            "trigger_ms": [p.get("triggerExecution", 0.0) for p in phases],
            "serves": [r for c in cycles for r in c["serves"]],
        }

    def ops_in(self, phase: dict) -> int:
        return len(phase["cycles"])

    def e2e(self, phase: dict, setups: list[float]) -> dict:
        """``rows_per_s`` is one cycle's input rows over the median cycle
        wall time (absorb, commit and serve)."""
        cycle_s = median([c["wall"] for c in phase["cycles"]])
        return {
            "setup_s": (median(setups), "s"),
            "rows_per_s": (MAINTAIN_BATCH_ROWS / cycle_s if cycle_s else 0.0, "rows/s"),
            "batch_p50_ms": (median(phase["trigger_ms"]), "ms"),
        }

    def layers(self, phase: dict, log) -> dict:
        n = max(len(phase["cycles"]), 1)
        own = self_times_in(self.bench.tracer, phase["window"])
        cycles, serves = phase["cycles"], phase["serves"]
        serve_ms = [r["total_ms"] for r in serves]
        level, value = tail(serve_ms)
        state = data_files(*self.state_dirs)
        out = stream_layers(phase)
        out.update(query_layers(log, serves, own))
        out.update({
            "rollup.apply_ms": (own.get("rollup.apply", 0.0) * 1000 / n, "ms/batch"),
            "hourly.apply_ms": (own.get("hourly.apply", 0.0) * 1000 / n, "ms/batch"),
            "swap.commit_bytes_per_batch": (median([c["commit_bytes"] for c in cycles]), "bytes/batch"),
            "swap.files_per_commit": (median([c["commit_files"] / 2 for c in cycles]), "count"),
            "swap.state_bytes": (sum(state.values()), "bytes"),
            "swap.state_files": (len(state), "count"),
            "swap.files_read_per_serve": (median([r["files_read"] for r in serves]), "count"),
            "serve_p50_ms": (median(serve_ms), "ms"),
            "serve_tail_ms": (value, "ms"),
            "serve_tail_level": (level, "pct"),
        })
        for read in ("rollup.read", "hourly.read"):
            out[f"{read}_ms"] = (median([r["total_ms"] for r in serves if r["read"] == read]), "ms")
        return out

    # -- correctness -----------------------------------------------------

    def check(self) -> int:
        """Cycles wrong: the final ``read_stats`` must be hash-exact
        against DuckDB running q23's oracle over every row fed, and
        ``read_rollup`` must equal a DuckDB rollup of the same rows. A
        wrong final state counts every cycle as wrong."""
        if not self.fed:
            return 0
        try:
            err = self._compare()
        except Exception as exc:  # noqa: BLE001 - a check failure is counted
            err = f"{type(exc).__name__}: {exc}"
        if err:
            print(f"maintain check: {err}", flush=True)
            return len(self.fed)
        return 0

    def _compare(self) -> str | None:
        import duckdb

        from beast_spark.queries import all_queries
        from perfbench.harness import oracle_compare

        spark = self.bench.session()
        fed = [os.path.join(self.src, f) for f in self.fed]
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet({fed!r})")
            q23 = all_queries()["q23_events_hourly_window"].oracle
            err = oracle_compare(self.hourly.read_stats(spark).toPandas(), con.execute(q23).df())
            if err:
                return f"read_stats vs q23 oracle: {err}"
            rollup_sql = """
                SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, user_id,
                       count(*) AS n_rows,
                       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
                FROM events GROUP BY ALL"""
            err = oracle_compare(self.rollup.read_rollup(spark).toPandas(), con.execute(rollup_sql).df())
            return f"read_rollup vs DuckDB rollup: {err}" if err else None
        finally:
            con.close()
