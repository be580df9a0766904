"""``queries`` workload: the registry's queries whose ``spec.fn`` does
eager driver-side work before it returns a DataFrame, over generated
read-only tables.

A round runs every query of the slice in a seeded order: build the
DataFrame (``spec.fn``, which counts the eager index builds), then run it
with a ``noop`` write. Between queries it calls
``release_scratch_caches()`` and ``clearCache()``, so no query reuses
another's cached state. A set-up's warm-up round collects each result
instead, and every collected result is checked hash-exact against the
query's DuckDB oracle.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
import traceback

from perfbench.harness import median, query_layers, self_times_in, tail, timed_query

# q98 (MinHash over documents) builds an LSH index into a scratch table,
# and q165 collects per-day prefix counts for a broadcast lookup; both
# happen inside ``spec.fn``, before the clock of a caller that times only
# the run.
SLICE = ("q98", "q165")
TABLES = ("orders", "lineitem", "documents")


def _specs():
    from beast_spark.queries import all_queries

    by_prefix = {n.split("_")[0]: s for n, s in all_queries().items()}
    return {q: by_prefix[q] for q in SLICE}


class Queries:
    # A measured unit is one round; --seconds buys one round per 3 s, so
    # the default 10 s buys three (a warm round takes ~4.5 s on 4 cores).
    UNIT_SECONDS = 3.0

    def __init__(self, bench) -> None:
        self.bench = bench
        with open(os.path.join(bench.inputs, "digest.json")) as fh:
            self.table_rows = sum(json.load(fh)["rows"].values())
        self.specs = _specs()
        self.rng = random.Random(bench.seed)
        self.attempted = self.failed = 0
        self.collected: list[tuple[str, object]] = []

    def _cleanup(self) -> None:
        from beast_spark.operators._cache import release_scratch_caches

        release_scratch_caches()
        self.bench.spark.catalog.clearCache()

    def warm_up(self) -> None:
        """One untimed round that collects each result for the check."""
        for q in SLICE:
            self.attempted += 1
            try:
                got = self.specs[q].fn(self.bench.spark, self.bench.inputs).toPandas()
                self.collected.append((q, got))
            except Exception:  # noqa: BLE001 - a failed query is counted, not fatal
                traceback.print_exc()
                self.failed += 1
            self._cleanup()

    def run_query(self, q: str) -> dict:
        self.attempted += 1
        try:
            run = timed_query(
                self.bench.tracer,
                lambda: self.specs[q].fn(self.bench.spark, self.bench.inputs),
                lambda df: df.write.format("noop").mode("overwrite").save(),
            )
        except Exception:
            self.failed += 1
            raise
        finally:
            self._cleanup()
        del run["df"]
        run["query"] = q
        return run

    def run_phase(self, units: int) -> dict:
        """Run ``units`` rounds."""
        runs, rounds = [], []
        start = time.time()
        for _ in range(units):
            order = list(SLICE)
            self.rng.shuffle(order)
            r0 = time.perf_counter()
            for q in order:
                try:
                    runs.append(self.run_query(q))
                except Exception:  # noqa: BLE001 - a failed query is counted, not fatal
                    traceback.print_exc()
            rounds.append(time.perf_counter() - r0)
        return {"window": (start, time.time()), "runs": runs, "rounds": rounds}

    def ops_in(self, phase: dict) -> int:
        return len(phase["runs"])

    def e2e(self, phase: dict, setups: list[float]) -> dict:
        """A query is this workload's batch: ``batch_p50_ms`` is each
        query's median build plus run, averaged over the slice so that
        every query weighs the same, and ``rows_per_s`` the rows of the
        tables a round reads over the median round wall time."""
        round_s = median(phase["rounds"])
        per_query = [
            median([r["total_ms"] for r in phase["runs"] if r["query"] == q]) for q in SLICE
        ]
        return {
            "setup_s": (median(setups), "s"),
            "rows_per_s": (self.table_rows / round_s if round_s else 0.0, "rows/s"),
            "batch_p50_ms": (statistics.fmean(per_query), "ms"),
        }

    def layers(self, phase: dict, log) -> dict:
        runs = phase["runs"]
        level, value = tail([r["total_ms"] for r in runs])
        out = query_layers(log, runs, self_times_in(self.bench.tracer, phase["window"]))
        out.update({"query_tail_ms": (value, "ms"), "query_tail_level": (level, "pct")})
        for q in SLICE:
            mine = [r for r in runs if r["query"] == q]
            out[f"{q}.build_ms"] = (median([r["build_ms"] for r in mine]), "ms")
            out[f"{q}.execute_ms"] = (median([r["total_ms"] - r["build_ms"] for r in mine]), "ms")
        return out

    def check(self) -> int:
        """Collected warm-up results that differ from the DuckDB oracle."""
        import duckdb

        from perfbench.harness import oracle_compare

        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.bench.inputs, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        wrong = 0
        oracle = {}
        for q, got in self.collected:
            try:
                if q not in oracle:
                    oracle[q] = con.execute(self.specs[q].oracle).df()
                err = oracle_compare(got, oracle[q])
            except Exception as exc:  # noqa: BLE001 - a check failure is counted
                err = f"{type(exc).__name__}: {exc}"
            if err:
                print(f"queries check: {q}: {err}", flush=True)
                wrong += 1
        con.close()
        return wrong
