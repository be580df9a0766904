"""Run one perfbench workload and print its result as one JSON line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout of beast_spark. The steps:

1. ``perfbench/gen.py`` writes the seeded inputs and their expected
   digests (a separate, single-threaded process);
2. set-up: start a Spark session and run one untimed operation, twice
   (the first set-up also launches the JVM); ``setup_s`` is the median;
3. measure a fixed amount of work sized by ``--seconds`` (today's wall
   time of that work; a faster program finishes sooner);
4. check every operation's output against the generator's digests or a
   DuckDB reference.

With ``--trace 0`` the last line carries the end-to-end metrics. With
``--trace 1`` half of the work is measured untraced and half traced
(spans around the program's public calls, plus Spark's event log), each
half from a fresh stream and state after one session restart, and the
last line carries the per-layer metrics and the tracing overhead.
The spans are written to ``.perfbench_spans/<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest", "maintain", "queries")
# Set-ups per run. Set-ups are most of a run's wall time, and a benchmark
# pass of all three workloads has to fit in an hour.
SETUPS = 2


def _environment(work: str) -> None:
    """Settings that keep runs repeatable on a small shared host."""
    from perfbench.harness import cores

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )  # mapInArrow workers import beast_spark
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("TZ", "UTC")


def _workload_class(name: str):
    if name == "ingest":
        from perfbench.ingest import Ingest

        return Ingest
    if name == "maintain":
        from perfbench.maintain import Maintain

        return Maintain
    from perfbench.queries import Queries

    return Queries


def _units(cls, seconds: float) -> int:
    """Measured units (polls, cycles or rounds) that ``seconds`` buys. The work
    is fixed by --seconds, so two commits measured alike do the same
    work, however fast each is."""
    return max(1, round(seconds / cls.UNIT_SECONDS))


def measure(name: str, seed: int, seconds: float, trace: bool, work: str):
    from perfbench.harness import Bench
    from perfbench.trace import Tracer

    cls = _workload_class(name)
    units = _units(cls, seconds / 2 if trace else seconds)
    # streaming input batches: one per warm-up, one per measured unit
    batches = (3 + 2 * units) if trace else (SETUPS + units)
    inputs = os.path.join(work, "inputs")
    clock = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "gen.py"), "--workload", name,
         "--seed", str(seed), "--out", inputs, "--batches", str(batches)],
        check=True,
    )
    _log(f"generated inputs in {time.perf_counter() - clock:.1f} s")
    bench = Bench(work, inputs, seed, Tracer(enabled=False))
    try:
        if trace:
            instances, metrics = _traced(bench, cls, units, name)
        else:
            w = cls(bench)
            setups = bench.setups(SETUPS, w.warm_up)
            _log("set-ups (s): " + " ".join(f"{t:.2f}" for t in setups))
            metrics = w.e2e(w.run_phase(units), setups)
            instances = [w]
        clock = time.perf_counter()
        failed = sum(w.failed + w.check() for w in instances)
        _log(f"checked outputs in {time.perf_counter() - clock:.1f} s")
    finally:
        bench.close()
    attempted = sum(w.attempted for w in instances)
    if trace:
        metrics["failed_frac"] = (failed / attempted if attempted else 1.0, "ratio")
        metrics = _declared(metrics)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _traced(bench, cls, units: int, name: str):
    """The traced run: an untimed set-up that launches the JVM, then two
    halves alike but for tracing, each on a fresh workload instance (its
    own stream and state), each one restart plus warm-up and then
    ``units`` measured units. The second half has spans and the event log
    on; its layer split is reported with its overhead over the first."""
    from perfbench import eventlog

    instances = [cls(bench)]
    bench.setups(1, instances[0].warm_up)
    halves = []
    for traced in (False, True):
        w = cls(bench)
        instances.append(w)
        bench.tracer.enabled = traced
        setup = bench.setups(1, w.warm_up, event_log=traced)
        phase = w.run_phase(units)
        bench.tracer.enabled = False
        halves.append((w, phase, w.e2e(phase, setup)))
    bench.stop_session()
    (_, _, plain), (w, phase, traced) = halves
    log = eventlog.parse(bench.event_logs[-1])
    metrics = w.layers(phase, log)
    metrics.update(_spark_layers(log, phase, w.ops_in(phase)))
    for k, v in plain.items():
        metrics[f"trace_overhead.{k}"] = (traced[k][0] - v[0], v[1])
    spans = os.path.join(ROOT, ".perfbench_spans")
    os.makedirs(spans, exist_ok=True)
    bench.tracer.dump(os.path.join(spans, f"{name}-{bench.seed}.json"))
    return instances, metrics


def _spark_layers(log, phase: dict, ops: int) -> dict:
    """Event-log totals over the traced phase, per operation (a
    micro-batch, or a query)."""
    from perfbench import eventlog

    tot = eventlog.totals(log, [phase["window"]])
    unit = {"_ms": "ms/op", "bytes": "bytes/op"}
    return {
        f"spark.{k}": (v / max(ops, 1), next((u for s, u in unit.items() if k.endswith(s)), "count/op"))
        for k, v in tot.items()
    }


def _declared(metrics: dict) -> dict:
    """Exactly the per-layer metrics of BENCHMARK.json: a layer the
    workload bypasses did no work and reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: metrics.get(m["name"], (0.0, m["unit"])) for m in spec["per_layer"]}


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "beast_spark", "__init__.py")):
        print(f"perfbench: no beast_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    _environment(work)
    os.chdir(work)  # spark-warehouse/, derby.log and metastore_db/ land here
    try:
        result = measure(args.workload, args.seed, args.seconds, bool(args.trace), work)
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result line
        traceback.print_exc()
        return 1
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
