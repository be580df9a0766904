"""Offline parser for a Spark event log (one uncompressed JSON-lines file).

The traced run starts Spark with ``spark.eventLog.enabled=true``,
``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false`` (Spark 4's default is a rolling,
zstd-compressed directory, which nothing here can read), and this module
reads the file after the session stops.

All event-log times are epoch milliseconds from the driver's clock, the
same clock as ``time.time()``, so a window taken from a benchmark span
selects the jobs, stages and tasks that ran inside it.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from perfbench.trace import union_length

# Physical nodes that run Python workers (mapInArrow, pandas UDFs, ...).
PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")


@dataclass
class Task:
    finish: float
    run_ms: float
    cpu_ms: float
    gc_ms: float
    shuffle_read: int
    shuffle_write: int
    spill: int
    updates: dict[int, int]


@dataclass
class EventLog:
    jobs: list[tuple[float, float]] = field(default_factory=list)  # (submit, end)
    stages: list[tuple[float, float]] = field(default_factory=list)  # (submit, complete)
    tasks: list[Task] = field(default_factory=list)
    aqe_updates: list[float] = field(default_factory=list)  # event times
    # accumulator ids of each plan node's "number of output rows"
    node_rows: dict[str, set[int]] = field(default_factory=dict)
    # accumulator ids of every metric of a Python-running node
    python_accums: set[int] = field(default_factory=set)

    def python_task(self, t: Task) -> bool:
        return not self.python_accums.isdisjoint(t.updates)


def _num(v) -> int:
    try:
        return int(float(v))
    except (TypeError, ValueError):
        return 0


def _walk_plan(log: EventLog, node: dict) -> None:
    name = node.get("nodeName", "")
    for m in node.get("metrics", []):
        if m.get("name") == "number of output rows":
            log.node_rows.setdefault(name, set()).add(m["accumulatorId"])
        if PYTHON_NODE.search(name):
            log.python_accums.add(m["accumulatorId"])
    for child in node.get("children", []):
        _walk_plan(log, child)


def parse(path: str) -> EventLog:
    log = EventLog()
    job_submit: dict[int, float] = {}
    last = 0.0  # latest event time seen: AQE plan updates carry none
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            for key in ("Submission Time", "Completion Time", "time"):
                if isinstance(ev.get(key), (int, float)):
                    last = max(last, ev[key] / 1000.0)
            if kind == "SparkListenerJobStart":
                job_submit[ev["Job ID"]] = ev["Submission Time"] / 1000.0
            elif kind == "SparkListenerJobEnd":
                start = job_submit.pop(ev["Job ID"], None)
                if start is not None:
                    log.jobs.append((start, ev["Completion Time"] / 1000.0))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" in info and "Completion Time" in info:
                    log.stages.append(
                        (info["Submission Time"] / 1000.0, info["Completion Time"] / 1000.0)
                    )
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                last = max(last, info["Finish Time"] / 1000.0)
                sr = m.get("Shuffle Read Metrics", {})
                log.tasks.append(
                    Task(
                        finish=info["Finish Time"] / 1000.0,
                        run_ms=m.get("Executor Run Time", 0),
                        cpu_ms=m.get("Executor CPU Time", 0) / 1e6,
                        gc_ms=m.get("JVM GC Time", 0),
                        shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        shuffle_write=m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                        spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        updates={a["ID"]: _num(a.get("Update")) for a in info.get("Accumulables", [])},
                    )
                )
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                _walk_plan(log, ev["sparkPlanInfo"])
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                log.aqe_updates.append(last)
                _walk_plan(log, ev["sparkPlanInfo"])
    return log


def _inside(t: float, windows) -> bool:
    return windows is None or any(a <= t <= b for a, b in windows)


def totals(log: EventLog, windows=None) -> dict[str, float]:
    """Work counts and task times for everything that ended inside the
    (start, end) second windows (all of it when ``windows`` is None)."""
    tasks = [t for t in log.tasks if _inside(t.finish, windows)]
    py = [t for t in tasks if log.python_task(t)]
    return {
        "jobs": sum(1 for j in log.jobs if _inside(j[1], windows)),
        "stages": sum(1 for s in log.stages if _inside(s[1], windows)),
        "tasks": len(tasks),
        "task_ms": sum(t.run_ms for t in tasks),
        "cpu_ms": sum(t.cpu_ms for t in tasks),
        "gc_ms": sum(t.gc_ms for t in tasks),
        "shuffle_read_bytes": sum(t.shuffle_read for t in tasks),
        "shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
        "spill_bytes": sum(t.spill for t in tasks),
        # a Python stage's run time not spent on JVM CPU is spent waiting
        # on its Python worker
        "python_ms": sum(max(0.0, t.run_ms - t.cpu_ms) for t in py),
        "aqe_updates": sum(1 for a in log.aqe_updates if _inside(a, windows)),
    }


def node_output_rows(log: EventLog, pattern: str, windows=None) -> int:
    """Rows output by every plan node whose name matches ``pattern``."""
    ids = set().union(*(v for k, v in log.node_rows.items() if re.search(pattern, k)))
    return sum(
        n for t in log.tasks if _inside(t.finish, windows)
        for a, n in t.updates.items() if a in ids
    )


def first_job_ms(log: EventLog, start: float, end: float) -> float | None:
    """Driver time from ``start`` to the first job submitted before ``end``."""
    subs = [j[0] for j in log.jobs if start <= j[0] <= end]
    return (min(subs) - start) * 1000.0 if subs else None


def stage_gap_ms(log: EventLog, start: float, end: float) -> float:
    """Time in [start, end] after the first stage began during which no
    stage was running: driver-side planning, AQE re-planning and result
    handling between stages."""
    ivs = [(max(a, start), min(b, end)) for a, b in log.stages if b >= start and a <= end]
    if not ivs:
        return 0.0
    first = min(a for a, _ in ivs)
    return ((end - first) - union_length(ivs)) * 1000.0
