"""The event-log parser on a tiny hand-checked log: one SQL execution
whose first stage runs a MapInArrow node in two tasks and whose second
stage, after an AQE re-plan, reads a shuffle."""

import os

import pytest

from perfbench import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "tiny_eventlog.jsonl")
T = 1_000_000_000.0  # the fixture's epoch, in seconds


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(FIXTURE)


def test_totals(log):
    assert eventlog.totals(log) == {
        "jobs": 1,
        "stages": 2,
        "tasks": 3,
        "task_ms": 850,
        "cpu_ms": 260.0,
        "gc_ms": 5,
        "shuffle_read_bytes": 128,
        "shuffle_write_bytes": 128,
        "spill_bytes": 0,
        # only the two MapInArrow tasks: (280 - 30) + (380 - 80)
        "python_ms": 550.0,
        "aqe_updates": 1,
    }


def test_windows_select_by_end_time(log):
    first_stage = [(T, T + 0.6)]
    tot = eventlog.totals(log, first_stage)
    assert (tot["jobs"], tot["stages"], tot["tasks"], tot["task_ms"]) == (0, 1, 2, 660)


def test_node_output_rows(log):
    assert eventlog.node_output_rows(log, "MapInArrow") == 250
    assert eventlog.node_output_rows(log, "Scan") == 260
    assert eventlog.node_output_rows(log, "MapInArrow", [(T + 0.45, T + 1)]) == 150


def test_first_job_and_stage_gaps(log):
    assert eventlog.first_job_ms(log, T, T + 1) == pytest.approx(100)
    assert eventlog.first_job_ms(log, T + 0.2, T + 1) is None
    # stages cover 110-510 and 700-900 ms; the gaps after the first stage
    # starts are 510-700 and 900-950
    assert eventlog.stage_gap_ms(log, T, T + 0.95) == pytest.approx(240)
    assert eventlog.stage_gap_ms(log, T + 2, T + 3) == 0.0
