"""The event-log reader on a hand-written log with the event shapes Spark
writes: job start/end with properties, task ends with metrics and
accumulator updates, and an SQL plan naming a Python exec node's
output-row metric (first in an adaptive plan update)."""

from __future__ import annotations

import json

import pytest

from eventlog import busy_ms, read_jobs, summarize


def _task(stage, run_ms, cpu_ns, sw=0, sr=0, spill=0, accums=()):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": [{"ID": i, "Update": u} for i, u in accums]},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": sr},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
        },
    }


EVENTS = [
    {"Event": "SparkListenerApplicationStart", "App Name": "t"},
    {
        "Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
        "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "w/q_a/run"},
    },
    _task(0, 100, 50_000_000, sw=300),
    _task(1, 40, 20_000_000, sr=300, accums=[(77, 5)]),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
    {
        "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
        "executionId": 3,
        "sparkPlanInfo": {
            "nodeName": "AdaptiveSparkPlan", "metrics": [],
            "children": [{
                "nodeName": "ArrowEvalPython", "children": [],
                "metrics": [{"name": "number of output rows", "accumulatorId": 77},
                            {"name": "data sent to Python workers", "accumulatorId": 78}],
            }],
        },
    },
    {
        "Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
        "Stage IDs": [2],
        "Properties": {"streaming.sql.batchId": "4", "sql.streaming.queryId": "qid"},
    },
    _task(2, 10, 1_000_000, spill=64, accums=[(78, 999)]),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2600},
]


@pytest.fixture
def log(tmp_path):
    p = tmp_path / "local-1"
    p.write_text("".join(json.dumps(e) + "\n" for e in EVENTS))
    return str(p)


def test_read_jobs(log):
    j0, j1 = read_jobs(log)
    assert (j0.group, j0.batch_id, j0.stages, j0.tasks) == ("w/q_a/run", None, [0, 1], 2)
    assert (j0.run_ms, j0.cpu_ns, j0.shuffle_write_bytes, j0.shuffle_read_bytes) == (
        140, 70_000_000, 300, 300)
    assert j0.python_rows == 5  # accumulator 77 only; 78 is bytes
    assert (j1.query_id, j1.batch_id, j1.spill_bytes, j1.python_rows) == ("qid", 4, 64, 0)
    assert (j1.submit_ms, j1.end_ms) == (2000, 2600)


def test_summarize_and_gaps(log):
    jobs = read_jobs(log)
    s = summarize(jobs, lambda j: "stream" if j.batch_id is not None else j.group,
                  windows={"w/q_a/run": [(900, 1900)]})
    assert s["w/q_a/run"]["jobs"] == 1
    assert s["w/q_a/run"]["task_cpu_s"] == pytest.approx(0.07)
    assert s["w/q_a/run"]["gap_s"] == pytest.approx(0.5)  # 1000 ms window, 500 busy
    assert s["stream"]["spill_bytes"] == 64
    assert "gap_s" not in s["stream"]


def test_busy_ms_merges_overlaps(log):
    jobs = read_jobs(log)
    assert busy_ms(jobs, 0, 3000) == 1100
    assert busy_ms(jobs, 1200, 2100) == 400
