"""Reader for Spark's JSON event log (``spark.eventLog.enabled=true``).

Turns one application's log into one record per job: its job group,
streaming query id and batch id (from the job properties), submit and
completion times, and the sums over its stages and tasks of task count,
executor run and CPU time, shuffle read and write bytes, spill, and rows
returned by Python/Arrow exec nodes (the ``number of output rows`` SQL
metric of plan nodes whose name contains ``Python``, ``Arrow`` or
``Pandas``). :func:`summarize` groups job records by any key and adds the
wall time inside a set of windows during which no job was running.

    python3 perfbench/eventlog.py EVENT_LOG_FILE     # prints per-group sums
"""

from __future__ import annotations

import json
import sys
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field

PYTHON_NODE_MARKERS = ("Python", "Arrow", "Pandas")


@dataclass
class Job:
    job_id: int
    group: str | None = None
    description: str | None = None
    query_id: str | None = None
    batch_id: int | None = None
    submit_ms: int = 0
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_rows: int = 0


def _walk_plan(node: dict, python_accums: set[int]) -> None:
    name = node.get("nodeName", "")
    if any(m in name for m in PYTHON_NODE_MARKERS):
        for m in node.get("metrics", []):
            if m.get("name") == "number of output rows":
                python_accums.add(int(m["accumulatorId"]))
    for child in node.get("children", []):
        _walk_plan(child, python_accums)


def read_jobs(path: str) -> list[Job]:
    """Parse one event-log file into job records, ordered by job id."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    python_accums: set[int] = set()
    task_ends: list[dict] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                bid = props.get("streaming.sql.batchId")
                job = Job(
                    job_id=ev["Job ID"],
                    group=props.get("spark.jobGroup.id"),
                    description=props.get("spark.job.description"),
                    query_id=props.get("sql.streaming.queryId"),
                    batch_id=int(bid) if bid is not None else None,
                    submit_ms=ev.get("Submission Time", 0),
                    stages=list(ev.get("Stage IDs", [])),
                )
                jobs[job.job_id] = job
                for sid in job.stages:
                    stage_job[sid] = job.job_id
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = ev.get("Completion Time", 0)
            elif kind == "SparkListenerTaskEnd":
                task_ends.append(ev)
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                plan = ev.get("sparkPlanInfo")
                if plan:
                    _walk_plan(plan, python_accums)
    # task ends are folded in after the whole log is read, because an
    # adaptive plan update can name a Python node's metric after the
    # first of its tasks finished
    for ev in task_ends:
        job = jobs.get(stage_job.get(ev.get("Stage ID", -1), -1))
        if job is None:
            continue
        tm = ev.get("Task Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        job.tasks += 1
        job.run_ms += tm.get("Executor Run Time", 0)
        job.cpu_ns += tm.get("Executor CPU Time", 0)
        job.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        job.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
        job.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            if acc.get("ID") in python_accums:
                job.python_rows += int(acc.get("Update") or 0)
    return [jobs[k] for k in sorted(jobs)]


def busy_ms(jobs: Iterable[Job], lo_ms: float, hi_ms: float) -> float:
    """Milliseconds of [lo_ms, hi_ms] covered by at least one job."""
    spans = sorted(
        (max(j.submit_ms, lo_ms), min(j.end_ms or hi_ms, hi_ms)) for j in jobs
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return covered


def _empty() -> dict[str, float]:
    return {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "task_cpu_s": 0.0,
            "shuffle_bytes": 0, "spill_bytes": 0, "python_rows": 0}


def summarize(
    jobs: Iterable[Job],
    key: Callable[[Job], str | None],
    windows: dict[str, list[tuple[float, float]]] | None = None,
) -> dict[str, dict[str, float]]:
    """Sum job records per ``key(job)`` (jobs keyed None are skipped).
    ``windows`` maps a key to the epoch-ms intervals the group owned; the
    group's ``gap_s`` is the time inside them with no job of any group
    running."""
    jobs = list(jobs)
    out: dict[str, dict[str, float]] = {}
    for j in jobs:
        k = key(j)
        if k is None:
            continue
        s = out.setdefault(k, _empty())
        s["jobs"] += 1
        s["stages"] += len(j.stages)
        s["tasks"] += j.tasks
        s["run_s"] += j.run_ms / 1e3
        s["task_cpu_s"] += j.cpu_ns / 1e9
        s["shuffle_bytes"] += j.shuffle_write_bytes
        s["spill_bytes"] += j.spill_bytes
        s["python_rows"] += j.python_rows
    for k, wins in (windows or {}).items():
        s = out.setdefault(k, _empty())
        s["gap_s"] = sum((hi - lo) - busy_ms(jobs, lo, hi) for lo, hi in wins) / 1e3
    return out


if __name__ == "__main__":
    recs = read_jobs(sys.argv[1])
    print(json.dumps(summarize(recs, lambda j: j.group or "(none)"), indent=1))
