"""Tiny end-to-end runs of both workloads (sf0.001 tables, a few stream
files), through ``run.main`` in a supervised child process so the JVM and
the environment the benchmark sets up stay out of the test process. Also the
contract that the benchmark fails, without a result line, in a directory
that holds only the benchmark."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)

TINY = """
import sys
sys.path[:0] = [{here!r}]
import batch, cdc, run
batch.BATCH_SF = 0.001
cdc.LIVE_RATE, cdc.LEAD_IN_FILES, cdc.REPLAY_FILES, cdc.REPLAY_ROWS = 5.0, 1, 3, 200
sys.exit(run.main({argv!r}))
"""


def _run_tiny(workload: str, trace: int) -> dict:
    argv = ["--workload", workload, "--seed", "5", "--seconds", "2", "--trace", str(trace)]
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "supervise.py"),
         sys.executable, "-c", TINY.format(here=HERE, argv=argv)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("workload", ["cdc", "batch_core"])
def test_tiny_untraced(workload):
    res = _run_tiny(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert set(res["metrics"]) == {m["name"] for m in _spec()["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_tiny_traced_cdc():
    res = _run_tiny("cdc", 1)
    m = res["metrics"]
    assert set(m) == {x["name"] for x in _spec()["per_layer"]}
    assert m["streaming.jobs_per_epoch"]["value"] > 0
    assert m["spark.task_cpu_s"]["value"] > 0
    with open(os.path.join(ROOT, ".perfbench", "results", "cdc-seed5-trace1.json")) as fh:
        record = json.load(fh)
    assert {s["layer"] for s in record["spans"]} >= {"session", "streaming", "sources"}


def test_fails_without_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
