"""CDC-first benchmark of the engine: two workloads, one command.

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 12 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the same
workload with Spark's event log on and job groups set, and prints the
per-layer metrics. The last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the full record
(run context, spans, per-query detail, tracing overhead against untraced
runs of the same workload) goes to ``.perfbench/results/``. Metric names
and units come from ``BENCHMARK.json``. See ``perfbench/README.md``.

The run reads and writes only under ``.perfbench/`` in the checkout, and
exits non-zero without a result when the engine package is absent. The
command runs the benchmark in a child process and, before it exits, ends
every process the run started and waits for each (``supervise.py``).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "spring_cloud_kafka_streams_dbz_etl_spark"
WORKLOADS = ("cdc", "batch_core")
SETUP_REPS = 3
DRIVER_MEMORY = "4g"  # fits a 15 GiB box shared with other jobs
# set in the child that does the run; the command itself only supervises it
# (supervise.py), so that the JVM and every worker end before it exits
CHILD_ENV = "PERFBENCH_CHILD"


def _prepare_env(work: str, traced: bool) -> None:
    """Point every scratch location of the JVM, Spark and Python workers
    into ``work`` and write the session's spark-defaults. Must run before
    the JVM starts."""
    conf_dir, tmp = os.path.join(work, "conf"), os.path.join(work, "tmp")
    for d in (conf_dir, tmp, os.path.join(work, "spark-local"), os.path.join(work, "eventlog")):
        os.makedirs(d, exist_ok=True)
    defaults = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # progress retention only; lets a run read every epoch's progress
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.eventLog.enabled": "true" if traced else "false",
        "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",  # one file per application
    }
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as fh:
        fh.writelines(f"{k} {v}\n" for k, v in defaults.items())
    nproc = len(os.sched_getaffinity(0))
    os.environ.update(
        SPARK_CONF_DIR=conf_dir,
        TMPDIR=tmp,
        SPARK_GRAFT_CPUS=str(nproc),
        PYTHONPATH=os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    tempfile.tempdir = tmp


class Session:
    """Owns the one SparkSession of the run and restarts it for each
    set-up repetition (same JVM, new SparkContext)."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self.spark = None

    def start(self):
        from spring_cloud_kafka_streams_dbz_etl_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench")
        self.tracer.spark = self.spark
        return self.spark

    def stop(self) -> str | None:
        if self.spark is None:
            return None
        app = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = None
        return app


def _layers_from_log(log_path: str, outcome: dict) -> tuple[dict, dict]:
    """Per-layer numbers from the event log of the measured context, and
    per-job-group sums for the record."""
    from batch import FAMILIES, FAMILY_OF
    from eventlog import read_jobs, summarize

    jobs = read_jobs(log_path)
    win = outcome["windows"]

    def inside(j, w) -> bool:
        return w[0] * 1e3 <= j.submit_ms <= w[1] * 1e3

    out = {}
    tot = summarize([j for j in jobs if inside(j, win["measure"])], lambda j: "all").get("all", {})
    out["spark.jobs"] = tot.get("jobs", 0)
    out["spark.task_cpu_s"] = tot.get("task_cpu_s", 0.0)
    out["spark.shuffle_bytes"] = tot.get("shuffle_bytes", 0)
    streaming = [j for j in jobs if j.batch_id is not None and inside(j, win["epochs"])]
    epochs = {(j.query_id, j.batch_id) for j in streaming}
    out["streaming.jobs_per_epoch"] = len(streaming) / len(epochs) if epochs else 0.0
    queries = win.get("queries")
    if queries:
        def query_of(j):
            return next((q for q, w in queries.items() if inside(j, w)), None)

        for q, s in summarize(jobs, query_of).items():
            out[f"queries.{q}.jobs"] = s["jobs"]
        fam_windows = {
            f: [(a * 1e3, b * 1e3) for q, (a, b) in queries.items() if FAMILY_OF[q] == f]
            for f in FAMILIES
        }
        fams = summarize(jobs, lambda j: FAMILY_OF.get(query_of(j)), windows=fam_windows)
        for f, s in fams.items():
            for k in ("task_cpu_s", "shuffle_bytes", "python_rows", "gap_s"):
                out[f"spark.{f}.{k}"] = s[k]
    groups = summarize(jobs, lambda j: j.group or ("stream" if j.batch_id is not None else None))
    return out, groups


def run(args) -> dict:
    traced = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work, traced)
    sys.path[:0] = [ROOT, HERE]

    from batch import BatchWorkload
    from cdc import CdcWorkload
    from spans import RunContext, Tracer

    tracer = Tracer(args.workload, traced)
    ctx = RunContext(ROOT, int(os.environ["SPARK_GRAFT_CPUS"]), os.environ["SPARK_DRIVER_MEMORY"])
    if args.workload == "batch_core":
        wl = BatchWorkload(args.seed, run_dir)
    else:
        wl = CdcWorkload(args.seed, run_dir, float(args.seconds))
    sess = Session(tracer)
    setup_s, start_s = [], []
    try:
        # the first set-up also launches the JVM; the median leaves it out
        for rep in range(SETUP_REPS):
            wl.prepare(rep)  # inputs, outside the timed set-up
            with tracer.span("session", "setup", phase=f"setup{rep}") as sp:
                with tracer.span("session", "get_spark", phase=f"setup{rep}") as sp_start:
                    spark = sess.start()
                wl.setup(spark, tracer)
            setup_s.append(sp.seconds)
            start_s.append(sp_start.seconds)
        with tracer.span("workload", args.workload):
            outcome = wl.run(sess.spark, tracer)
    finally:
        wl.teardown()
        app_id = sess.stop()

    lat_ms = np.array(outcome["latencies_s"]) * 1e3
    e2e = {
        "setup_s": statistics.median(setup_s),
        "wall_s": outcome["wall_s"],
        "latency_p50_ms": float(np.percentile(lat_ms, 50)),
    }
    layers = {**outcome["layers"], "session.start_s": start_s[0],
              "tracing.wall_s": outcome["wall_s"]}
    groups = {}
    if traced:
        logs = glob.glob(os.path.join(work, "eventlog", f"{app_id}*"))
        extra, groups = _layers_from_log(logs[0], outcome)
        layers.update(extra)
        for f in logs:
            os.remove(f)
    shutil.rmtree(run_dir, ignore_errors=True)
    return {
        "e2e": e2e,
        "layers": layers,
        "attempted": int(outcome["attempted"]),
        "failed": int(outcome["failed"]),
        "context": ctx.finish(),
        "details": outcome["details"],
        "latency_samples": len(lat_ms),
        "rows_per_s": outcome["rows"] / outcome["wall_s"],
        "setup_s_reps": setup_s,
        "job_groups": groups,
        "spans": tracer.dump(),
    }


def _tracing_overhead(results_dir: str, workload: str, traced_e2e: dict) -> dict:
    """Traced run's end-to-end numbers against the median of the untraced
    runs of the same workload found in ``results_dir``."""
    base = []
    for p in glob.glob(os.path.join(results_dir, f"{workload}-seed*-trace0.json")):
        with open(p) as fh:
            base.append(json.load(fh)["e2e"])
    if not base:
        return {}
    return {k: v / statistics.median(b[k] for b in base) - 1 for k, v in traced_e2e.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    try:
        res = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = res["layers"] if args.trace else res["e2e"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    results_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results_dir, exist_ok=True)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace, **res}
    if args.trace:
        record["tracing_overhead"] = _tracing_overhead(results_dir, args.workload, res["e2e"])
    path = os.path.join(results_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    if os.environ.get(CHILD_ENV) == "1":
        sys.exit(main())
    import supervise

    sys.exit(supervise.run([sys.executable, os.path.abspath(__file__), *sys.argv[1:]],
                           env={**os.environ, CHILD_ENV: "1"}))
