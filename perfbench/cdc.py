"""The ``cdc`` workload: a live phase (open-loop stream at a fixed low
rate, with dimension upserts beside it), then a replay phase (backlog
re-drain after an offset reset, then the DLQ reprocess stream).

Both phases drive the engine only through its public surface:
``streaming.pipeline.build_cdc_pipeline`` / ``build_dlq_reprocess`` run by a
``streaming.registry.StreamRegistry``, and ``sources.sinks.upsert_dimension``
for the enrichment dimension. Latency and drain times are read from the
outside: which epoch consumed a file comes from the checkpoint's file-source
log (``sources/0/<N>``), and when that epoch committed from the mtime of
``commits/<N>``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from collections import Counter
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from cdcgen import write_files  # noqa: E402
from fixture import customer_table  # noqa: E402

# Calibrated (perfbench/README.md, "Live rate"): a one-file epoch takes
# about 1.0-1.3 s on the 4-core reference box, so at 0.5 files/s the live
# stream is idle about half the time and every epoch carries one file;
# latency is then the fixed cost of an epoch.
LIVE_RATE = 0.5  # files/s
LIVE_ROWS = 25  # rows per live file
GENERATOR_LEAD_S = 1.5  # the generator process starts in about a second
# A new pipeline's epochs keep getting faster for about its first ten; the
# lead-in files run these epochs before sampling starts.
LEAD_IN_FILES = 4
# An upsert starts UPSERT_PHASE of a file interval after sampled file k is
# due (k = UPSERT_FIRST, UPSERT_FIRST + UPSERT_EVERY, ...): that file's
# epoch has committed by then, so each upsert overlaps the next file's epoch.
UPSERT_FIRST = 2
UPSERT_EVERY = 4
UPSERT_PHASE = 0.6
REPLAY_FILES = 10
REPLAY_ROWS = 2500
FILES_PER_TRIGGER = 2  # bounds the replay's epochs; live epochs carry one file
DLQ_FILES_PER_TRIGGER = 32
CORRUPT_EVERY = 50  # garbled payloads -> parse_error DLQ rows
N_CUSTOMERS = 15_000  # sf0.1 customer table
N_USERS = 1500  # events reference the first tenth
MISSING_SHARE = 0.1  # users absent from the dimension at start
DRAIN_TIMEOUT_S = 60


def percentile(xs: list[float], q: float) -> float:
    return float(np.percentile(xs, q)) if xs else 0.0


# -- reading the checkpoint from outside ------------------------------------


class CheckpointWatch:
    """Reads a query checkpoint: the file -> batch map from the file-source
    log and the commit time of each batch. Commit times are kept across
    polls, so a batch the engine later purges keeps its time."""

    def __init__(self, checkpoint: str) -> None:
        self.checkpoint = checkpoint
        self.file_batch: dict[str, int] = {}
        self.commit_s: dict[int, float] = {}
        self._seen_logs: set[str] = set()

    def poll(self) -> None:
        cdir = os.path.join(self.checkpoint, "commits")
        if os.path.isdir(cdir):
            for ent in os.scandir(cdir):
                if ent.name.isdigit() and int(ent.name) not in self.commit_s:
                    try:
                        self.commit_s[int(ent.name)] = ent.stat().st_mtime_ns / 1e9
                    except FileNotFoundError:
                        pass
        sdir = os.path.join(self.checkpoint, "sources", "0")
        if os.path.isdir(sdir):
            for ent in os.scandir(sdir):
                if ent.name.startswith(".") or ent.name in self._seen_logs:
                    continue
                try:
                    with open(ent.path) as fh:
                        lines = fh.read().splitlines()[1:]  # "v1" header
                except FileNotFoundError:
                    continue
                for line in lines:
                    rec = json.loads(line)
                    self.file_batch[os.path.basename(rec["path"])] = int(rec["batchId"])
                self._seen_logs.add(ent.name)

    def committed(self, name: str) -> float | None:
        b = self.file_batch.get(name)
        return self.commit_s.get(b) if b is not None else None


def file_latencies(manifest: list[dict], watch: CheckpointWatch) -> list[float]:
    """Per file: commit time of the epoch that consumed it minus its due
    time. Files never committed are skipped; the caller counts them as
    failures."""
    out = []
    for m in manifest:
        t = watch.committed(m["file"])
        if t is not None:
            out.append(t - m["due"])
    return out


def lag_rows_max(manifest: list[dict], watch: CheckpointWatch) -> int:
    """Largest number of rows written but not yet committed, sampled at
    every commit."""
    worst = 0
    for t in sorted(watch.commit_s.values()):
        written = sum(m["rows"] for m in manifest if m["written"] <= t)
        done = sum(
            m["rows"] for m in manifest if (c := watch.committed(m["file"])) is not None and c <= t
        )
        worst = max(worst, written - done)
    return worst


def files_per_epoch(manifest: list[dict], watch: CheckpointWatch) -> dict[int, int]:
    """How many epochs consumed 1, 2, ... of the manifest's files."""
    per_batch = Counter(watch.file_batch[m["file"]] for m in manifest if m["file"] in watch.file_batch)
    return dict(sorted(Counter(per_batch.values()).items()))


def read_manifest(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def progress_metrics(progress: list[dict]) -> dict[str, float]:
    """Per-epoch medians from StreamingQueryProgress events (data epochs
    only)."""
    data = [p for p in progress if (p.get("numInputRows") or 0) > 0]
    dur = [p.get("durationMs") or {} for p in data]

    def p50(f) -> float:
        return percentile([f(d) for d in dur], 50)

    return {
        "streaming.epochs": len(data),
        "streaming.epoch_ms_p50": p50(lambda d: d.get("triggerExecution", 0)),
        "streaming.planning_ms_p50": p50(lambda d: d.get("queryPlanning", 0)),
        "streaming.commit_ms_p50": p50(lambda d: d.get("walCommit", 0) + d.get("commitOffsets", 0)),
        "streaming.add_batch_ms_p50": p50(lambda d: d.get("addBatch", 0)),
        "sources.list_ms_p50": p50(lambda d: d.get("latestOffset", 0) + d.get("getBatch", 0)),
        "streaming.rows_per_epoch_p50": percentile([p["numInputRows"] for p in data], 50),
    }


# -- output check -------------------------------------------------------------


def _view(con: duckdb.DuckDBPyConnection, name: str, path: str, empty_sql: str) -> None:
    files = [f for f in os.listdir(path) if f.endswith(".parquet")] if os.path.isdir(path) else []
    src = f"read_parquet('{path}/*.parquet')" if files else f"({empty_sql})"
    con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM {src}")


EMPTY_OUT = (
    "SELECT NULL::BIGINT id, NULL::BIGINT user_id, NULL::VARCHAR name, NULL::VARCHAR segment,"
    " NULL::VARCHAR event_type, NULL::DOUBLE value WHERE false"
)
EMPTY_DLQ = "SELECT NULL::BIGINT kafka_key, NULL::VARCHAR value, NULL::VARCHAR reason WHERE false"


def latest_dim_dir(dim_path: str) -> str:
    """The dimension's newest committed version, or the static files the
    benchmark wrote when no upsert has run yet."""
    versions = sorted(d for d in os.listdir(dim_path) if d.startswith("_v"))
    return os.path.join(dim_path, versions[-1]) if versions else dim_path


def check_stream(
    src: str, out: str, dlq: str, dim_dir: str, missing_at_start: list[int]
) -> tuple[int, int, dict[str, int]]:
    """Every generated event reaches output or DLQ exactly once, or nowhere
    when it is a tombstone or a delete; output rows equal the join of the
    generated files against the final dimension (upserts only insert, so an
    enriched row never changes afterwards); parse errors are exactly the
    garbled payloads; enrichment misses are users missing at start.
    Returns (attempted, failed, outcome counts)."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet('{src}/events_*.parquet')")
    con.execute(f"CREATE VIEW dim AS SELECT * FROM read_parquet('{dim_dir}/*.parquet')")
    _view(con, "o", out, EMPTY_OUT)
    _view(con, "q", dlq, EMPTY_DLQ)
    con.register("miss0", pa.table({"user_id": pa.array(missing_at_start, pa.int64())}))
    bad = con.execute(
        f"""
        WITH fate AS (
          SELECT e.*, CASE WHEN event_id % 97 = 0 THEN 'none'
                           WHEN event_id % {CORRUPT_EVERY} = 0 THEN 'parse_error'
                           WHEN event_type = 'error' THEN 'none'
                           ELSE 'deliver' END AS fate
          FROM ev e),
        got AS (
          SELECT id, 'out' AS sink, user_id, name, segment, event_type, value FROM o
          UNION ALL
          SELECT kafka_key, reason, NULL, NULL, NULL, NULL, NULL FROM q),
        per_event AS (
          SELECT f.event_id, f.fate, f.user_id AS e_user, f.event_type AS e_type,
                 f.value AS e_value, count(g.id) AS n, any_value(g.sink) AS sink,
                 any_value(g.user_id) AS g_user, any_value(g.name) AS g_name,
                 any_value(g.segment) AS g_segment, any_value(g.event_type) AS g_type,
                 any_value(g.value) AS g_value
          FROM fate f LEFT JOIN got g ON g.id = f.event_id
          GROUP BY ALL)
        SELECT
          count(*) FILTER (WHERE
            (fate = 'none' AND n > 0)
            OR (fate <> 'none' AND n <> 1)
            OR (fate = 'parse_error' AND n = 1 AND sink <> 'parse_error')
            OR (fate = 'deliver' AND n = 1 AND sink = 'parse_error')
            OR (fate = 'deliver' AND sink = 'enrichment_miss'
                AND e_user NOT IN (SELECT user_id FROM miss0))
            OR (fate = 'deliver' AND sink = 'out' AND NOT EXISTS (
                  SELECT 1 FROM dim d WHERE d.c_custkey = e_user
                   AND g_user = e_user AND g_type = e_type AND g_value = e_value
                   AND g_name = coalesce(d.c_name, '')
                   AND g_segment = coalesce(d.c_mktsegment, 'UNKNOWN')))) AS bad_events,
          (SELECT count(*) FROM got WHERE id NOT IN (SELECT event_id FROM ev)) AS stray,
          count(*) AS attempted
        FROM per_event
        """
    ).fetchone()
    counts = dict(
        con.execute(
            "SELECT sink, count(*) FROM (SELECT 'out' AS sink FROM o UNION ALL "
            "SELECT reason FROM q) GROUP BY sink"
        ).fetchall()
    )
    con.close()
    return int(bad[2]), int(bad[0]) + int(bad[1]), counts


def check_reprocess(src: str, dlq: str, out2: str, dim_dir: str) -> tuple[int, int]:
    """The DLQ stream re-enriches every enrichment miss exactly once against
    the repaired dimension; garbled payloads stay dead-lettered."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet('{src}/events_*.parquet')")
    con.execute(f"CREATE VIEW dim AS SELECT * FROM read_parquet('{dim_dir}/*.parquet')")
    _view(con, "q", dlq, EMPTY_DLQ)
    _view(con, "o2", out2, EMPTY_OUT)
    _view(con, "q2", out2 + "_dlq", EMPTY_DLQ)
    attempted, bad = con.execute(
        """
        WITH want AS (
          SELECT e.event_id, e.user_id, coalesce(d.c_name, '') AS name,
                 coalesce(d.c_mktsegment, 'UNKNOWN') AS segment, e.event_type, e.value
          FROM q JOIN ev e ON e.event_id = q.kafka_key
          JOIN dim d ON d.c_custkey = e.user_id
          WHERE q.reason = 'enrichment_miss'),
        got AS (SELECT id AS event_id, user_id, name, segment, event_type, value FROM o2)
        SELECT (SELECT count(*) FROM q),
               (SELECT count(*) FROM (
                  (SELECT * FROM want EXCEPT ALL SELECT * FROM got)
                  UNION ALL (SELECT * FROM got EXCEPT ALL SELECT * FROM want)))
             + (SELECT count(*) FROM (
                  (SELECT kafka_key FROM q WHERE reason = 'parse_error'
                   EXCEPT ALL SELECT kafka_key FROM q2)
                  UNION ALL (SELECT kafka_key FROM q2 EXCEPT ALL
                   SELECT kafka_key FROM q WHERE reason = 'parse_error')))
        """
    ).fetchone()
    con.close()
    return int(attempted), int(bad)


# -- the workloads -------------------------------------------------------------


@dataclass
class StreamState:
    dir: str
    src: str
    out: str
    dlq: str
    ckpt: str
    dim: str
    manifest: str
    missing: list[int]
    registry: object
    watch: CheckpointWatch
    cust: object  # the full customer table the upserts draw from
    upsert_ms: list[float] = field(default_factory=list)
    registry_ms: dict[str, list[float]] = field(default_factory=dict)


def _generate(seed: int, st: StreamState, first: int, files: int, rows: int,
              rate: float, start: float) -> subprocess.Popen:
    """The open-loop generator, in its own process so its schedule does not
    share an interpreter with the system under test."""
    cmd = [sys.executable, os.path.join(HERE, "cdcgen.py"), "--seed", str(seed),
           "--out", st.src, "--manifest", st.manifest, "--first", str(first),
           "--files", str(files), "--rows", str(rows), "--rate", str(rate),
           "--start", str(start)]
    return subprocess.Popen(cmd)


def _wait_proc(proc: subprocess.Popen, timeout: float) -> None:
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError("event generator timed out")
    if rc != 0:
        raise RuntimeError(f"event generator exited with {rc}")


def wait_committed(st: StreamState, names: list[str], timeout: float = DRAIN_TIMEOUT_S) -> None:
    deadline = time.time() + timeout
    while time.time() < deadline:
        st.watch.poll()
        if all(st.watch.committed(n) is not None for n in names):
            return
        time.sleep(0.02)
    raise RuntimeError(f"stream did not commit {len(names)} files within {timeout}s")


def _timed(st: StreamState, tracer, what: str, fn, *args, **kw):
    with tracer.span("streaming", f"registry.{what}") as sp:
        res = fn(*args, **kw)
    st.registry_ms.setdefault(what, []).append(sp.seconds * 1e3)
    return res


def prepare_stream(seed: int, root: str) -> StreamState:
    """The CDC workloads' inputs: a static enrichment dimension (sf0.1
    customers minus a tenth of the referenced users) and a one-file warm-up
    input."""
    from spring_cloud_kafka_streams_dbz_etl_spark.streaming.registry import StreamRegistry

    paths = {k: os.path.join(root, k) for k in ("src", "out", "dlq", "ckpt")}
    os.makedirs(paths["src"])
    rng = np.random.default_rng([seed, 2])
    missing = sorted(rng.choice(N_USERS, int(N_USERS * MISSING_SHARE), replace=False).tolist())
    cust = customer_table(rng, N_CUSTOMERS).to_pandas()
    dim = os.path.join(paths["src"], "customer.parquet")
    os.makedirs(dim)
    pq.write_table(
        pa.Table.from_pandas(cust[~cust.c_custkey.isin(missing)], preserve_index=False),
        os.path.join(dim, "part-00000.parquet"),
    )
    st = StreamState(root, paths["src"], paths["out"], paths["dlq"], paths["ckpt"], dim,
                     os.path.join(root, "manifest.jsonl"), missing, StreamRegistry(),
                     CheckpointWatch(paths["ckpt"]), cust)
    write_files(seed, st.src, st.manifest, 0, 1, LIVE_ROWS)
    return st


def start_stream(spark, tracer, st: StreamState) -> None:
    """Program set-up: the CDC pipeline registered (and so started) in a
    StreamRegistry, up to the commit of its first epoch, which reads the
    warm-up file."""
    from spring_cloud_kafka_streams_dbz_etl_spark.streaming.pipeline import (
        CdcPipelineConfig,
        build_cdc_pipeline,
    )

    cfg = CdcPipelineConfig(sf_dir=st.src, out_path=st.out, dlq_path=st.dlq,
                            checkpoint=st.ckpt, corrupt_every=CORRUPT_EVERY,
                            max_files_per_trigger=FILES_PER_TRIGGER)
    _timed(st, tracer, "start", st.registry.register, "cdc", build_cdc_pipeline(spark, cfg),
           checkpoint=st.ckpt)
    wait_committed(st, [m["file"] for m in read_manifest(st.manifest)])


def teardown_stream(st: StreamState) -> None:
    st.registry.stop_all()
    shutil.rmtree(st.dir, ignore_errors=True)


def _query_progress(spark, st: StreamState, name: str) -> list[dict]:
    qid = st.registry.status(name)["applicationId"]
    q = spark.streams.get(qid)
    return [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]


def _upsert(spark, tracer, st: StreamState, users: list[int], counted: bool = True) -> None:
    from spring_cloud_kafka_streams_dbz_etl_spark.sources.sinks import upsert_dimension

    rows = st.cust[st.cust.c_custkey.isin(users)]
    with tracer.span("sources", "upsert_dimension") as sp:
        upsert_dimension(spark.createDataFrame(rows), st.dim, keys=["c_custkey"])
    if counted:
        st.upsert_ms.append(sp.seconds * 1e3)


@dataclass
class Outcome:
    window_start: float  # epoch s when the measured phase began
    wall_s: float
    latencies_s: list[float]
    attempted: int
    failed: int
    layers: dict[str, float]
    details: dict


def _outcome_counts(counts: dict) -> dict[str, int]:
    return {
        "streaming.dlq_parse_error_rows": counts.get("parse_error", 0),
        "streaming.dlq_enrich_miss_rows": counts.get("enrichment_miss", 0),
        "streaming.useful_rows": counts.get("out", 0),
        "streaming.attempted_rows": sum(counts.values()),
    }


def run_live(spark, tracer, st: StreamState, seed: int, seconds: float) -> Outcome:
    """Open loop: the generator emits LIVE_RATE files/s for ``seconds``
    while this process upserts missing customers on a fixed schedule."""
    n_files = max(1, int(LIVE_RATE * seconds))
    interval = 1 / LIVE_RATE
    # the first upsert of a session runs cold: this one re-inserts present
    # customers unchanged, before the lead-in, and is not counted
    present = st.cust.c_custkey[~st.cust.c_custkey.isin(st.missing)][:10].tolist()
    _upsert(spark, tracer, st, present, counted=False)
    # closed-loop lead-in: each file is written once the previous one has
    # committed, so every lead-in epoch carries one file
    for k in range(1, LEAD_IN_FILES + 1):
        write_files(seed, st.src, st.manifest, k, 1, LIVE_ROWS)
        wait_committed(st, [read_manifest(st.manifest)[-1]["file"]])
    t0 = time.time() + GENERATOR_LEAD_S
    proc = _generate(seed, st, LEAD_IN_FILES + 1, n_files, LIVE_ROWS, rate=LIVE_RATE, start=t0)
    upsert_at = [t0 + (k + UPSERT_PHASE) * interval
                 for k in range(UPSERT_FIRST, n_files - 1, UPSERT_EVERY)]
    # the upserts insert four fifths of the missing users; the rest stay
    # missing, so enrichment misses happen until the end
    chunks = np.array_split(np.array(st.missing[: len(st.missing) * 4 // 5]),
                            max(1, len(upsert_at)))
    i = 0
    try:
        while proc.poll() is None:
            if i < len(upsert_at) and time.time() >= upsert_at[i]:
                _upsert(spark, tracer, st, chunks[i].tolist())
                i += 1
            time.sleep(0.01)
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    _wait_proc(proc, 5)
    live = [m for m in read_manifest(st.manifest) if m["k"] >= 1]
    with tracer.span("streaming", "drain", phase="live"):
        wait_committed(st, [m["file"] for m in live])
    sampled = [m for m in live if m["k"] > LEAD_IN_FILES]
    progress = progress_metrics(_query_progress(spark, st, "cdc"))
    _timed(st, tracer, "offsets", st.registry.offsets, "cdc")
    _timed(st, tracer, "stop", st.registry.stop, "cdc")
    st.watch.poll()
    lat = file_latencies(sampled, st.watch)
    last = max(st.watch.committed(m["file"]) for m in sampled)
    with tracer.span("check", "check_stream", phase="live"):
        attempted, failed, counts = check_stream(
            st.src, st.out, st.dlq, latest_dim_dir(st.dim), st.missing
        )
    layers = {k: progress[k] for k in (
        "streaming.epochs", "streaming.epoch_ms_p50", "streaming.planning_ms_p50",
        "streaming.commit_ms_p50", "sources.list_ms_p50")}
    layers["streaming.latency_max_ms"] = max(lat) * 1e3
    layers["sources.upsert_dimension_ms_p50"] = percentile(st.upsert_ms, 50)
    layers["sources.lag_rows_max"] = lag_rows_max(live, st.watch)
    layers["generator.late_ms_max"] = max(m["written"] - m["due"] for m in live) * 1e3
    return Outcome(
        window_start=sampled[0]["due"],
        wall_s=last - sampled[0]["due"],
        latencies_s=lat,
        attempted=attempted,
        failed=failed + len(sampled) - len(lat),  # files never committed
        layers=layers,
        details={"files": len(sampled), "lead_in_files": LEAD_IN_FILES, "upserts": i,
                 "outcomes": counts,
                 "latencies_ms": [round(x * 1e3, 1) for x in lat],
                 "files_per_epoch": files_per_epoch(live, st.watch)},
    )


def run_replay(spark, tracer, st: StreamState, seed: int) -> Outcome:
    """Backlog re-drain on the live pipeline, whose epochs are bounded by
    ``max_files_per_trigger``. The live phase was the first drain: it
    warmed the pipeline and filled the DLQ. The stream is stopped, its
    sinks cleared, the live files retired (as a retention policy drops old
    segments) and the backlog written; ``reset_offsets('earliest')`` and
    ``start`` then re-drain the warm-up file and the backlog (timed). Last,
    the DLQ reprocess stream drains against the repaired dimension."""
    from spring_cloud_kafka_streams_dbz_etl_spark.streaming.pipeline import build_dlq_reprocess

    live = [m for m in read_manifest(st.manifest) if m["k"] >= 1]
    for m in live:
        os.remove(os.path.join(st.src, m["file"]))
    for d in (st.out, st.dlq):
        shutil.rmtree(d, ignore_errors=True)
    write_files(seed, st.src, st.manifest, len(live) + 1, REPLAY_FILES, REPLAY_ROWS)
    names = [m["file"] for m in read_manifest(st.manifest) if m["k"] == 0 or m["k"] > len(live)]
    st.watch = CheckpointWatch(st.ckpt)
    t_reset = time.time()
    _timed(st, tracer, "reset", st.registry.reset_offsets, "cdc", "earliest")
    _timed(st, tracer, "start", st.registry.start, "cdc")
    with tracer.span("streaming", "drain", phase="replay"):
        wait_committed(st, names)
    progress = progress_metrics(_query_progress(spark, st, "cdc"))
    _timed(st, tracer, "stop", st.registry.stop, "cdc")
    st.watch.poll()
    restart_ms = (min(st.watch.commit_s.values()) - t_reset) * 1e3
    wall = max(st.watch.commit_s.values()) - t_reset
    with tracer.span("check", "check_stream", phase="replay"):
        attempted, failed, counts = check_stream(
            st.src, st.out, st.dlq, latest_dim_dir(st.dim), st.missing
        )
    # repair the dimension, then reprocess the DLQ
    _upsert(spark, tracer, st, st.missing, counted=False)
    out2, ckpt2 = os.path.join(st.dir, "out2"), os.path.join(st.dir, "ckpt2")
    st.registry.register(
        "dlq", build_dlq_reprocess(spark, st.dlq, st.src, out2, ckpt2, DLQ_FILES_PER_TRIGGER),
        checkpoint=ckpt2, auto_start=False,
    )
    t_dlq = time.time()
    _timed(st, tracer, "start", st.registry.start, "dlq")
    with tracer.span("streaming", "drain", phase="dlq"):
        st.registry.process_available("dlq")
    dlq_s = time.time() - t_dlq
    _timed(st, tracer, "stop", st.registry.stop, "dlq")
    with tracer.span("check", "check_reprocess"):
        dlq_rows, bad = check_reprocess(st.src, st.dlq, out2, latest_dim_dir(st.dim))
    layers = {
        "streaming.add_batch_ms_p50": progress["streaming.add_batch_ms_p50"],
        "streaming.rows_per_epoch_p50": progress["streaming.rows_per_epoch_p50"],
        **_outcome_counts(counts),
        "registry.restart_ms": restart_ms,
        "streaming.dlq_rows_per_s": dlq_rows / dlq_s,
    }
    return Outcome(
        window_start=t_reset,
        wall_s=wall,
        latencies_s=[],
        attempted=attempted + dlq_rows,
        failed=failed + bad,
        layers=layers,
        details={"files": len(names), "outcomes": counts, "dlq_rows": dlq_rows},
    )


class CdcWorkload:
    """Set-up: the live pipeline started up to its first commit. Run: the
    live phase for ``seconds``, then the replay phase."""

    def __init__(self, seed: int, root: str, seconds: float) -> None:
        self.seed, self.root, self.seconds = seed, root, seconds
        self.st: StreamState | None = None

    def prepare(self, rep: int) -> None:
        self.teardown()
        self.st = prepare_stream(self.seed, os.path.join(self.root, f"rep{rep}"))

    def setup(self, spark, tracer) -> None:
        start_stream(spark, tracer, self.st)

    def teardown(self) -> None:
        if self.st is not None:
            teardown_stream(self.st)
            self.st = None

    def run(self, spark, tracer) -> dict:
        live = run_live(spark, tracer, self.st, self.seed, self.seconds)
        replay = run_replay(spark, tracer, self.st, self.seed)
        return {
            # latency from the live phase, throughput from the re-drain
            "wall_s": replay.wall_s,
            "rows": LIVE_ROWS + REPLAY_FILES * REPLAY_ROWS,  # warm-up file + backlog
            "latencies_s": live.latencies_s,
            "attempted": live.attempted + replay.attempted,
            "failed": live.failed + replay.failed,
            "layers": {**live.layers, **replay.layers,
                       **{f"registry.{k}_ms": percentile(v, 50)
                          for k, v in self.st.registry_ms.items()}},
            "windows": {
                "measure": (replay.window_start, replay.window_start + replay.wall_s),
                "epochs": (live.window_start, live.window_start + live.wall_s),
            },
            "details": {"live": live.details, "replay": replay.details},
        }
