"""StreamRegistry: the reference's stream control plane as a Python API.

Reference surface (SURVEY.md §2A #16-#20, REST on the transformer app):
- POST /api/stream/{name}/start|stop       -> start() / stop()
- GET  /api/stream/{name}/status           -> status()
- GET  /api/stream/{name}/offsets          -> offsets()
- POST /api/stream/{name}/offsets/reset[/earliest|/latest|specific]
                                           -> reset_offsets()
- DLQ stream auto-startup disabled          -> register(..., auto_start=False)

Spark mapping: each named stream is a StreamingQuery with its own
checkpoint directory. Committed positions live in the checkpoint's
``offsets/``+``commits/`` logs; "reset to earliest" = stop + fresh
checkpoint (reprocess from the beginning); "latest" = keep checkpoint
(resume where committed). For Kafka sources, reset-to-specific writes a
``startingOffsets`` JSON on the rebuilt reader — the file source exposes
batch ids instead of partition offsets.

The reference's waitForStreamStop / consumer-group-inactive polling
(StreamControlService.java:180-219) collapses to ``query.stop()`` +
``awaitTermination`` — Spark owns its offsets, no external group to drain.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any


class UnknownStreamError(KeyError):
    """Lookup of a name never registered — the HTTP facade maps exactly
    this to 404; any other KeyError escaping registry internals is a bug
    and surfaces as 409 instead of masquerading as 'unknown stream'."""


@dataclass
class _Stream:
    name: str
    builder: Callable[[], Any]  # () -> StreamingQuery (bound to a checkpoint)
    checkpoint: str
    auto_start: bool = True
    query: Any = None
    history: list[str] = field(default_factory=list)
    # startingOffsets JSON to hand the builder on the next (re)start —
    # set by reset_offsets(to=<partition map>), consumed by start()
    starting_offsets: str | None = None


class StreamRegistry:
    """Named StreamingQuery lifecycle + offset control."""

    STOP_TIMEOUT_S = 30  # reference: 5 s stream-stop + 60 s group-inactive
    # epoch phases whose durations metrics() reports (progress durationMs keys)
    PHASES = ("addBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets")

    def __init__(self) -> None:
        self._streams: dict[str, _Stream] = {}

    # -- registration ----------------------------------------------------
    def register(
        self,
        name: str,
        builder: Callable[[], Any],
        checkpoint: str,
        auto_start: bool = True,
    ) -> None:
        """Register a stream. ``builder`` starts and returns the query
        (checkpoint baked in). auto_start=False mirrors the DLQ stream's
        disabled auto-startup (application.yml:52,56)."""
        if name in self._streams:
            raise ValueError(f"stream {name!r} already registered")
        s = _Stream(name, builder, checkpoint, auto_start)
        self._streams[name] = s
        if auto_start:
            self.start(name)

    def _get(self, name: str) -> _Stream:
        if name not in self._streams:
            raise UnknownStreamError(
                f"unknown stream {name!r}; known: {sorted(self._streams)}"
            )
        return self._streams[name]

    # -- lifecycle (§2A #16) ---------------------------------------------
    def start(self, name: str) -> dict[str, Any]:
        s = self._get(name)
        if s.query is not None and s.query.isActive:
            return self.status(name)
        if s.starting_offsets is not None:
            import inspect

            if "starting_offsets" not in inspect.signature(s.builder).parameters:
                raise ValueError(
                    f"stream {name!r}: a specific-offset reset is pending but "
                    "the builder does not accept a starting_offsets kwarg"
                )
            s.query = s.builder(starting_offsets=s.starting_offsets)
            # One-shot: the map seeds exactly the fresh checkpoint created
            # by the reset that set it. Once the restarted query commits,
            # the checkpoint owns the position — re-passing the stale map
            # on later plain start() calls would both impose the
            # starting_offsets-kwarg requirement forever and contradict
            # the committed offsets.
            s.starting_offsets = None
        else:
            s.query = s.builder()
        s.history.append("started")
        return self.status(name)

    def stop(self, name: str, timeout_s: float | None = None) -> dict[str, Any]:
        """Stop + wait for termination (reference waitForStreamStop)."""
        s = self._get(name)
        if s.query is not None and s.query.isActive:
            s.query.stop()
            deadline = time.time() + (timeout_s or self.STOP_TIMEOUT_S)
            while s.query.isActive and time.time() < deadline:
                time.sleep(0.05)
            if s.query.isActive:
                raise TimeoutError(f"stream {name!r} did not stop in time")
        if s.query is not None:
            # isActive can flip before the JVM releases the checkpoint lock;
            # awaitTermination guarantees full teardown so a restart on the
            # SAME checkpoint doesn't see "multiple queries concurrently
            # using <ckpt>/offsets" (the Spark twin of the reference's
            # waitForConsumerGroupInactive, StreamControlService.java:199-219).
            try:
                # awaitTermination takes SECONDS (PySpark converts to ms
                # internally) — passing ms here would turn the 30 s bound
                # into ~8 h, defeating the hung-teardown guard.
                s.query.awaitTermination(timeout_s or self.STOP_TIMEOUT_S)
            except Exception:
                pass  # terminated-with-exception still counts as stopped
        s.history.append("stopped")
        return self.status(name)

    def process_available(self, name: str) -> None:
        """Drain everything currently available (test/driver helper)."""
        s = self._get(name)
        if s.query is not None and s.query.isActive:
            s.query.processAllAvailable()

    # -- status (§2A #17) ------------------------------------------------
    def status(self, name: str) -> dict[str, Any]:
        s = self._get(name)
        q = s.query
        active = bool(q is not None and q.isActive)
        out = {
            "name": name,
            "applicationId": q.id if q is not None else None,
            "running": active,
            "state": "RUNNING" if active else "NOT_RUNNING",
        }
        # peek()/metrics side-channel (§2A #13): observe() metrics +
        # per-batch input rows from the last progress event.
        progress = q.lastProgress if q is not None else None
        if progress:
            out["numInputRows"] = progress.get("numInputRows")
            om = progress.get("observedMetrics") or {}
            out["observedMetrics"] = {
                k: (v.asDict() if hasattr(v, "asDict") else v) for k, v in om.items()
            }
        return out

    # -- metrics (§2A #13, the actuator-/metrics analogue) ----------------
    def metrics(self, name: str) -> dict[str, Any]:
        """Cumulative throughput metrics from the query's retained
        progress events (Spark keeps the last ~100): batches, input rows,
        rows/sec, trigger durations, and the median of each epoch phase's
        duration (``durationMsP50``: addBatch — the foreachBatch body —,
        latestOffset, queryPlanning, walCommit, commitOffsets; None for a
        phase no retained event reports). The Spark twin of the
        reference's micrometer/actuator stream metrics — no extra listener
        machinery or Observation, the engine already emits progress per
        micro-batch."""
        import statistics

        s = self._get(name)
        q = s.query
        progresses = list(q.recentProgress) if q is not None else []
        total_rows = 0
        trigger_ms: list[int] = []
        phase_ms: dict[str, list[int]] = {k: [] for k in self.PHASES}
        rates: list[float] = []
        for p in progresses:
            total_rows += int(p.get("numInputRows") or 0)
            durations = p.get("durationMs") or {}
            dur = durations.get("triggerExecution")
            if dur is not None:
                trigger_ms.append(int(dur))
            for phase, ms in phase_ms.items():
                if durations.get(phase) is not None:
                    ms.append(int(durations[phase]))
            rate = p.get("processedRowsPerSecond")
            # `is not None`, not truthiness: a legitimate 0.0 rate (empty
            # trigger) must count toward the average or it biases upward
            # relative to actuator-style cumulative metrics (ADVICE r04).
            if rate is not None and not (isinstance(rate, float) and rate != rate):
                rates.append(float(rate))
        return {
            "name": name,
            "running": bool(q is not None and q.isActive),
            "batches": len(progresses),
            "totalInputRows": total_rows,
            "avgProcessedRowsPerSecond": (
                round(sum(rates) / len(rates), 3) if rates else None
            ),
            "maxTriggerMs": max(trigger_ms) if trigger_ms else None,
            "lastTriggerMs": trigger_ms[-1] if trigger_ms else None,
            "durationMsP50": {
                phase: statistics.median(ms) if ms else None
                for phase, ms in phase_ms.items()
            },
        }

    # -- offsets (§2A #18) -----------------------------------------------
    def offsets(self, name: str) -> dict[str, Any]:
        """Committed vs available positions + lag, from the checkpoint's
        offset/commit logs (the Spark twin of committed/end offsets per
        partition, KafkaOffsetService.java:31-56). For a Kafka source the
        per-(topic, partition) breakdown appears as ``partitionOffsets``
        with the reference's PartitionOffsetInfo fields."""
        s = self._get(name)
        avail = self._log_batches(s.checkpoint, "offsets")
        committed = self._log_batches(s.checkpoint, "commits")
        end_batch = max(avail) if avail else None
        committed_batch = max(committed) if committed else None
        lag = 0
        if end_batch is not None:
            lag = end_batch - (committed_batch if committed_batch is not None else -1)
        end_offsets = self._latest_source_offsets(s.checkpoint, end_batch)
        out = {
            "name": name,
            "committedBatch": committed_batch,
            "endBatch": end_batch,
            "lag": lag,
            "sourceOffsets": end_offsets,
        }
        committed_offsets = self._latest_source_offsets(s.checkpoint, committed_batch)
        partition_lag = self.partition_lag(committed_offsets, end_offsets)
        if partition_lag is not None:
            out["partitionOffsets"] = partition_lag
        return out

    @staticmethod
    def partition_lag(
        committed: Any, end: Any
    ) -> list[dict[str, Any]] | None:
        """Per-topic-partition committed/end/lag rows from two Kafka-source
        offset maps (the checkpoint offset log stores
        ``{"topic": {"partition": offset}}`` per batch). Mirrors
        OffsetInfoResponse{partition, committedOffset, endOffset, lag}
        (KafkaOffsetService.java:31-56, PartitionOffsetInfo.java:1-8);
        a partition not yet committed reports committedOffset None and
        lag = endOffset, like a group with no commits.
        Returns None when the offsets aren't Kafka-shaped (e.g. the file
        source logs {"logOffset": N})."""

        def kafka_shaped(o: Any) -> bool:
            return isinstance(o, dict) and all(
                isinstance(parts, dict)
                and all(isinstance(v, int) for v in parts.values())
                for parts in o.values()
            ) and any(o.values())

        if not kafka_shaped(end):
            return None
        committed = committed if kafka_shaped(committed) else {}
        rows = []
        for topic, parts in sorted(end.items()):
            for part, end_off in sorted(parts.items(), key=lambda kv: int(kv[0])):
                comm = committed.get(topic, {}).get(part)
                rows.append(
                    {
                        "topic": topic,
                        "partition": int(part),
                        "committedOffset": comm,
                        "endOffset": end_off,
                        "lag": end_off - (comm if comm is not None else 0),
                    }
                )
        return rows

    @staticmethod
    def _log_batches(checkpoint: str, log: str) -> list[int]:
        d = os.path.join(checkpoint, log)
        if not os.path.isdir(d):
            return []
        return sorted(int(f) for f in os.listdir(d) if f.isdigit())

    @staticmethod
    def _latest_source_offsets(checkpoint: str, batch: int | None) -> Any:
        if batch is None:
            return None
        path = os.path.join(checkpoint, "offsets", str(batch))
        try:
            with open(path) as fh:
                lines = fh.read().strip().splitlines()
            return json.loads(lines[-1]) if lines else None
        except (OSError, json.JSONDecodeError):
            return None

    # -- offset reset (§2A #19-#20) --------------------------------------
    def reset_offsets(
        self, name: str, to: str | int | dict = "earliest"
    ) -> dict[str, Any]:
        """Stop -> snapshot old offsets -> reposition -> restart if it was
        running (StreamControlService.resetOffsets:100-141 semantics).

        to='earliest': wipe the checkpoint (full reprocess).
        to='latest'  : keep the checkpoint (resume at committed position).
        to=<int N>   : SPECIFIC position by batch id (file-shaped sources):
                       truncate the offset/commit logs past batch N, so
                       the restarted query reprocesses everything after
                       batch N.
        to=<dict>    : SPECIFIC position by partition-offset map
                       (resetOffsetsToSpecific,
                       StreamControlService.java:143-178) for Kafka-shaped
                       sources, incl. the Python kafka_transcript
                       connector: fresh checkpoint + the map as a
                       ``startingOffsets`` JSON handed to the rebuilt
                       reader — the builder must accept a
                       ``starting_offsets`` kwarg. The map shape is
                       whatever the source's startingOffsets option
                       expects ({"0": 5} for kafka_transcript,
                       {"topic": {"0": 5}} for the JVM Kafka source).
        """
        if (
            not isinstance(to, (int, dict))
            and to not in ("earliest", "latest")
        ):
            raise ValueError(
                "to must be 'earliest', 'latest', a batch id, or a "
                "partition-offset map"
            )
        s = self._get(name)
        was_running = bool(s.query is not None and s.query.isActive)
        previous = self.offsets(name)
        self.stop(name)
        if to == "earliest":
            shutil.rmtree(s.checkpoint, ignore_errors=True)
            s.starting_offsets = None
        elif isinstance(to, dict):
            shutil.rmtree(s.checkpoint, ignore_errors=True)
            s.starting_offsets = json.dumps(to)
        elif isinstance(to, int):
            self._truncate_logs(s.checkpoint, keep_through=to)
            # a previously pending (never-consumed) partition map must not
            # override the truncated checkpoint position
            s.starting_offsets = None
        else:  # 'latest': keep checkpoint; drop any pending map likewise
            s.starting_offsets = None
        try:
            if was_running:
                self.start(name)
        finally:
            new = self.offsets(name)
        return {"previousOffsets": previous, "newOffsets": new, "restarted": was_running}

    @staticmethod
    def _truncate_logs(checkpoint: str, keep_through: int) -> None:
        for log in ("offsets", "commits"):
            d = os.path.join(checkpoint, log)
            if not os.path.isdir(d):
                continue
            for f in os.listdir(d):
                # each batch file may carry a ChecksumFs ".N.crc" sidecar;
                # leaving it behind makes the re-written batch's atomic
                # rename fail (surfacing as "multiple queries concurrently
                # using <ckpt>/offsets")
                base = f[1:-4] if f.startswith(".") and f.endswith(".crc") else f
                if base.isdigit() and int(base) > keep_through:
                    os.remove(os.path.join(d, f))

    # -- bulk ------------------------------------------------------------
    def stop_all(self) -> None:
        for name in list(self._streams):
            try:
                self.stop(name)
            except Exception:
                pass

    def names(self) -> list[str]:
        return sorted(self._streams)
