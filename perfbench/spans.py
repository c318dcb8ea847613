"""Spans, job-group labels and the run-context stamp.

A :class:`Tracer` keeps spans in memory (name, layer, start, end, parent,
attributes) and writes them out when the run ends. Every call the
benchmark makes into the engine goes through :meth:`Tracer.span`; in a
traced run the span also sets the Spark job group to
``<workload>/<name>/<phase>``, so the event log attributes each job to the
call that caused it.
"""

from __future__ import annotations

import contextlib
import os
import subprocess
import time
from dataclasses import dataclass, field
from typing import Any


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, workload: str, traced: bool) -> None:
        self.workload = workload
        self.traced = traced
        self.spark = None  # set once a session exists
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, layer: str, name: str, phase: str = "run", **attrs: Any):
        sid = len(self.spans)
        sp = Span(sid, self._stack[-1] if self._stack else None, layer, name, time.time(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sid)
        sc = self.spark.sparkContext if (self.traced and self.spark is not None) else None
        if sc is not None:
            outer = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(f"{self.workload}/{name}/{phase}", f"{layer}:{name}")
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            # a span that restarted the session leaves no group to restore
            if sc is not None and self.spark is not None and self.spark.sparkContext is sc:
                sc.setLocalProperty("spark.jobGroup.id", outer)

    def self_seconds(self, sp: Span) -> float:
        """The span's duration minus the part its child spans cover."""
        kids = sum(s.seconds for s in self.spans if s.parent == sp.id)
        return sp.seconds - kids

    def dump(self) -> list[dict[str, Any]]:
        return [
            {
                "id": s.id,
                "parent": s.parent,
                "layer": s.layer,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "self_s": self.self_seconds(s),
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for s in self.spans
        ]


def _steal_jiffies() -> int | None:
    try:
        with open("/proc/stat") as fh:
            cpu = fh.readline().split()
        return int(cpu[8])  # user nice system idle iowait irq softirq STEAL
    except (OSError, IndexError, ValueError):
        return None


def _git_head(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


class RunContext:
    """What the machine and the code were when the run happened."""

    def __init__(self, root: str, cpus: int, driver_memory: str) -> None:
        import pyspark

        self.start = {
            "nproc": len(os.sched_getaffinity(0)),
            "local_n": cpus,
            "driver_memory": driver_memory,
            "pyspark": pyspark.__version__,
            "git_head": _git_head(root),
            "loadavg_start": os.getloadavg()[0],
        }
        self._steal0 = _steal_jiffies()

    def finish(self) -> dict[str, Any]:
        steal1 = _steal_jiffies()
        return {
            **self.start,
            "loadavg_end": os.getloadavg()[0],
            "steal_jiffies": (
                steal1 - self._steal0 if steal1 is not None and self._steal0 is not None else None
            ),
        }
