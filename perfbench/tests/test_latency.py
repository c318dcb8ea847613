"""The latency join on a synthetic checkpoint: file -> epoch from the
file-source log (plain and compacted batch files), epoch -> commit time
from ``commits/<N>`` mtimes."""

from __future__ import annotations

import json
import os

import pytest

from cdc import CheckpointWatch, file_latencies, files_per_epoch, lag_rows_max

T0 = 1_700_000_000.0


def _log(path: str, entries: list[tuple[str, int]]) -> None:
    with open(path, "w") as fh:
        fh.write("v1\n")
        for name, batch in entries:
            fh.write(json.dumps({"path": f"file:///src/{name}", "timestamp": 0, "batchId": batch}) + "\n")


def _commit(ckpt: str, batch: int, at: float) -> None:
    path = os.path.join(ckpt, "commits", str(batch))
    with open(path, "w") as fh:
        fh.write('v1\n{"nextBatchWatermarkMs":0}\n')
    os.utime(path, ns=(int(at * 1e9), int(at * 1e9)))


@pytest.fixture
def ckpt(tmp_path):
    root = tmp_path / "ckpt"
    (root / "sources" / "0").mkdir(parents=True)
    (root / "commits").mkdir()
    src = str(root / "sources" / "0")
    # batches 0-1 compacted into one file, batch 2 plain, a hidden crc ignored
    _log(os.path.join(src, "1.compact"), [("f0", 0), ("f1", 1), ("f2", 1)])
    _log(os.path.join(src, "2"), [("f3", 2)])
    _log(os.path.join(src, ".2.crc"), [("bogus", 9)])
    _commit(str(root), 0, T0 + 1.0)
    _commit(str(root), 1, T0 + 2.5)
    _commit(str(root), 2, T0 + 4.0)
    return str(root)


MANIFEST = [
    {"file": "f0", "due": T0 + 0.0, "written": T0 + 0.0, "rows": 10},
    {"file": "f1", "due": T0 + 1.0, "written": T0 + 1.1, "rows": 10},
    {"file": "f2", "due": T0 + 2.0, "written": T0 + 2.0, "rows": 10},
    {"file": "f3", "due": T0 + 3.0, "written": T0 + 3.0, "rows": 10},
    {"file": "f4", "due": T0 + 3.5, "written": T0 + 3.5, "rows": 10},  # never consumed
]


def test_file_to_commit_join(ckpt):
    w = CheckpointWatch(ckpt)
    w.poll()
    assert w.file_batch == {"f0": 0, "f1": 1, "f2": 1, "f3": 2}
    assert w.committed("f2") == pytest.approx(T0 + 2.5)
    assert w.committed("f4") is None
    lat = file_latencies(MANIFEST, w)
    assert lat == pytest.approx([1.0, 1.5, 0.5, 1.0])  # f4 skipped
    assert files_per_epoch(MANIFEST, w) == {1: 2, 2: 1}


def test_commit_times_survive_purge(ckpt):
    w = CheckpointWatch(ckpt)
    w.poll()
    os.remove(os.path.join(ckpt, "commits", "0"))  # the engine purges old batches
    w.poll()
    assert w.commit_s[0] == pytest.approx(T0 + 1.0)


def test_lag_rows_max(ckpt):
    w = CheckpointWatch(ckpt)
    w.poll()
    # at T0+1.0: f0,f1 written (f1 at +1.1 is not) -> 10 written, 10 done -> 0
    # at T0+2.5: f0-f2 written, f0-f2 done -> 0
    # at T0+4.0: f0-f4 written (50), f0-f3 done (40) -> 10
    assert lag_rows_max(MANIFEST, w) == 10
