"""Open-loop CDC event generator, run as its own process.

Emits ``events_<k>.parquet`` files into ``--out``: file ``k`` is due at
``--start + (k - first) / --rate`` (``--rate 0`` writes every file at once,
a backlog). Each file is written under a dot-prefixed name, which the
engine's file source ignores, and renamed into place when complete. Rows
cycle through an sf0.1-shaped ``events`` table made from ``--seed``
(``user_id`` over 1500 users, the fixture's tenth of the customers), with
event ids renumbered from the global row index so every id is unique across
files and invocations. One JSON line per file goes to ``--manifest``:
``{"file", "k", "due", "written", "rows", "first_id"}``.

The schedule never waits for the consumer: a late file is written at once
and its lateness shows in ``written - due``. Backlogs (``--rate 0``) may
also be written in-process through :func:`write_files`.

    python3 perfbench/cdcgen.py --seed 7 --out SRC --manifest M.jsonl \\
        --first 1 --files 200 --rows 25 --rate 20 --start 1700000000.0
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fixture import events_table  # noqa: E402

import numpy as np  # noqa: E402

BASE_ROWS = 100_000  # sf0.1 events
N_USERS = 1500  # sf0.1 customers / 10


@functools.lru_cache(maxsize=1)
def base_events(seed: int) -> pa.Table:
    return events_table(np.random.default_rng([seed, 1]), BASE_ROWS, N_USERS)


def file_rows(base: pa.Table, k: int, rows: int) -> pa.Table:
    """Rows of file ``k``: the next ``rows`` base rows (cycling), with
    ``event_id`` = global row index + 1 (0 would be the engine's id
    sentinel)."""
    start = k * rows
    idx = np.arange(start, start + rows)
    tbl = base.take(pa.array(idx % base.num_rows))
    return tbl.set_column(0, "event_id", pa.array(idx + 1, pa.int64()))


def write_files(seed: int, out: str, manifest: str, first: int, files: int, rows: int,
                rate: float = 0.0, start: float = 0.0) -> None:
    """Write files ``first .. first+files-1`` on the schedule (``rate`` 0:
    all at once) and append their manifest lines."""
    base = base_events(seed)
    start = start or time.time()
    with open(manifest, "a") as man:
        for k in range(first, first + files):
            due = start + (k - first) / rate if rate > 0 else time.time()
            tbl = file_rows(base, k, rows)
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            name = f"events_{k:05d}.parquet"
            tmp = os.path.join(out, f".{name}.tmp")
            pq.write_table(tbl, tmp)
            os.rename(tmp, os.path.join(out, name))
            man.write(
                json.dumps(
                    {
                        "file": name,
                        "k": k,
                        "due": due,
                        "written": time.time(),
                        "rows": rows,
                        "first_id": k * rows + 1,
                    }
                )
                + "\n"
            )
            man.flush()


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="open-loop CDC event file generator")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--first", type=int, default=0)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--rate", type=float, default=0.0, help="files/s; 0 = backlog")
    ap.add_argument("--start", type=float, default=0.0, help="epoch s of the first due time")
    a = ap.parse_args(argv)
    write_files(a.seed, a.out, a.manifest, a.first, a.files, a.rows, a.rate, a.start)


if __name__ == "__main__":
    main()
