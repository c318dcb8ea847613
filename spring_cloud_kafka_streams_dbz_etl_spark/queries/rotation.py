"""Driver-verification rotation.

The external correctness harness evaluates only the first 50 entries of
``__spark_entry__.queries()`` per round, so registration order doubles as
the verification rotation. Both of its inputs are derived from files
committed at the repo root, located via ``__file__`` (the driver runs
from the checkout):

- ``CHECKED_BY_ROUND``: for each driver round R, the GREEN keys of
  ``CORRECTNESS_rRR.json`` (see :func:`green_names`). Rounds must run
  1..R with no gap.
- ``CHANGED_SINCE_CHECK``: the queries whose entry in ``PLAN_STAMPS.json``
  differs (:func:`stamp_moved`) from ``plans/rRR/PLAN_STAMPS.json``, the
  stamps committed with the last round's CORRECTNESS file. A green row
  for the old plan says nothing about the new one, so these sort as
  never checked.

A missing or unreadable file raises on the first call that needs the
order: it must never change silently. At a driver round, commit
``CORRECTNESS_rNN.json`` and ``plans/rNN/PLAN_STAMPS.json`` together;
between rounds, restamp (``tools/plan_stamps.py``) and the moved queries
front on their own.
"""

from __future__ import annotations

import functools
import json
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]

# Queries whose OPTIMIZED PLAN is legitimately process-dependent inside
# Spark: RewriteDistinctAggregates assigns the Expand gid of each
# distinct-argument group by iterating a hash-ordered collection keyed on
# exprIds, so plans with >= 2 DISTINCT aggregate groups swap gid labels
# (and the Expand projection order) between JVMs, semantically identical
# both ways. A plan-only move on these with the same ``src`` is noise.
# Keep the list short and backed by A/B dumps from two fresh processes.
PROCESS_VARIANT: frozenset[str] = frozenset(
    {"q_tpch_q21", "q_decontaminate", "q_dataset_card"}
)


def green_names(rows: dict) -> frozenset[str]:
    """Keys of one driver CORRECTNESS file whose row is green: the hash
    matched, or the query is rows-only by design (``no_oracle`` with
    ``spark_rows`` present). Red rows stay unchecked, so they re-front."""
    return frozenset(
        name
        for name, row in rows.items()
        if row.get("hash_match") is True
        or (row.get("err") == "no_oracle" and row.get("spark_rows") is not None)
    )


def checked_by_round(root: Path = ROOT) -> dict[int, frozenset[str]]:
    """{round: green names} from every ``CORRECTNESS_rNN.json`` in ``root``."""
    files = {
        int(m.group(1)): p
        for p in root.glob("CORRECTNESS_r*.json")
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name))
    }
    rounds = sorted(files)
    if not rounds or rounds != list(range(1, len(rounds) + 1)):
        raise RuntimeError(
            f"CORRECTNESS rounds under {root} must run 1..R with no gap; "
            f"found {rounds}"
        )
    return {r: green_names(json.loads(files[r].read_text())) for r in rounds}


def stamp_moved(name: str, old: dict, new: dict) -> bool:
    """Did a query's plan stamp change materially? ``plan`` moved (except
    a PROCESS_VARIANT plan-only flip with the same ``src``), or
    ``closures`` moved (a Python kernel body the plan cannot show). An
    edit to ``src`` alone is prose: it does not count. A stamp written
    before closure digests existed compares as unchanged."""
    if old["plan"] != new["plan"]:
        return not (name in PROCESS_VARIANT and old.get("src") == new.get("src"))
    return old.get("closures", new.get("closures")) != new.get("closures")


def changed_since_check(root: Path, last_round: int) -> frozenset[str]:
    """Queries whose committed stamp moved since ``last_round``'s snapshot."""
    snapshot = root / "plans" / f"r{last_round:02d}" / "PLAN_STAMPS.json"
    old = json.loads(snapshot.read_text())
    new = json.loads((root / "PLAN_STAMPS.json").read_text())
    return frozenset(
        name for name, st in new.items()
        if name not in old or stamp_moved(name, old[name], st)
    )


@functools.cache
def derived(root: Path = ROOT) -> tuple[dict[int, frozenset[str]], frozenset[str]]:
    """(``CHECKED_BY_ROUND``, ``CHANGED_SINCE_CHECK``) from the files
    under ``root``, read once per process."""
    by_round = checked_by_round(root)
    return by_round, changed_since_check(root, max(by_round))


def checked(name: str) -> tuple[int, int]:
    """(last round whose window verified ``name`` green, number of such
    rounds); (0, 0) when never checked or changed since the last check."""
    by_round, changed = derived()
    if name in changed:
        return (0, 0)
    rounds = [r for r, names in by_round.items() if name in names]
    return (max(rounds, default=0), len(rounds))


def rotation_order(names: list[str]) -> list[str]:
    """Stable order: least-recently checked first, then fewest checks,
    then registration order. Least-recently-first (not fewest-first) is
    what bounds staleness: every query re-fronts within ceil(N / 50)
    rounds of its last check, however many green rows it has."""
    ranked = sorted((checked(n), i, n) for i, n in enumerate(names))
    return [n for _, _, n in ranked]
