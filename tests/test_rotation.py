"""Rotation-policy invariants (VERDICT r13 asks #1 and #6).

The external driver evaluates the first 50 entries of
``__spark_entry__.queries()`` per round. These tests pin the window
budget mechanically so the guarantees stated in rotation.py are
enforced, not just asserted in prose:

- every query whose plan stamp moved since the last driver round fronts
  the window (ask #1);
- max staleness (rounds since a query's last driver check) stays <= 6
  across ALL registered queries once the current window lands (ask #6);
- the derived sets stay consistent with the registry, and a gap or a
  missing input file raises instead of reordering silently.
"""

from __future__ import annotations

import json

import pytest

from spring_cloud_kafka_streams_dbz_etl_spark.queries import rotation


CURRENT_ROUND = 17
WINDOW = 50
STALENESS_BAR = 6


@pytest.fixture(scope="module")
def registered() -> list[str]:
    import __spark_entry__ as entry

    return list(entry.queries().keys())


def test_prior_round_deferrals_front_the_window(registered):
    """Every query whose committed stamp differs from the last round's
    snapshot fronts the window: its green rows describe a plan that no
    longer exists."""
    by_round, changed = rotation.derived()
    last = max(by_round)
    snap = rotation.ROOT / "plans" / f"r{last:02d}" / "PLAN_STAMPS.json"
    old = json.loads(snap.read_text())
    new = json.loads((rotation.ROOT / "PLAN_STAMPS.json").read_text())
    moved = {
        n for n in registered
        if n not in old or rotation.stamp_moved(n, old[n], new[n])
    }
    assert moved == changed
    assert len(moved) <= WINDOW, "the changed tier overflows the window"
    fronted = set(rotation.rotation_order(registered)[:WINDOW])
    assert moved <= fronted, sorted(moved - fronted)


def test_changed_tier_fits_the_window():
    """The standing budget rule: the derived changed tier (queries whose
    stamp moved since the last driver round) fits the 50-query window,
    so a restamp that moves more plans than one round can verify fails
    here, by name, before any rotation runs."""
    tier = rotation.derived()[1]
    assert len(tier) <= WINDOW, f"changed tier {len(tier)} > window {WINDOW}"


def test_never_checked_queries_front(registered):
    order = rotation.rotation_order(registered)
    never = [n for n in registered if rotation.checked(n) == (0, 0)]
    fronted = set(order[: max(WINDOW, len(never))])
    missing = [n for n in never if n not in fronted]
    assert not missing, f"never-checked queries missing from window: {missing}"


def test_max_staleness_bounded(registered):
    """Every registered query is driver-checked within STALENESS_BAR
    rounds: once the current window lands (its members' last check
    becomes CURRENT_ROUND), no query's last check is older than
    CURRENT_ROUND - STALENESS_BAR."""
    order = rotation.rotation_order(registered)
    window = set(order[:WINDOW])
    worst = min(
        CURRENT_ROUND if n in window else rotation.checked(n)[0]
        for n in registered
    )
    staleness = CURRENT_ROUND - worst
    assert staleness <= STALENESS_BAR, (
        f"max staleness {staleness} rounds exceeds the <= {STALENESS_BAR} "
        f"bar; stalest queries outside the window: "
        f"{sorted((rotation.checked(n)[0], n) for n in registered if n not in window)[:5]}"
    )


def test_steady_state_staleness_bound_holds(registered):
    """The structural bound: window size x bar must cover the registry,
    otherwise least-recently-first cannot keep every query fresh.
    N <= WINDOW * STALENESS_BAR makes the full least-recently-first
    cycle ceil(N/WINDOW) <= STALENESS_BAR rounds, so every query
    re-fronts within the bar. (r14 crossed 250 registered: the cycle is
    now 6 rounds — AT the bar, no longer under it; the next 50
    registrations are free before the window must grow.)"""
    assert len(registered) <= WINDOW * STALENESS_BAR, (
        f"{len(registered)} registered queries no longer fit a "
        f"{WINDOW}-query window within {STALENESS_BAR} rounds; "
        "raise the bar or grow the window"
    )


def test_checked_by_round_names_are_registered(registered):
    known = set(registered)
    for rnd, names in rotation.derived()[0].items():
        unknown = names - known
        assert not unknown, f"round {rnd} records unregistered names: {unknown}"


def test_sentinel_sets_are_registered(registered):
    assert rotation.derived()[1] <= set(registered)


def _correctness(root, rnd: int, rows: dict) -> None:
    (root / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


def test_green_rule(tmp_path):
    _correctness(tmp_path, 1, {
        "matched": {"hash_match": True, "spark_rows": 3, "err": None},
        "mismatched": {"hash_match": False, "spark_rows": 3, "err": None},
        "rows_only": {"hash_match": None, "spark_rows": 5, "err": "no_oracle"},
        "rows_only_failed": {"hash_match": None, "spark_rows": None, "err": "no_oracle"},
        "crashed": {"hash_match": None, "spark_rows": None, "err": "boom"},
    })
    assert rotation.checked_by_round(tmp_path) == {
        1: frozenset({"matched", "rows_only"})
    }


def test_round_gap_raises(tmp_path):
    for rnd in (1, 2, 4):
        _correctness(tmp_path, rnd, {"q": {"hash_match": True}})
    with pytest.raises(RuntimeError, match="no gap"):
        rotation.checked_by_round(tmp_path)
    with pytest.raises(RuntimeError, match="no gap"):
        rotation.checked_by_round(tmp_path / "empty")


def test_missing_snapshot_raises(tmp_path):
    (tmp_path / "PLAN_STAMPS.json").write_text("{}")
    with pytest.raises(FileNotFoundError):
        rotation.changed_since_check(tmp_path, 3)


def test_changed_since_check_applies_the_stamp_rule(tmp_path):
    variant = next(iter(rotation.PROCESS_VARIANT))
    old = {
        "same": {"plan": "p", "src": "s", "closures": "c"},
        "src_only": {"plan": "p", "src": "s", "closures": "c"},
        "plan": {"plan": "p", "src": "s", "closures": "c"},
        "closure": {"plan": "p", "src": "s", "closures": "c"},
        variant: {"plan": "p", "src": "s", "closures": "c"},
    }
    new = {
        "same": {"plan": "p", "src": "s", "closures": "c"},
        "src_only": {"plan": "p", "src": "s2", "closures": "c"},
        "plan": {"plan": "p2", "src": "s", "closures": "c"},
        "closure": {"plan": "p", "src": "s", "closures": "c2"},
        variant: {"plan": "p2", "src": "s", "closures": "c"},
        "fresh": {"plan": "p", "src": "s", "closures": "c"},
    }
    (tmp_path / "plans" / "r03").mkdir(parents=True)
    (tmp_path / "plans" / "r03" / "PLAN_STAMPS.json").write_text(json.dumps(old))
    (tmp_path / "PLAN_STAMPS.json").write_text(json.dumps(new))
    assert rotation.changed_since_check(tmp_path, 3) == {"plan", "closure", "fresh"}
