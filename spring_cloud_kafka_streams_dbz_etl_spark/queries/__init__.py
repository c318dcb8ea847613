"""Declared query surface: name -> (Spark callable, DuckDB oracle SQL).

Every operator the engine claims (SURVEY.md §2B) registers here via the
``@query`` decorator; ``__spark_entry__.py`` re-exports the registry to the
driver. Column names are aliased identically on both sides (the driver's
compare sorts columns by name before hashing).
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    bench: bool = False  # part of the headline bench set


_REGISTRY: dict[str, QuerySpec] = {}

# Per-query persisted intermediates (blocked self-joins, multi-consumer
# explodes). The driver/bench run queries sequentially in one session, so
# each query releases the PREVIOUS query's cached blocks on entry — caches
# never accumulate across the 80+ query sweep (they'd otherwise pile up
# executor memory; the previous query's result is always materialized
# before the next one runs).
_SCOPED_CACHE: list[DataFrame] = []


def cache_scoped(df: DataFrame) -> DataFrame:
    """persist() with query-scoped lifetime (released when the next
    registered query starts)."""
    df = df.persist()
    _SCOPED_CACHE.append(df)
    return df


# Per-query scratch trees (bloom-filtered corpora, realized shard
# layouts). Same lifetime rule as _SCOPED_CACHE: the returned DataFrame
# reads its scratch files lazily, so a query's tree must outlive its own
# materialization — each query sweeps the PREVIOUS query's trees on
# entry, and an atexit backstop removes whatever the last query of the
# process left (ADVICE r15: bloomskip_/shardwrite_ leaked a corpus-sized
# tree in /tmp per parity/bench run).
_SCOPED_SCRATCH: list[str] = []


def scratch_dir(prefix: str) -> str:
    """mkdtemp with query-scoped lifetime (removed when the next
    registered query starts, or at interpreter exit)."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix)
    _SCOPED_SCRATCH.append(path)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def release_scoped() -> None:
    import shutil

    while _SCOPED_CACHE:
        try:
            _SCOPED_CACHE.pop().unpersist()
        except Exception:
            pass
    while _SCOPED_SCRATCH:
        shutil.rmtree(_SCOPED_SCRATCH.pop(), ignore_errors=True)


def round_half_up6(x: float) -> float:
    """The exact driver-side mirror of DuckDB's ROUND(x, 6) on DOUBLE:
    std::round(x * 1e6) / 1e6 — scale in double arithmetic, round the
    SCALED DOUBLE half away from zero, unscale. Used wherever a
    driver-computed control-plane value (the linear probes' mse) must
    hash-equal an oracle column produced by SQL ROUND.

    Two wrong implementations this replaced, both fuzz-caught
    (test_round_half_up6_matches_duckdb_round):
    - Python's built-in round(): half-to-even — diverges on decimal
      ties (ADVICE r11).
    - Decimal(repr(x)).quantize(HALF_UP): rounds the SHORTEST-REPR
      decimal, which diverges from the scaled-double algorithm when
      x*1e6's double value crosses a .5 the decimal expansion doesn't
      (fuzz counterexample 562949953.9125094: repr ends ...0940 ->
      quantize keeps ...509, but x*1e6 IS exactly ...509.5 in double
      and DuckDB rounds it away to ...510). Probed: DuckDB is
      half-AWAY on the scaled double (508.5 -> 509, 664.5 -> 665 —
      not banker's), hence math.floor + the explicit 0.5 comparison
      below rather than Python round() on the scaled value."""
    import math

    y = float(x) * 1e6
    f = math.floor(y)
    d = y - f
    if d > 0.5 or (d == 0.5 and y > 0):
        f += 1
    return f / 1e6


def query(name: str, oracle: str | None = None, bench: bool = False):
    def deco(fn):
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_scoped()
            return fn(spark, sf_dir)

        _REGISTRY[name] = QuerySpec(fn=wrapped, oracle=oracle, bench=bench)
        return wrapped

    return deco


def all_queries() -> dict[str, QuerySpec]:
    # Import for registration side effects (idempotent).
    from . import (  # noqa: F401
        advanced,
        analytic,
        cdc,
        curation,
        dedup,
        layout,
        multimodal,
        olap,
        olap_full,
        pii,
        relational,
        similarity,
        sourcefmt,
        streaming,
        text,
    )
    from .rotation import rotation_order

    # The driver's correctness harness checks only the FIRST 50 entries of
    # queries() per round, so registration order doubles as the
    # verification rotation: least-recently-driver-checked queries sort
    # first (never-checked ones front; ties broken by fewest total checks,
    # then original registration order), bounding staleness at
    # ceil(N/50) rounds. rotation.py derives the checked sets from the
    # committed CORRECTNESS_rNN.json files, and fronts every query whose
    # PLAN_STAMPS.json entry moved since plans/rNN/PLAN_STAMPS.json.
    names = rotation_order(list(_REGISTRY))
    return {name: _REGISTRY[name] for name in names}
