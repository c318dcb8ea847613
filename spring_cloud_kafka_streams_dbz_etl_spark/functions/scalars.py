"""Deterministic numeric aggregation helpers.

Why: double SUM/AVG over a shuffled dataset is accumulation-order dependent,
so two engines (or two runs) differ in the last ulps. For the oracle-checked
surface every monetary aggregate goes through DECIMAL(18,6):

- the per-row double expression is IEEE-deterministic (identical in Spark
  and DuckDB given identical inputs),
- the cast to DECIMAL(18,6) rounds per-row (deterministic),
- decimal SUM is exact integer arithmetic (order-independent),
- the final cast back to double is a single deterministic conversion.

At 100 TB the same trick is what you'd use anyway: Spark sums decimals with
128-bit internal state, avoiding both fp drift and overflow.

DuckDB twin: ``CAST(SUM(CAST(<expr> AS DECIMAL(18,6))) AS DOUBLE)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,6)"


def dec_sum(expr: Column, alias: str) -> Column:
    """Order-independent SUM of a (possibly computed) double expression."""
    return F.sum(expr.cast(DEC)).cast("double").alias(alias)


def exact_avg(expr: Column, alias: str) -> Column:
    """Deterministic AVG: exact decimal sum / exact count, one double div.

    DuckDB twin:
    ``CAST(SUM(CAST(e AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS alias``
    """
    return (F.sum(expr.cast(DEC)).cast("double") / F.count(F.lit(1))).alias(alias)


def money(expr: Column) -> Column:
    """Per-row monetary normalization to DECIMAL(18,6)."""
    return expr.cast(DEC)


def no_pushdown(cond: Column) -> Column:
    """Block predicate pushdown for an EXPENSIVE filter condition.

    Catalyst pushes deterministic filters below exchanges/projections by
    substituting the referenced expressions into the predicate — correct,
    but catastrophic when the predicate references a costly computed
    column (from_json/to_json): each pushed disjunct re-evaluates the full
    codec, AND the work lands below the fan-out repartition at source
    parallelism (measured 4x wall-time on the CDC parse at 1.6M rows).
    Wrapping the predicate in an always-true NONDETERMINISTIC guard pins
    the filter where it was written, so the codec column is computed once,
    after the fan-out. The guard must survive four optimizer attacks AND
    streaming checks: rand() >= -1 is folded (known [0,1) range),
    uuid().isNotNull() is folded (non-nullable),
    monotonically_increasing_id() is rejected in streaming plans, and an
    AND-ed guard gets split off so deterministic conjuncts push anyway —
    hence a single CASE expression (nondeterministic as a whole,
    unsplittable). Costs ~0.5 us/row; measured to cut the CDC parse from
    16 s to 4 s at 1.6M rows on local[32].
    """
    return F.when(F.length(F.expr("uuid()")) > -1, cond).otherwise(F.lit(False))


def eval_once(col: Column) -> Column:
    """Pin an EXPENSIVE computed COLUMN to a single evaluation.

    :func:`no_pushdown` protects a predicate; this protects the computed
    column itself. Catalyst inlines a Project alias into every consumer
    that references it — each downstream filter AND each projected
    field re-evaluates the full expression (r18: the CDC parse's
    physical plan carried SIX from_json evaluations per row — one per
    referencing filter/field — 17 s summed task time for a 100k-row
    micro-batch). Guarding the alias with the same always-true
    NONDETERMINISTIC CASE makes it illegal to inline or collapse, so
    the codec runs exactly once per row in its own projection and every
    consumer reads the attribute. The guard survives the same four
    optimizer attacks no_pushdown documents; the no-otherwise branch is
    unreachable (uuid() length is never <= -1), so every VALUE and the
    type are unchanged — but a CASE without ELSE is nullable, so the
    column's declared nullability becomes true even when ``col`` is
    non-nullable (harmless for the nullable from_json struct it guards
    today; wrap non-nullable columns only where a nullable schema is
    acceptable). Pinned by test_cdc_parse_evaluates_from_json_once.
    Costs ~0.5 us/row.
    """
    return F.when(F.length(F.expr("uuid()")) > -1, col)
