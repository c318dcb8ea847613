"""The reference pipeline's semantic core, vectorized.

Reference (SURVEY.md §2A): a Kafka Streams chain of per-record operators —
tombstone filter -> envelope `after` extraction -> per-record REST lookup
(an N+1 join) -> projection to output schema -> re-key. Here each becomes a
declarative DataFrame operator; the N+1 lookup in particular collapses into
a stream-static/broadcast equi-join (the single biggest scale win: one
batch-wide join instead of one RPC per record).

Reference parity anchors:
- enrich_join           <- EventTransformerStream.java:61-85,
                           AnimalEnrichmentService.java:57-82 (REST lookup)
- project_with_defaults <- EventTransformerStream.java:67-72 (builder with
                           asText("") defaults)
- rekey                 <- EventTransformerStream.java:35 (.selectKey)
- latest_by_key         <- the JPA @Version latest-wins semantics
                           (app/.../entity/Event.java:18-19)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def enrich_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Column | str | Sequence[str],
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """The enrichment lookup as a batch join.

    ``broadcast_dim=True`` ships the dimension to every executor — the
    cluster-scale replacement for the reference's per-record REST GET. For
    dims too large to broadcast, pass False and let AQE pick shuffle-hash /
    sort-merge (and split skewed keys).
    """
    d = F.broadcast(dim) if broadcast_dim else dim
    return fact.join(d, on=on, how=how)


def project_with_defaults(
    df: DataFrame, mapping: dict[str, Column], defaults: dict[str, Column] | None = None
) -> DataFrame:
    """Projection/rename with per-column null defaults (builder semantics)."""
    defaults = defaults or {}
    cols = []
    for name, col in mapping.items():
        if name in defaults:
            col = F.coalesce(col, defaults[name])
        cols.append(col.alias(name))
    return df.select(*cols)


def rekey(df: DataFrame, key_cols: Sequence[str], repartition: bool = False) -> DataFrame:
    """Materialize a record key struct (RecordKey{id} analogue).

    ``repartition=True`` reproduces Kafka Streams' through-topic semantics
    (records co-located by new key). Off by default: in Spark a downstream
    groupBy/join inserts exactly the shuffle it needs, so forcing one here
    would usually be a wasted extra shuffle at scale.
    """
    out = df.withColumn("key", F.struct(*[F.col(c) for c in key_cols]))
    if repartition:
        out = out.repartition(*[F.col(c) for c in key_cols])
    return out


def latest_by_key(
    df: DataFrame, keys: Sequence[str], order_desc: Sequence[str]
) -> DataFrame:
    """Latest-wins per key (JPA @Version / CDC compaction semantics).

    One shuffle on ``keys``; ties broken by the full ``order_desc`` chain so
    results are deterministic. At scale this is the standard CDC-compaction
    pattern (row_number over key ordered by version desc).
    """
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_desc])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def top_k(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """Global top-k: per-partition partial top-k then a single-partition
    merge — Spark's TakeOrderedAndProject physical operator, no full sort.
    """
    return df.orderBy(*order).limit(k)


def salted_join(
    left: "DataFrame",
    right: "DataFrame",
    on: str,
    salt_src,
    n_salts: int = 8,
    how: str = "inner",
) -> "DataFrame":
    """Skew-safe equi-join by salting: the LEFT (large, skewed) side gets
    a deterministic salt in [0, n_salts) from ``salt_src`` (any integer
    column expression — a row-level id, NOT the join key), and the RIGHT
    (smaller, replicable) side is exploded n_salts times, so a hot join
    key's rows spread over n_salts shuffle partitions instead of one.
    Result is provably identical to ``left.join(right, on, how)``.

    When to reach for it at 100 TB: AQE's skew-join handling splits
    oversized SHUFFLE partitions automatically, but it cannot act where
    there is no exchange to re-plan — stream-static joins inside
    foreachBatch, bucketed (exchange-free) joins, or a build side too
    big to broadcast but small enough to replicate n_salts times. This
    is the manual fallback for those, the join twin of q_salted_agg.

    Supported ``how``: inner / left (right-side multiplicity is
    preserved because each right row exists exactly once PER SALT).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    from pyspark.sql import functions as F

    salted_l = left.withColumn("__salt", (salt_src % n_salts).cast("int"))
    salted_r = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(s) for s in range(n_salts)]))
    )
    return salted_l.join(salted_r, [on, "__salt"], how).drop("__salt")


def pareto_frontier(df: DataFrame, x: str, y: str) -> DataFrame:
    """Skyline: rows not dominated on (x, y) — dominated means another row
    is >= on both axes and strictly > on one; exact-duplicate points all
    survive.

    Plan: collapse to one (x, max(y)) row per distinct x (combinable
    aggregate), run the strictly-greater-x running max over that tiny
    relation, join back. A row survives iff it holds its own x's max y
    AND strictly beats every greater x's best y. No self-join; the only
    global window covers |distinct x| rows.
    """
    xagg = df.groupBy(x).agg(F.max(y).alias("__max_y"))
    w = Window.orderBy(F.col(x).desc()).rowsBetween(Window.unboundedPreceding, -1)
    xrun = xagg.select(
        F.col(x).alias("__x"),
        "__max_y",
        F.max("__max_y").over(w).alias("__best_above"),
    )
    return (
        df.join(F.broadcast(xrun), df[x] == xrun["__x"])
        .filter(
            (F.col(y) == F.col("__max_y"))
            & (F.col("__best_above").isNull() | (F.col(y) > F.col("__best_above")))
        )
        .drop("__x", "__max_y", "__best_above")
    )
