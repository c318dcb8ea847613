"""CDC envelope parsing + UDF surface queries."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import local_rows, table
from ..session import tune
from ..sources.cdc import EVENTS_ENTITY, parse_envelopes, synthesize_envelopes
from . import query


@query(
    "q_cdc_envelope_parse",
    oracle="""
SELECT event_id AS id,
       user_id,
       event_type,
       value,
       CASE WHEN event_type = 'signup' THEN 'c' ELSE 'u' END AS op
FROM events
WHERE event_id % 97 <> 0      -- tombstones
  AND event_type <> 'error'   -- deletes (after IS NULL)
  AND event_id <> 0           -- id sentinel reject
""",
)
def q_cdc_envelope_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full envelope round-trip (§2A #2-#4): synthesize Debezium-style JSON
    envelopes from `events`, then decode with from_json, drop tombstones /
    deletes / id==0, and project the flat after-image. The oracle computes
    the same result directly — verifying the round-trip is lossless.
    """
    tune(spark)
    ev = table(spark, sf_dir, "events")
    raw = synthesize_envelopes(ev, EVENTS_ENTITY)
    return (
        parse_envelopes(raw, EVENTS_ENTITY)
        .filter(~F.col("parse_failed"))
        .select("id", "user_id", "event_type", "value", "op")
    )


@query(
    "q_udf_scalar",
    oracle="""
SELECT event_id,
       ROUND(LN(1 + value), 6) AS log_value,
       value * 2 + user_id AS blended
FROM events
WHERE value >= 0
""",
)
def q_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UDF surface (§2B): the reference's only 'UDF' is the enrichment
    function called per record inside mapValues
    (AnimalEnrichmentService.java:27-29). Engine equivalent: an
    Arrow-batched pandas_udf (vectorized, ~10-100x over row-at-a-time).
    Kept off the hot path everywhere else — this query exists to prove the
    plumbing, oracle-checked against the equivalent SQL expression.
    """
    tune(spark)
    import numpy as np

    @F.pandas_udf("double")
    def log1p_round6(v: pd.Series) -> pd.Series:
        return np.round(np.log1p(v), 6)

    ev = table(spark, sf_dir, "events").filter(F.col("value") >= 0)
    return ev.select(
        "event_id",
        log1p_round6(F.col("value")).alias("log_value"),
        (F.col("value") * 2 + F.col("user_id")).alias("blended"),
    )


@query(
    "q_cdc_apply",
    oracle="""
SELECT * FROM (
  SELECT user_id AS id, ts, event_type, value
  FROM events
  WHERE event_id % 97 <> 0 AND user_id <> 0
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1)
WHERE event_type <> 'error'
""",
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog materialization (MERGE INTO semantics composed from
    window + filter): treat events as a per-user change stream (op='d'
    for 'error' rows, tombstones excluded, id==0 sentinel rejected) and
    materialize the current state — each user's latest change, deleted
    users absent. The inverse direction of the reference pipeline
    (which only ships changes; a CDC engine must also apply them)."""
    from ..operators.changelog import materialize_changelog

    tune(spark)
    ev = table(spark, sf_dir, "events")
    changes = (
        ev.filter((F.col("event_id") % 97 != 0) & (F.col("user_id") != 0))
        .select(
            F.col("user_id").alias("id"),
            "ts",
            "event_type",
            "value",
            F.when(F.col("event_type") == "error", "d")
            .when(F.col("event_type") == "signup", "c")
            .otherwise("u")
            .alias("op"),
            "event_id",
        )
    )
    return materialize_changelog(
        changes, key_cols=["id"], order_cols=["ts", "event_id"]
    ).drop("event_id")


@query(
    "q_scd2",
    oracle="""
SELECT user_id AS id, event_id, event_type, value,
       ts AS valid_from,
       LEAD(ts) OVER w AS valid_to,
       LEAD(ts) OVER w IS NULL AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
""",
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history from a change stream: every change becomes a
    validity interval [valid_from, valid_to) via lead() per key; the open
    interval marks the current version. One shuffle on the key serves the
    whole history build."""
    from ..operators.changelog import scd2_intervals

    tune(spark)
    ev = table(spark, sf_dir, "events").select(
        F.col("user_id").alias("id"), "event_id", "event_type", "value", "ts"
    )
    out = scd2_intervals(ev, key_cols=["id"], time_col="ts", tiebreak_cols=["event_id"])
    return out.select(
        "id", "event_id", "event_type", "value",
        "valid_from", "valid_to", "is_current",
    )


@query(
    "q_udaf_grouped",
    oracle="""
WITH v AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value >= 0
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       CASE WHEN n % 2 = 1
            THEN MAX(CASE WHEN rn = (n + 1) // 2 THEN value END)
            ELSE (MAX(CASE WHEN rn = n // 2 THEN value END)
                  + MAX(CASE WHEN rn = n // 2 + 1 THEN value END)) / 2
       END AS median_value
FROM v GROUP BY event_type, n
""",
)
def q_udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grouped-aggregate pandas UDF surface (§2B 'scalar +
    grouped-agg'): an Arrow-batched UDAF — numpy median per event_type —
    used directly inside groupBy().agg() alongside a built-in count.
    Completes the Python-function family (scalar pandas_udf:
    q_udf_scalar; table function: q_udtf_tokens; grouped agg: here).

    Determinism: numpy's even-count median is (lo+hi)*0.5 on exact
    doubles — identical to the oracle's (lo+hi)/2 middle-rank
    formulation (both exact IEEE ops on the same two values).

    Scale: each group's values stream into ONE Arrow batch — the
    documented constraint of grouped-agg UDFs (per-group data must fit
    an executor); for billion-row groups use the sketch surface
    (q_approx_stats) or the exact rank-based q_percentiles instead.
    This query exists to prove the plumbing on the right-sized case."""
    import numpy as np

    tune(spark)

    @F.pandas_udf("double")
    def np_median(v: pd.Series) -> float:
        return float(np.median(v.to_numpy()))

    # Catalyst refuses to mix grouped-agg pandas UDFs with JVM aggregates
    # in one agg() (INVALID_PANDAS_UDF_PLACEMENT), so the count is a
    # pandas aggregate too — both ride the same Arrow exchange.
    @F.pandas_udf("long")
    def np_count(v: pd.Series) -> int:
        return int(len(v))

    ev = table(spark, sf_dir, "events").filter(F.col("value") >= 0)
    return ev.groupBy("event_type").agg(
        np_count(F.col("value")).alias("n"),
        np_median(F.col("value")).alias("median_value"),
    )


@query(
    "q_dim_time_travel",
    oracle="""
SELECT 1 AS version, c_custkey, c_name, c_acctbal FROM customer
UNION ALL
SELECT 2, c_custkey,
       CASE WHEN c_custkey % 100 = 0 THEN 'UPDATED' ELSE c_name END,
       CASE WHEN c_custkey % 100 = 0 THEN c_acctbal + 1000.0 ELSE c_acctbal END
FROM customer
UNION ALL
SELECT 2, 1000000000, 'NEW', 0.0
""",
)
def q_dim_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel on the CRUD dimension store (the AS OF contract table
    formats give a lakehouse, here from the immutable-version commits of
    sources/sinks.py): commit the customer dim (v1), upsert updates plus
    a new key (v2), then read BOTH versions side by side —
    ``load_dimension(version=1)`` still serves the exact pre-upsert
    snapshot while v2 is current, proving snapshot isolation as a query
    (the streaming twin is s_dim_upsert's between-batch visibility).

    Scale: version resolution is directory metadata; each version read
    is a plain immutable-parquet scan. Retention here is
    current+previous; production table formats make the window a
    config knob — the reader contract is identical."""
    import uuid as _uuid

    from ..sources.sinks import load_dimension, upsert_dimension
    from . import scratch_dir

    tune(spark)
    path = scratch_dir(f"dimtt_{_uuid.uuid4().hex[:8]}_")
    base = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    upsert_dimension(base, path, keys=["c_custkey"])  # -> _v00001
    updates = base.filter(F.col("c_custkey") % 100 == 0).select(
        "c_custkey",
        F.lit("UPDATED").alias("c_name"),
        (F.col("c_acctbal") + 1000.0).alias("c_acctbal"),
    ).unionByName(
        local_rows(
            spark,
            [(1000000000, "NEW", 0.0)],
            "c_custkey long, c_name string, c_acctbal double",
        )
    )
    upsert_dimension(updates, path, keys=["c_custkey"])  # -> _v00002
    v1 = load_dimension(spark, path, version=1)
    v2 = load_dimension(spark, path)  # current == version 2
    return v1.select(F.lit(1).alias("version"), "c_custkey", "c_name", "c_acctbal").unionByName(
        v2.select(F.lit(2).alias("version"), "c_custkey", "c_name", "c_acctbal")
    )


INC_AGG_CUTOFF = "2024-01-24"


@query(
    "q_incremental_agg",
    oracle="""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY user_id
""",
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (materialized-view delta
    merge): the per-user rollup is kept current by merging the STORED
    aggregate with the aggregate of the new delta slice — a FULL OUTER
    merge of two partial states, never a rescan of base history. The
    base slice here (events < {cutoff}) stands in for the stored MV;
    the oracle is the full recompute over everything, proving
    merge(base_agg, delta_agg) == recompute — which holds because count
    and DECIMAL-sum are commutative monoids (the same algebra that
    makes the aggregates map-side combinable).

    Scale: this is the nightly-pipeline pattern that turns an O(history)
    recompute into O(delta): both aggregates are combinable, the merge
    joins |users| partial rows against |active users in delta| — at
    100 TB the base side is the stored MV relation (small), and only
    the delta's raw rows are scanned (time filter pushed to the scan).
    Decimal partials merge exactly, so the maintained view never drifts
    from the recompute."""
    tune(spark)
    from ..functions.scalars import DEC

    ev = table(spark, sf_dir, "events").select("user_id", "ts", "value")
    base = (
        ev.filter(F.col("ts") < INC_AGG_CUTOFF)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("bn"),
            F.sum(F.col("value").cast(DEC)).alias("bv"),
        )
    )
    delta = (
        ev.filter(F.col("ts") >= INC_AGG_CUTOFF)
        .groupBy(F.col("user_id").alias("d_user_id"))
        .agg(
            F.count(F.lit(1)).alias("dn"),
            F.sum(F.col("value").cast(DEC)).alias("dv"),
        )
    )
    zero = F.lit(0).cast(DEC)
    return (
        base.join(delta, base.user_id == delta.d_user_id, "full_outer")
        .select(
            F.coalesce(F.col("user_id"), F.col("d_user_id")).alias("user_id"),
            (F.coalesce(F.col("bn"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0)))
            .cast("bigint")
            .alias("n_events"),
            (F.coalesce(F.col("bv"), zero) + F.coalesce(F.col("dv"), zero))
            .cast("double")
            .alias("total_value"),
        )
    )


SCD2_STATE_TYPES = ("signup", "error")


@query(
    "q_scd2_enrich",
    oracle=f"""
WITH hist AS (
  SELECT user_id, event_id AS state_event, value AS state_value,
         ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
           AS valid_to
  FROM events WHERE event_type IN {SCD2_STATE_TYPES}
)
SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
       h.state_event, h.state_value
FROM events p LEFT JOIN hist h
  ON p.user_id = h.user_id
 AND h.valid_from <= p.ts
 AND (h.valid_to IS NULL OR p.ts < h.valid_to)
WHERE p.event_type = 'purchase'
""",
)
def q_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal dimension enrichment (the SCD2 LOOKUP, completing
    q_scd2's history BUILD): each purchase joins the dimension version
    that was valid AT ITS EVENT TIME — equi-join on the key with the
    half-open interval predicate riding the join condition; purchases
    before the first state version keep NULL attributes (left join).
    This is the warehouse-correct alternative to the reference's
    current-state-only enrichment (EventTransformerStream.java:45-80
    always reads the latest dimension row, silently rewriting history
    when the dim changes).

    Scale: the shuffle is carried entirely by the equi key (user_id);
    the interval predicate evaluates inside the joined partition, and
    fan-out is bounded by versions-per-key (each fact row matches
    EXACTLY one version since [valid_from, valid_to) partitions the
    timeline). Contrast with q_asof_join's union+window plan: same
    semantics, join-shaped — the right choice when the version history
    is a maintained dimension rather than a co-streamed event feed."""
    tune(spark)
    from ..operators.changelog import scd2_intervals

    ev = table(spark, sf_dir, "events")
    hist = scd2_intervals(
        ev.filter(F.col("event_type").isin(*SCD2_STATE_TYPES)).select(
            F.col("user_id").alias("h_user_id"),
            F.col("event_id").alias("state_event"),
            F.col("value").alias("state_value"),
            "ts",
        ),
        key_cols=["h_user_id"],
        time_col="ts",
        tiebreak_cols=["state_event"],
    ).select("h_user_id", "state_event", "state_value", "valid_from", "valid_to")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (purchases.user_id == hist.h_user_id)
        & (hist.valid_from <= purchases.purchase_ts)
        & (hist.valid_to.isNull() | (purchases.purchase_ts < hist.valid_to))
    )
    return purchases.join(hist, cond, "left").select(
        "purchase_id", "user_id", "purchase_ts", "state_event", "state_value"
    )


@query(
    "q_snapshot_diff",
    oracle="""
WITH a AS (
  SELECT c_custkey AS k, c_name, c_acctbal FROM customer WHERE c_custkey % 11 <> 0),
b AS (
  SELECT c_custkey AS k, c_name,
         CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10.0 ELSE c_acctbal END
           AS c_acctbal
  FROM customer
  UNION ALL
  SELECT c_custkey + 1000000 AS k, c_name, c_acctbal
  FROM customer WHERE c_custkey % 13 = 0)
SELECT COALESCE(a.k, b.k) AS custkey,
       CASE WHEN a.k IS NULL THEN 'I'
            WHEN b.k IS NULL THEN 'D'
            ELSE 'U' END AS op,
       a.c_acctbal AS old_acctbal,
       b.c_acctbal AS new_acctbal
FROM a FULL OUTER JOIN b ON a.k = b.k
WHERE a.k IS NULL OR b.k IS NULL
   OR a.c_name <> b.c_name OR a.c_acctbal <> b.c_acctbal
""",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — CDC derived from two table versions when no
    Debezium sits on the source (the nightly-full-export reality): FULL
    OUTER join on the key classifies every row as INSERT (right only),
    DELETE (left only), or UPDATE (both, payload differs); unchanged
    rows drop out. The emitted (op, old, new) stream feeds the same
    downstream as a real change topic (q_cdc_apply / scd2_merge). The
    two snapshots derive deterministically from the customer fixture
    (mod-11 deletes, mod-7 balance updates, mod-13 re-keyed inserts).

    Scale: ONE sort-merge full-outer shuffle on the key — at 100 TB
    snapshot diffing is bucketed or key-partitioned so nightly diffs
    reuse layout (sources/sinks.py bucketed writer); the payload
    comparison stays column-wise (codegen), no row serialization. This
    completes the CDC family's missing direction: snapshots -> changes,
    the inverse of q_cdc_apply's changes -> snapshot."""
    tune(spark)
    c = table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_custkey") % 11 != 0).select(
        F.col("c_custkey").alias("ak"),
        F.col("c_name").alias("a_name"),
        F.col("c_acctbal").alias("a_bal"),
    )
    b_mod = c.select(
        F.col("c_custkey").alias("bk"),
        F.col("c_name").alias("b_name"),
        F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 10.0)
        .otherwise(F.col("c_acctbal"))
        .alias("b_bal"),
    )
    b_new = (
        c.filter(F.col("c_custkey") % 13 == 0)
        .select(
            (F.col("c_custkey") + 1000000).alias("bk"),
            F.col("c_name").alias("b_name"),
            F.col("c_acctbal").alias("b_bal"),
        )
    )
    b = b_mod.unionByName(b_new)
    return (
        a.join(b, a.ak == b.bk, "full_outer")
        .filter(
            F.col("ak").isNull()
            | F.col("bk").isNull()
            | (F.col("a_name") != F.col("b_name"))
            | (F.col("a_bal") != F.col("b_bal"))
        )
        .select(
            F.coalesce(F.col("ak"), F.col("bk")).alias("custkey"),
            F.when(F.col("ak").isNull(), "I")
            .when(F.col("bk").isNull(), "D")
            .otherwise("U")
            .alias("op"),
            F.col("a_bal").alias("old_acctbal"),
            F.col("b_bal").alias("new_acctbal"),
        )
    )
