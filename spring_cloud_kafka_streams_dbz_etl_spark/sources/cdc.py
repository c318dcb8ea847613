"""Debezium-style CDC envelope synthesis + parsing over the test tables.

The driver test environment has no Kafka broker, so the `events` table
stands in for the CDC topic (FIXTURES.md §C): each row becomes a change
envelope {before, after, op} serialized as JSON in a `value` column —
exactly the shape `from_json` would see after an Avro decode of a real
Debezium topic (schema parity: schemas.cdc_envelope_schema).

Deterministic synthesis rules (FIXTURES.md §A3 fixture rules):
- op: 'd' for event_type='error' (delete: after=null), 'c' for 'signup'
  (insert: before=null), 'u' otherwise
- tombstone (whole value NULL) when event_id % 97 == 0
- the reference also rejects after.id == 0 (EventTransformerStream.java:53-58)

Parsing mirrors the reference chain (SURVEY.md §2A #2-#4): tombstone filter
-> from_json decode -> delete skip (after IS NULL) -> id sentinel reject ->
flat `after` projection. All built-in expressions; on a real topic the same
code runs on `readStream.format("kafka")` output unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import events_envelope_schema


def synthesize_event_envelopes(
    events: DataFrame, corrupt_every: int | None = None
) -> DataFrame:
    """events rows -> (kafka_key, value) JSON-envelope records.

    `corrupt_every`: if set, every Nth record's payload is garbled into
    non-JSON (deterministically, by event_id) — the chaos knob for the
    deserialization-failure DLQ path (reference enable-dlq semantics)."""
    from ..functions.scalars import eval_once

    after = F.when(
        F.col("event_type") != "error",
        F.struct(
            F.col("event_id").alias("id"),
            F.col("user_id"),
            F.col("event_type"),
            F.col("value").alias("value"),
        ),
    )
    op = (
        F.when(F.col("event_type") == "error", "d")
        .when(F.col("event_type") == "signup", "c")
        .otherwise("u")
    )
    envelope = F.to_json(F.struct(after.alias("after"), op.alias("op")))
    if corrupt_every:
        envelope = F.when(
            (F.col("event_id") % corrupt_every) == 0,
            F.concat(F.lit("CORRUPT<<"), envelope),
        ).otherwise(envelope)
    # eval_once: the parse reads `value` twice (tombstone filter, then
    # from_json); unguarded, Catalyst inlines the alias into both and the
    # to_json codec runs twice per row — see functions/scalars.py
    value = eval_once(
        F.when((F.col("event_id") % 97) == 0, F.lit(None).cast("string")).otherwise(envelope)
    )
    return events.select(
        F.col("event_id").alias("kafka_key"),
        value.alias("value"),
    )


def parse_event_envelopes(
    raw: DataFrame, schema: T.StructType | None = None, keep_op: bool = True
) -> DataFrame:
    """(key, value-json) -> flat after-image rows (id, user_id, event_type,
    value [, op]); drops tombstones, deletes, and id==0 sentinels."""
    from ..functions.scalars import eval_once, no_pushdown

    schema = schema or events_envelope_schema()
    parsed = (
        raw.filter(no_pushdown(F.col("value").isNotNull()))  # tombstone filter (#3)
        # eval_once pins the codec to ONE evaluation per row (r18: the
        # inlined alias was parsed up to 6x — once per referencing
        # filter/field); no_pushdown keeps the codec-referencing
        # predicates HERE (above the fan-out exchange) instead of
        # re-expanded below the shuffle at source parallelism — see
        # functions/scalars.py.
        .withColumn("envelope", eval_once(F.from_json("value", schema)))
        .filter(no_pushdown(F.col("envelope.after").isNotNull()))  # delete skip (#4)
        .filter(no_pushdown(F.col("envelope.after.id") != 0))  # id sentinel reject
    )
    cols = [
        F.col("envelope.after.id").alias("id"),
        F.col("envelope.after.user_id").alias("user_id"),
        F.col("envelope.after.event_type").alias("event_type"),
        F.col("envelope.after.value").alias("value"),
    ]
    if keep_op:
        cols.append(F.col("envelope.op").alias("op"))
    return parsed.select(*cols)
