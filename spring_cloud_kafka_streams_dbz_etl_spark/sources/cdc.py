"""Debezium-style CDC envelopes: one spec per entity type, one codec.

The reference runs one topology per ENTITY TYPE — event (3-field output,
EventTransformerStream.java) and animal (4-field output + its own DLQ
reprocessor, AnimalTransformerStream.java) — differing only in schema,
enrichment endpoint and output projection. :class:`EntitySpec` captures
exactly those degrees of freedom, and everything else is shared: the
envelope schema and the source stream's schema derive from the spec
(no Spark job), one synthesizer and one parser serve every table, and
streaming/pipeline.py::build_cdc_pipeline runs the same topology for any
spec (``CdcPipelineConfig.entity``).

The driver test environment has no Kafka broker, so a source table
stands in for the CDC topic (FIXTURES.md §C): each row becomes a change
envelope {after, op[, source]} serialized as JSON in a `value` column —
exactly the shape `from_json` would see after an Avro decode of a real
Debezium topic.

Deterministic synthesis rules (FIXTURES.md §A3 fixture rules), per spec:
- op: 'd' where ``delete_when`` (delete: after=null), 'c' where
  ``insert_when`` (insert), 'u' otherwise
- tombstone (whole value NULL) where ``tombstone_when``
- the reference also rejects after.id == 0 (EventTransformerStream.java:53-58)

Parsing mirrors the reference chain (SURVEY.md §2A #2-#4): tombstone filter
-> from_json decode -> delete skip (after IS NULL) -> id sentinel reject ->
flat `after` projection. All built-in expressions; on a real topic the same
code runs on `readStream.format("kafka")` output unchanged.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.scalars import eval_once, no_pushdown

# The parsed rows' column carrying the original envelope payload, named
# apart from the after-fields (the events entity has one called `value`).
PAYLOAD = "__original"


@dataclass(frozen=True)
class EntitySpec:
    """Everything that differs between the reference's per-entity streams."""

    source_table: str  # table streamed as the change feed
    key_col: str  # bigint source column -> after.id (and the kafka key)
    after_cols: tuple[tuple[str, str, T.DataType], ...]  # (after field, source column, type)
    delete_when: str  # SQL over source cols: rows shipped as op='d'
    insert_when: str  # SQL over source cols: rows shipped as op='c'
    tombstone_when: str  # SQL over source cols: whole-record null value
    dim_table: str
    dim_join: str  # SQL over parsed-after + dim cols
    dim_match_col: str  # dim col whose null marks an enrichment miss
    # ok-sink projection: (alias, SQL expr over parsed-after + dim cols)
    output_cols: tuple[tuple[str, str], ...]

    def source_schema(self) -> T.StructType:
        """The source columns the envelopes are synthesized from."""
        return T.StructType(
            [T.StructField(self.key_col, T.LongType(), True)]
            + [T.StructField(src, typ, True) for _, src, typ in self.after_cols]
        )

    def envelope_schema(self) -> T.StructType:
        """The Debezium change envelope of this entity: before/after
        images, the ``source.table`` routing field, op and ts_ms."""
        after = T.StructType(
            [T.StructField("id", T.LongType(), True)]
            + [T.StructField(name, typ, True) for name, _, typ in self.after_cols]
        )
        source = T.StructType([T.StructField("table", T.StringType(), True)])
        return T.StructType(
            [
                T.StructField("before", after, True),
                T.StructField("after", after, True),
                T.StructField("source", source, True),
                T.StructField("op", T.StringType(), True),
                T.StructField("ts_ms", T.LongType(), True),
            ]
        )


def synthesize_envelopes(
    source: DataFrame,
    spec: EntitySpec,
    corrupt_every: int | None = None,
    source_table_tag: bool = False,
) -> DataFrame:
    """source rows -> (kafka_key, value) JSON change envelopes: deletes
    ship after=null, tombstones ship a null value.

    ``corrupt_every``: if set, every Nth record's payload (by
    ``spec.key_col``) is garbled into non-JSON — the chaos knob for the
    deserialization-failure DLQ path (reference enable-dlq semantics).
    ``source_table_tag``: also stamp the Debezium ``source.table`` field
    (what a multi-table connector puts on every record — the routing key
    for multiplexed consumption, s_cdc_multiplex)."""
    key = F.col(spec.key_col)
    deleted = F.expr(spec.delete_when)
    after = F.when(
        ~deleted,
        F.struct(key.alias("id"), *(F.col(src).alias(name) for name, src, _ in spec.after_cols)),
    )
    op = F.when(deleted, "d").when(F.expr(spec.insert_when), "c").otherwise("u")
    fields = [after.alias("after"), op.alias("op")]
    if source_table_tag:
        fields.insert(0, F.struct(F.lit(spec.source_table).alias("table")).alias("source"))
    envelope = F.to_json(F.struct(*fields))
    if corrupt_every:
        envelope = F.when(
            key % corrupt_every == 0, F.concat(F.lit("CORRUPT<<"), envelope)
        ).otherwise(envelope)
    # eval_once: the parse reads `value` twice (tombstone filter, then
    # from_json); unguarded, Catalyst inlines the alias into both and the
    # to_json codec runs twice per row — see functions/scalars.py
    value = eval_once(
        F.when(F.expr(spec.tombstone_when), F.lit(None).cast("string")).otherwise(envelope)
    )
    return source.select(key.alias("kafka_key"), value.alias("value"))


def parse_envelopes(raw: DataFrame, spec: EntitySpec) -> DataFrame:
    """(kafka_key, value-json) -> (kafka_key, the original payload as
    ``PAYLOAD``, parse_failed, op, the flat after-image fields).

    Tombstones, deletes (after IS NULL) and id==0 sentinels are dropped
    (the reference skips them silently, EventTransformerStream.java:43-58);
    records whose payload fails to DECODE are kept and flagged, for the
    DLQ — the reference's framework-level deserialization DLQ (enable-dlq,
    application.yml:23-31) routes those, it does not drop them. from_json
    yields an all-null struct for malformed JSON (null only for empty
    input), and a real envelope always carries `op` — hence the
    parse_failed rule. Batch readers that want only the after-images
    filter ``~parse_failed``."""
    # eval_once pins the codec to ONE evaluation per row (r18: the
    # inlined alias was parsed up to 6x — once per referencing
    # filter/field); no_pushdown keeps the codec-referencing predicates
    # HERE (above a fan-out exchange) instead of re-expanded below the
    # shuffle at source parallelism — see functions/scalars.py.
    parsed = raw.filter(no_pushdown(F.col("value").isNotNull())).withColumn(
        "envelope", eval_once(F.from_json("value", spec.envelope_schema()))
    )
    parse_failed = F.col("envelope").isNull() | (
        F.col("envelope.op").isNull() & F.col("envelope.after").isNull()
    )
    flagged = parsed.withColumn("parse_failed", parse_failed)
    return flagged.filter(
        no_pushdown(
            F.col("parse_failed")
            | (F.col("envelope.after").isNotNull() & (F.col("envelope.after.id") != 0))
        )
    ).select(
        "kafka_key",
        F.col("value").alias(PAYLOAD),
        "parse_failed",
        F.col("envelope.op").alias("op"),
        F.col("envelope.after.*"),
    )


# -- the reference's two entity types, recast ---------------------------------

EVENTS_ENTITY = EntitySpec(
    source_table="events",
    key_col="event_id",
    after_cols=(
        ("user_id", "user_id", T.LongType()),
        ("event_type", "event_type", T.StringType()),
        ("value", "value", T.DoubleType()),
    ),
    delete_when="event_type = 'error'",
    insert_when="event_type = 'signup'",
    tombstone_when="event_id % 97 = 0",
    dim_table="customer",
    dim_join="user_id = c_custkey",
    dim_match_col="c_custkey",
    output_cols=(
        ("id", "id"),
        ("user_id", "user_id"),
        ("name", "COALESCE(c_name, '')"),
        ("segment", "COALESCE(c_mktsegment, 'UNKNOWN')"),
        ("event_type", "event_type"),
        ("value", "value"),
    ),
)

# The "animal" analog: different source, wider output (acctbal ~ breed).
ORDERS_ENTITY = EntitySpec(
    source_table="orders",
    key_col="o_orderkey",
    after_cols=(
        ("custkey", "o_custkey", T.LongType()),
        ("status", "o_orderstatus", T.StringType()),
        ("totalprice", "o_totalprice", T.DoubleType()),
    ),
    delete_when="o_orderstatus = 'F'",
    insert_when="o_orderstatus = 'O'",
    tombstone_when="o_orderkey % 97 = 0",
    dim_table="customer",
    dim_join="custkey = c_custkey",
    dim_match_col="c_custkey",
    output_cols=(
        ("id", "id"),
        ("custkey", "custkey"),
        ("name", "COALESCE(c_name, '')"),
        ("segment", "COALESCE(c_mktsegment, 'UNKNOWN')"),
        ("acctbal", "c_acctbal"),
        ("totalprice", "totalprice"),
    ),
)
