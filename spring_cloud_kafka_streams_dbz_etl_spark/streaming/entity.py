"""Generic entity CDC pipelines: one spec per table, one topology each.

The reference runs one topology per ENTITY TYPE — event (3-field output,
EventTransformerStream.java) and animal (4-field output + its own DLQ
reprocessor, AnimalTransformerStream.java) — differing only in schema,
enrichment endpoint, and output projection. `EntitySpec` captures exactly
those degrees of freedom so the engine builds the same topology for any
table:

  envelope synth/decode (schema derived from the source table) ->
  tombstone filter -> delete/id-sentinel skip -> broadcast dim join ->
  projection -> dual sink (output + DLQ with original payloads)

`streaming/pipeline.py` keeps the fixed events->customer build the
oracle-checked s_* queries use; this module is the engine-facing
generalization, exercised by its own orders->customer spec
(s_cdc_pipeline_orders: the "animal" analog with an extra dim payload
column, mirroring `breed`).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.scalars import eval_once, no_pushdown
from ..sources.sinks import dimension_reader
from .pipeline import Enrichment, EpochState, _enrich_and_split, resilient_batch


@dataclass(frozen=True)
class EntitySpec:
    """Everything that differs between the reference's per-entity streams."""

    name: str
    source_table: str  # table streamed as the change feed
    key_col: str  # source column -> after.id (and the kafka key)
    after_cols: tuple[tuple[str, str], ...]  # (after field, source column)
    delete_when: str  # SQL over source cols: rows shipped as op='d'
    insert_when: str  # SQL over source cols: rows shipped as op='c'
    tombstone_when: str  # SQL over source cols: whole-record null value
    dim_table: str
    dim_join: str  # SQL over parsed-after + dim cols
    dim_match_col: str  # dim col whose null marks an enrichment miss
    # output projection: (alias, SQL expr over parsed-after + dim cols)
    output_cols: tuple[tuple[str, str], ...] = field(default=())


def entity_after_schema(source: DataFrame, spec: EntitySpec) -> T.StructType:
    """after-struct schema derived from the source table's types."""
    by_name = {f.name: f.dataType for f in source.schema.fields}
    fields = [T.StructField("id", T.LongType(), True)] + [
        T.StructField(after_name, by_name[src_col], True)
        for after_name, src_col in spec.after_cols
    ]
    return T.StructType(fields)


def entity_envelope_schema(source: DataFrame, spec: EntitySpec) -> T.StructType:
    after = entity_after_schema(source, spec)
    return T.StructType(
        [
            T.StructField("before", after, True),
            T.StructField("after", after, True),
            T.StructField("op", T.StringType(), True),
            T.StructField("ts_ms", T.LongType(), True),
        ]
    )


def synthesize_entity_envelopes(
    source: DataFrame, spec: EntitySpec, source_table_tag: bool = False
) -> DataFrame:
    """source rows -> (kafka_key, value) JSON change envelopes, following
    the same fixture rules as the events synthesizer (FIXTURES.md §A3):
    deletes ship after=null, tombstones ship a null value.

    ``source_table_tag``: also stamp the Debezium ``source.table`` field
    (what a multi-table connector puts on every record — the routing key
    for multiplexed consumption, s_cdc_multiplex)."""
    after_fields = [F.col(spec.key_col).alias("id")] + [
        F.col(src).alias(name) for name, src in spec.after_cols
    ]
    after = F.when(~F.expr(spec.delete_when), F.struct(*after_fields))
    op = (
        F.when(F.expr(spec.delete_when), "d")
        .when(F.expr(spec.insert_when), "c")
        .otherwise("u")
    )
    env_fields = [after.alias("after"), op.alias("op")]
    if source_table_tag:
        env_fields.insert(
            0, F.struct(F.lit(spec.source_table).alias("table")).alias("source")
        )
    envelope = F.to_json(F.struct(*env_fields))
    # eval_once: one to_json per row (see sources/cdc.py)
    value = eval_once(
        F.when(F.expr(spec.tombstone_when), F.lit(None).cast("string")).otherwise(envelope)
    )
    return source.select(F.col(spec.key_col).alias("kafka_key"), value.alias("value"))


def parse_entity_envelopes(raw: DataFrame, schema: T.StructType) -> DataFrame:
    """Tombstone filter -> decode -> delete/id-sentinel skip, keeping the
    original payload and a parse_failed flag (same DLQ fidelity rules as
    pipeline._parse_keep_original). The payload is carried as __original
    so after-fields may use ANY name (the events entity has an after field
    literally called `value`)."""
    # eval_once (r18): one from_json per row instead of one per
    # referencing filter/field — see functions/scalars.py
    parsed = raw.filter(no_pushdown(F.col("value").isNotNull())).withColumn(
        "envelope", eval_once(F.from_json("value", schema))
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
        F.col("value").alias("__original"),
        "parse_failed",
        F.col("envelope.after.*"),
    )


def build_entity_pipeline(
    spark: SparkSession,
    spec: EntitySpec,
    sf_dir: str,
    out_path: str,
    dlq_path: str,
    checkpoint: str,
    max_files_per_trigger: int | None = None,
):
    """Returns an unstarted query factory (StreamRegistry-compatible).
    Each epoch runs pipeline.py's epoch body (_enrich_and_split: one
    tagged relation; under the size gate one collect with both sinks
    committed from the driver, above it one persist and two sink
    filters of it), with the dimension re-resolved per micro-batch so
    upserts between epochs are visible. The spec's enrichment columns and
    the sinks' handles are built once, in one EpochState for all epochs."""
    source_batch = spark.read.parquet(f"{sf_dir}/{spec.source_table}.parquet")
    schema = entity_envelope_schema(source_batch, spec)
    load_dim = dimension_reader(spark, f"{sf_dir}/{spec.dim_table}.parquet")
    state = EpochState(
        spark,
        Enrichment(spec.dim_join, spec.dim_match_col, spec.output_cols, payload="__original"),
    )

    reader = spark.readStream.schema(source_batch.schema).option(
        "pathGlobFilter", f"{spec.source_table}.parquet"
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = synthesize_entity_envelopes(reader.parquet(sf_dir), spec)
    parsed = parse_entity_envelopes(raw, schema).observe(
        spec.name, F.count(F.lit(1)).alias("n_parsed")
    )

    def start():
        return (
            parsed.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint)
            .foreachBatch(
                resilient_batch(
                    lambda b, _id: _enrich_and_split(
                        b, load_dim(), out_path, dlq_path, state=state
                    )
                )
            )
            .start()
        )

    return start


# -- predefined specs (the reference's two entity types, recast) -------------

EVENTS_ENTITY = EntitySpec(
    name="events",
    source_table="events",
    key_col="event_id",
    after_cols=(
        ("user_id", "user_id"),
        ("event_type", "event_type"),
        ("value", "value"),
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
    name="orders",
    source_table="orders",
    key_col="o_orderkey",
    after_cols=(
        ("custkey", "o_custkey"),
        ("status", "o_orderstatus"),
        ("totalprice", "o_totalprice"),
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
