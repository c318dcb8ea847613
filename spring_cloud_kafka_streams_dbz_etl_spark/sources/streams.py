"""Streaming sources: file-backed micro-batch streams + Kafka builders.

The driver environment has no Kafka broker, so streaming paths are driven
by the file source (`readStream.parquet`) over the same testdata — the
micro-batch planner, state store, checkpointing, and sink semantics are
identical to a Kafka-fed query; only the source offsets differ (file batch
ids vs topic offsets). The Kafka builders below produce the production
readers and are import-tested only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# On-disk schema of events.parquet. The table stores parquet
# TIMESTAMP(NANOS), which Spark 4.1 reads natively as TIMESTAMP_NTZ
# truncated to micros (same truncation DuckDB applies). Declaring any
# other type here would make the source CAST the decoded timestamp —
# LongType, for instance, yields epoch SECONDS and silently destroys
# event time for every watermark downstream.
EVENTS_FILE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampNTZType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def stream_events(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """`events` as a streaming DataFrame (stand-in for the CDC topic).

    `maxFilesPerTrigger` is the file-source analogue of the reference's
    `max.poll.records` throttle (application.yml:36) / Kafka
    `maxOffsetsPerTrigger`.
    """
    # The streaming file source needs a directory; point it at sf_dir and
    # glob-filter to the events table file(s). The wildcard admits
    # multi-file test layouts (events.parquet, events2.parquet, ...) so
    # later-arriving files become later micro-batches.
    reader = (
        spark.readStream.schema(EVENTS_FILE_SCHEMA)
        .option("pathGlobFilter", "events*.parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # Decode as NTZ (the file's physical type), then cast to TIMESTAMP_LTZ:
    # `withWatermark` rejects NTZ event time (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE)
    # and the session tz is pinned UTC (session.tune), so the cast is
    # value-preserving — same pattern as operators/temporal.py sessionize.
    return reader.parquet(sf_dir).withColumn("ts", F.col("ts").cast("timestamp"))


def stream_parquet_dir(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Generic parquet-dir stream (used for DLQ reprocessing)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def kafka_source_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """Reader options for the CDC source, assembled as data so they are
    unit-testable without a broker (the sandbox has none). Mirrors the
    reference's consumer bindings (application.yml:38-44): subscribe +
    earliest default + the max.poll.records throttle analogue."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "false",
    }
    if max_offsets_per_trigger:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_cdc_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Production CDC source (reference §2A #1): subscribe to a Debezium
    topic. Returns raw (key, value) binary columns; decode with
    `confluent_avro_value` (spark-avro) or the built-in pure-Python codec
    (sources/avro_codec.py) downstream. Needs the spark-sql-kafka package
    on the classpath — see KAFKA.md for the smoke recipe against the
    reference's docker-compose topology.
    """
    reader = spark.readStream.format("kafka")
    for k, v in kafka_source_options(
        bootstrap_servers, topic, starting_offsets, max_offsets_per_trigger
    ).items():
        reader = reader.option(k, v)
    return reader.load()


def kafka_raw_envelope_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
):
    """Zero-arg factory adapting :func:`kafka_cdc_source` to the CDC
    pipeline's raw contract (kafka_key long, value json-string) — pass as
    ``CdcPipelineConfig.raw_source`` to run the EXACT sandbox topology
    against a real broker (env-gated proof:
    tests/test_kafka_integration.py; reference wire:
    application.yml:38-45 consumer bindings). Keys are the long ids the
    transcript/file paths use, UTF-8 on the wire."""

    def source() -> DataFrame:
        return kafka_cdc_source(
            spark, bootstrap_servers, topic, starting_offsets, max_offsets_per_trigger
        ).select(
            F.col("key").cast("string").cast("long").alias("kafka_key"),
            F.col("value").cast("string").alias("value"),
        )

    return source


def jdbc_dimension_options(
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    fetchsize: int = 1000,
    driver: str | None = None,
) -> dict[str, str]:
    """Reader options for a JDBC dimension table, assembled as data so
    they are unit-testable without a database (same pattern as
    :func:`kafka_source_options`).

    The reference's dimension source of truth is Postgres via JPA
    (app/src/main/java/com/example/app/repository/EventRepository.java:6,
    SURVEY §1.4 "JDBC read or parquet dimension table"); this is the
    JDBC half of that mapping — the parquet/versioned-store half lives
    in sources/sinks.py.

    Scale notes: ``partition_column``/bounds/``num_partitions`` stripe
    the dimension scan into N concurrent range queries (without them a
    JDBC read is ONE executor task — fine for a 25-row region dim,
    wrong for a 10^8-row customer dim); ``fetchsize`` bounds row
    round-trips per cursor fetch. All four must be set together or not
    at all (Spark requires the full partitioning quad).
    """
    opts = {"url": url, "dbtable": table, "fetchsize": str(fetchsize)}
    if driver:
        opts["driver"] = driver
    quad = (partition_column, lower_bound, upper_bound, num_partitions)
    if any(v is not None for v in quad):
        if any(v is None for v in quad):
            raise ValueError(
                "partition_column, lower_bound, upper_bound and "
                "num_partitions must be set together"
            )
        opts.update(
            partitionColumn=str(partition_column),
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    return opts


def jdbc_dimension(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    fetchsize: int = 1000,
    driver: str | None = None,
) -> DataFrame:
    """Dimension table over JDBC (reference §2A #22's source of truth;
    VERDICT r12 ask #5). Returns a plain DataFrame suitable for the
    size-aware broadcast join in streaming/pipeline.py.

    Filters and column pruning push into the generated SQL
    (``PushedFilters``/``ReadSchema`` on the JDBCRelation scan — pinned
    in tests/test_jdbc_dim.py against Spark's bundled embedded Derby,
    so the plan shape is proven without a live Postgres)."""
    reader = spark.read.format("jdbc")
    for k, v in jdbc_dimension_options(
        url,
        table,
        partition_column,
        lower_bound,
        upper_bound,
        num_partitions,
        fetchsize,
        driver,
    ).items():
        reader = reader.option(k, v)
    return reader.load()


def confluent_avro_value(value: F.Column, avro_schema_json: str) -> F.Column:
    """Decode a Confluent-framed Avro value column (§2A #2).

    The Confluent wire format prefixes each payload with 1 magic byte +
    4-byte schema id; strip 5 bytes then `from_avro`. Requires the
    spark-avro artifact on the classpath — gated so environments without
    it (like this container) fail only when actually used.
    """
    try:
        from pyspark.sql.avro.functions import from_avro
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError(
            "from_avro requires the spark-avro package on the Spark classpath"
        ) from exc
    payload = F.substring(value, 6, 2147483647)  # skip magic byte + schema id
    return from_avro(payload, avro_schema_json)


def kafka_sink_options(
    bootstrap_servers: str,
    topic: str,
    checkpoint: str,
    producer_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """Writer options for the Kafka sink; ``producer_conf`` passes through
    the reference's producer tuning knobs (batch.size / linger.ms /
    compression.type profiles, CLAUDE.md:148-153) as ``kafka.*`` options."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
        "checkpointLocation": checkpoint,
    }
    for k, v in (producer_conf or {}).items():
        opts[f"kafka.{k}"] = str(v)
    return opts


def kafka_sink_writer(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint: str,
    producer_conf: dict[str, str] | None = None,
):
    """Production Kafka sink (§2A #14): expects `key`/`value` binary/string
    columns; at-least-once with checkpointed offsets (reference
    processing.guarantee default, CLAUDE.md:157-159)."""
    writer = df.writeStream.format("kafka")
    for k, v in kafka_sink_options(
        bootstrap_servers, topic, checkpoint, producer_conf
    ).items():
        writer = writer.option(k, v)
    return writer
