"""CDC enrichment pipelines (the reference's topologies, vectorized).

Reference topology (SURVEY.md §3.1): CDC topic -> tombstone filter ->
envelope `after` extraction -> per-record REST enrichment -> branch
success/failure -> {output topic, DLQ topic}. The reference runs one such
topology per entity type; here ONE builder, :func:`build_cdc_pipeline`,
runs it for any sources/cdc.py::EntitySpec (``CdcPipelineConfig.entity``:
the events spec by default, the orders spec for the "animal" analog), and
the DLQ reprocess stream is the same builder over the DLQ directory. Each
micro-batch runs one broadcast join against the dimension and a dual
parquet/Kafka write inside ``foreachBatch`` — per-record failures become
join misses tagged on rows (never thrown), exactly mirroring the
reference's EnrichResult tagging (AnimalTransformerStream.java:30,36-53).

Failure semantics parity:
- DLQ rows keep the ORIGINAL envelope payload, not the half-parsed row
  (AnimalTransformerStream.java:55-59 unwraps EnrichResult::original).
- The DLQ reprocess stream is a second, independently checkpointed query
  over the DLQ directory with a throttle (max.poll.records:10 analogue)
  and auto_start=False (application.yml:49-56), started/stopped on demand
  via StreamRegistry.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.cdc import (
    EVENTS_ENTITY,
    PAYLOAD,
    EntitySpec,
    parse_envelopes,
    synthesize_envelopes,
)
from ..sources.sinks import dimension_reader
from ..sources.streams import stream_parquet_dir

# DLQ rows are original payloads + failure context (key, value, reason).
DLQ_SCHEMA = T.StructType(
    [
        T.StructField("kafka_key", T.LongType(), True),
        T.StructField("value", T.StringType(), True),
        T.StructField("reason", T.StringType(), True),
    ]
)

ENRICHED_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("segment", T.StringType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
    ]
)


@dataclass
class CdcPipelineConfig:
    sf_dir: str
    out_path: str
    dlq_path: str
    checkpoint: str
    dim_filter: str | None = None  # simulate broken enrichment (DLQ tests)
    max_files_per_trigger: int | None = None
    corrupt_every: int | None = None  # garble every Nth payload (deser-DLQ tests)
    idempotent: bool = False  # batch-id-keyed sinks a replayed epoch rewrites (exactly-once)
    # Optional source override: a zero-arg callable returning the raw
    # (kafka_key, value-json) streaming DataFrame. This is how the SAME
    # topology (parse -> enrich -> split -> dual sink) runs against a real
    # broker: pass sources.streams.kafka_raw_envelope_source(...) here
    # (see tests/test_kafka_integration.py). None = the sandbox's
    # file-source stand-in over sf_dir.
    raw_source: "Callable[[], DataFrame] | None" = None
    # Optional dimension override: a zero-arg callable returning the
    # enrichment dimension, re-invoked PER MICRO-BATCH (the reference's
    # always-fresh JPA lookup, §2A #22). This is how the topology runs
    # against the reference's actual source of truth — a JDBC database:
    # pass lambda: sources.streams.jdbc_dimension(spark, url, table, ...)
    # (proven against embedded Derby in tests/test_jdbc_dim.py). None =
    # the versioned parquet dimension store over sf_dir.
    dim_source: "Callable[[], DataFrame] | None" = None
    # The entity type the topology carries: its source table under sf_dir,
    # envelope, dimension and ok-sink projection (sources/cdc.py).
    entity: EntitySpec = EVENTS_ENTITY


def resilient_batch(fn):
    """Wrap a foreachBatch body: retry up to 3x when an input path
    vanishes between path resolution and execution-time file listing.
    With the dimension's immutable-version layout
    (sources/sinks.py::_commit_version) this is a belt-and-suspenders
    guard — the only remaining window is a version dir pruned while a
    micro-batch that resolved it two upserts ago is still running; the
    retry re-resolves the dimension. (No isEmpty() pre-check: that action
    re-executes the micro-batch's source and codec on EVERY data batch, a
    worse cost than letting the rare empty batch run a no-op join.)

    Delivery contract: a failed attempt commits nothing. On either side
    of the size gate (_enrich_and_split) both sinks' parts are staged
    under hidden names and renamed into place only after both are
    written (sources/sinks.py::commit_parts); a failure before the
    renames deletes the staged parts, so the retry commits each sink
    exactly once. Idempotent mode also makes a checkpoint replay of a
    published epoch safe (batch-id-keyed partitions that the replay
    replaces)."""

    def wrapped(batch: DataFrame, batch_id: int) -> None:
        import time as _time

        last: Exception | None = None
        for _ in range(3):
            try:
                return fn(batch, batch_id)
            except Exception as exc:
                msg = str(exc)
                if (
                    "FileNotFoundException" not in msg
                    and "does not exist" not in msg
                    and "PATH_NOT_FOUND" not in msg
                ):
                    raise
                last = exc
                _time.sleep(0.2)
        raise last

    return wrapped


class EpochState:
    """What every epoch of one pipeline shares, built once per pipeline
    and handed to each epoch's :func:`_enrich_and_split`:

    - per pipeline: the Column objects of the entity ``spec``'s
      enrichment (the join condition, the ``reason`` tag, the ok and DLQ
      projections and the positional collect projection of the driver
      path, which both sides of the size gate share) and the sinks'
      Hadoop handles (sources/sinks.py::SinkHandles). Columns need a live
      session, and sessions restart within one JVM, so they are never
      built at import;
    - per dimension: the ok and DLQ sink schemas, derived again only
      when the epoch's dimension is another DataFrame object than the
      last one's (``dimension_reader`` returns a new one per version, or
      per rewrite of a static dimension). Every batch of one pipeline
      carries its stream's schema, so the dimension is all that moves
      them."""

    def __init__(self, spark: SparkSession, spec: EntitySpec) -> None:
        from ..sources.sinks import SinkHandles

        self.join = F.expr(spec.dim_join)
        self.reason = F.when(F.col("parse_failed"), F.lit("parse_error")).when(
            F.col(spec.dim_match_col).isNull(), F.lit("enrichment_miss")
        )
        self.is_ok = F.col("reason").isNull()
        self.is_bad = F.col("reason").isNotNull()
        self.ok_cols = [F.expr(expr).alias(alias) for alias, expr in spec.output_cols]
        self.bad_cols = [F.col("kafka_key"), F.col(PAYLOAD).alias("value"), F.col("reason")]
        # positional names: an ok column may share its name with a DLQ
        # one; ok rows ship no payload (it is only ever written to the DLQ)
        payload = F.when(self.is_bad, F.col(PAYLOAD))
        self.collected = [
            c.alias(f"_{i}")
            for i, c in enumerate([*self.ok_cols, F.col("kafka_key"), payload, F.col("reason")])
        ]
        self.sinks = SinkHandles(spark)
        self._dim: DataFrame | None = None
        self._schemas: tuple[T.StructType, T.StructType] | None = None

    def split(self, tagged: DataFrame) -> tuple[DataFrame, DataFrame]:
        """The ok and the DLQ side of the tagged relation."""
        return (
            tagged.filter(self.is_ok).select(*self.ok_cols),
            tagged.filter(self.is_bad).select(*self.bad_cols),
        )

    def schemas(self, tagged: DataFrame, dim: DataFrame) -> tuple[T.StructType, T.StructType]:
        """The ok and DLQ sink schemas of ``tagged``, the epoch's batch
        joined to ``dim``: analyzed once per dimension object, compared by
        identity against the kept reference (never by ``id()``, which a
        freed object's successor may reuse)."""
        if self._dim is not dim:
            ok, bad = self.split(tagged)
            self._dim, self._schemas = dim, (ok.schema, bad.schema)
        return self._schemas


def _enrich_and_split(
    batch: DataFrame,
    dim: DataFrame,
    out_path: str,
    dlq_path: str,
    state: EpochState,
    batch_id: int | None = None,
    idempotent: bool = False,
) -> None:
    """foreachBatch body: ONE relation per epoch — the parsed batch LEFT
    JOIN the dimension, tagged with a ``reason`` (NULL, 'parse_error' or
    'enrichment_miss'); the ok sink takes its untagged rows, the DLQ the
    tagged ones. Decode failures carry a NULL join key, so they never
    match and ride the same join. Catalyst broadcasts the dimension when
    its size estimate is under autoBroadcastJoinThreshold.

    What is built when: the caller makes one :class:`EpochState` per
    pipeline (the entity's enrichment Column objects, the sinks' Hadoop
    handles) and passes it as ``state``; the sink schemas are derived once
    per dimension version; per epoch this body builds only the tagged
    relation over the epoch's batch, reads the size gate and moves the
    epoch's rows.

    Two ways to materialize the sinks' parts, one commit. An epoch the
    driver can hold (the batch's size estimate passes
    catalog.driver_sized_bytes — a one-file live epoch measured about
    3 KB) runs as ONE Spark execution: the relation, projected to the ok
    columns plus the DLQ key and payload, is collected once as Arrow and
    split on ``reason IS NULL`` on the driver, and each sink's part is
    one parquet file written through the Hadoop FileSystem. The parts
    read back exactly like Spark-written ones (same schema in the footer;
    a schema-only part for an empty side). Larger batches, and batches
    whose plan reports no size (a backfill, the JVM Kafka source),
    persist the relation once MEMORY_AND_DISK, and Spark writes the two
    sinks' parts as filters of it. Either way both parts are staged and
    then renamed into place (sources/sinks.py::commit_parts), so a failed
    attempt leaves nothing visible.

    Default delivery is at-least-once on checkpoint replay (a replayed
    epoch appends again) — matching the reference's processing.guarantee
    default (CLAUDE.md:157-159); `idempotent=True` upgrades both sinks to
    batch-id-keyed ``_batch_id=<N>`` partitions that a replayed epoch
    swaps in place — effective exactly-once. The remaining at-least-once
    mitigations stay documented: downstream key+version dedup
    (q_window_rank / s_dedup_stream); s_offset_reset proves the
    replay-duplicate semantics end-to-end. Both DLQ reasons keep the
    ORIGINAL payload (reference parity: deserialization DLQ is
    framework-level, enrichment DLQ is explicit — application.yml:23-31 /
    AnimalTransformerStream.java:55-59)."""
    from pyspark import StorageLevel

    from ..catalog import driver_sized_bytes
    from ..sources.sinks import commit_parts

    tagged = batch.join(dim, state.join, "left").withColumn("reason", state.reason)
    ok_schema, bad_schema = state.schemas(tagged, dim)
    spark_path = driver_sized_bytes(batch) is None
    if spark_path:
        # MEMORY_AND_DISK (not cache/MEMORY_ONLY): eviction must spill,
        # never recompute — a recompute in the SECOND sink write would
        # re-run the codec and re-read the dimension
        tagged.persist(StorageLevel.MEMORY_AND_DISK)
        ok, bad = state.split(tagged)
    else:
        import pyarrow.compute as pc

        rows = tagged.select(*state.collected).toArrow()
        n = len(state.ok_cols)
        untagged = pc.is_null(rows.column(n + 2))
        ok = rows.filter(untagged).select(range(n))
        bad = rows.filter(pc.invert(untagged)).select(range(n, n + 3))
    try:
        commit_parts(
            [(ok, ok_schema, out_path), (bad, bad_schema, dlq_path)],
            (batch_id or 0) if idempotent else None,
            state.sinks,
        )
    finally:
        if spark_path:
            tagged.unpersist()


def build_cdc_pipeline(spark: SparkSession, cfg: CdcPipelineConfig):
    """The CDC enrichment stream (§2A #1-#14) of the entity type
    ``cfg.entity``. Returns an unstarted writer factory for StreamRegistry
    (so start/stop/reset own the lifecycle and checkpoint).

    Source: ``cfg.raw_source`` when given (a real broker's
    (kafka_key, value-json) records), else the file-source stand-in — the
    spec's source table files under ``cfg.sf_dir``
    (``<source_table>*.parquet``, so later-arriving files become later
    micro-batches), read with the spec's source schema and synthesized
    into envelopes. Building runs no Spark job: every schema comes from
    the spec.

    An epoch the driver can hold (a live one-file epoch, a replay epoch
    of a few files) runs two Spark jobs: the dimension's broadcast and
    the one collect of the tagged relation, whose rows both sinks are
    committed from on the driver (_enrich_and_split). A larger epoch, or
    one whose source reports no size (the JVM Kafka source), runs four:
    the broadcast, the tagged persist and the two sink writes. The codec
    runs at the source's own parallelism — a Kafka topic's partitions, a
    file source's files and row groups — with no pre-codec shuffle.

    The dimension is re-resolved PER MICRO-BATCH, matching the reference's
    always-fresh REST lookup (§2A #22: CRUD upserts on the dimension are
    visible to the next batch). The reader lists the dimension each
    epoch and re-reads only when its newest version, or for a static dim
    its files, changed (sources/sinks.py::dimension_reader);
    ``cfg.dim_source`` callables are read every epoch.

    Built once here, per pipeline: the reader, the parse, and the
    :class:`EpochState` every epoch shares (the enrichment's columns,
    the sinks' Hadoop handles). Per dimension version: the DataFrame the
    reader returns, its ``cfg.dim_filter`` view, and the sink schemas.
    Per epoch: the listing of the dimension, the tagged relation over
    the epoch's batch, and its rows."""
    spec = cfg.entity
    read_dim = cfg.dim_source or dimension_reader(
        spark, f"{cfg.sf_dir}/{spec.dim_table}.parquet"
    )
    state = EpochState(spark, spec)
    # (dimension read, its filtered view): one view per dimension object,
    # so the epoch state's schema memo sees one object per version too
    filtered: list = [None, None]

    def load_dim():
        # With cfg.dim_source the resolver is the caller's (e.g. a JDBC
        # read against the reference's Postgres source of truth) — still
        # per-batch, so upstream CRUD writes are visible to the next
        # micro-batch.
        dim = read_dim()
        if not cfg.dim_filter:
            return dim
        if filtered[0] is not dim:
            filtered[:] = [dim, dim.filter(cfg.dim_filter)]
        return filtered[1]

    if cfg.raw_source is not None:
        # Real-broker path: the caller's source already yields
        # (kafka_key, value-json) records; everything downstream —
        # parse, DLQ flagging, enrichment, split, sinks — is identical.
        raw = cfg.raw_source()
    else:
        # maxFilesPerTrigger: the file-source analogue of the reference's
        # max.poll.records throttle (application.yml:36)
        reader = spark.readStream.schema(spec.source_schema()).option(
            "pathGlobFilter", f"{spec.source_table}*.parquet"
        )
        if cfg.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", cfg.max_files_per_trigger)
        raw = synthesize_envelopes(reader.parquet(cfg.sf_dir), spec, cfg.corrupt_every)
    # The reference's peek()/log side-channel (§2A #13) as observe()
    # metrics: per-batch counts surface in query.lastProgress without
    # touching the data path (no extra action, no caching).
    parsed = parse_envelopes(raw, spec).observe("cdc", F.count(F.lit(1)).alias("n_parsed"))

    def start():
        return (
            parsed.writeStream.outputMode("append")
            .option("checkpointLocation", cfg.checkpoint)
            .foreachBatch(
                resilient_batch(
                    lambda b, bid: _enrich_and_split(
                        b, load_dim(), cfg.out_path, cfg.dlq_path, state,
                        batch_id=bid, idempotent=cfg.idempotent,
                    )
                )
            )
            .start()
        )

    return start


def build_dlq_reprocess(
    spark: SparkSession,
    dlq_path: str,
    repair_sf_dir: str,
    out_path: str,
    checkpoint: str,
    throttle_files: int = 1,
):
    """DLQ reprocessing stream (§2A #15): :func:`build_cdc_pipeline` over
    the DLQ directory as its raw source, read ``throttle_files`` files per
    epoch. It re-parses the ORIGINAL payloads, enriches against the repair
    dimension (the reference's repair URL -> here the unbroken dim), and
    appends recovered records to the output; misses stay in a dead-letter
    parquet next to it (reprocessing can itself fail). Independently
    checkpointed -> resumes from its own committed position after
    stop/start (DlqPipelineIT.java:128-170 semantics)."""
    cfg = CdcPipelineConfig(
        sf_dir=repair_sf_dir,
        out_path=out_path,
        dlq_path=out_path + "_dlq",
        checkpoint=checkpoint,
        raw_source=lambda: stream_parquet_dir(spark, dlq_path, DLQ_SCHEMA, throttle_files),
    )
    return build_cdc_pipeline(spark, cfg)
