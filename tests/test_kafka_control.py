"""Kafka control-plane math + builder options — broker-free evidence.

The sandbox has no broker (and no spark-sql-kafka artifact), so the Kafka
path's *logic* is pinned here: per-partition lag computed from a
synthesized checkpoint offset log exactly shaped like a Kafka source's
(KafkaOffsetService.java:31-56 semantics), and the reader/writer option
assembly (application.yml:38-45 bindings, CLAUDE.md:148-153 producer
profiles). KAFKA.md documents the live smoke recipe against the
reference's docker-compose topology.
"""

from __future__ import annotations

import json
import os

from spring_cloud_kafka_streams_dbz_etl_spark.sources.streams import (
    kafka_sink_options,
    kafka_source_options,
)
from spring_cloud_kafka_streams_dbz_etl_spark.streaming.registry import StreamRegistry


def _write_offsets_log(ckpt: str, batch: int, offsets: dict) -> None:
    """Shape of Spark's OffsetSeqLog entries: version line, metadata JSON,
    then one offset JSON per source."""
    d = os.path.join(ckpt, "offsets")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, str(batch)), "w") as fh:
        fh.write("v1\n")
        fh.write(json.dumps({"batchWatermarkMs": 0, "batchTimestampMs": 0}) + "\n")
        fh.write(json.dumps(offsets) + "\n")


def _commit(ckpt: str, batch: int) -> None:
    d = os.path.join(ckpt, "commits")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, str(batch)), "w") as fh:
        fh.write("v1\n{}")


def test_partition_lag_from_kafka_checkpoint(tmp_path):
    """committed = offsets of the last committed batch; end = offsets of
    the newest planned batch; lag = end - committed per partition."""
    ckpt = str(tmp_path / "ckpt")
    _write_offsets_log(ckpt, 0, {"dbserver1.public.event": {"0": 100, "1": 50}})
    _write_offsets_log(ckpt, 1, {"dbserver1.public.event": {"0": 180, "1": 90}})
    _commit(ckpt, 0)

    reg = StreamRegistry()
    reg.register("cdc", builder=lambda: None, checkpoint=ckpt, auto_start=False)
    info = reg.offsets("cdc")
    assert info["committedBatch"] == 0 and info["endBatch"] == 1 and info["lag"] == 1
    assert info["partitionOffsets"] == [
        {"topic": "dbserver1.public.event", "partition": 0,
         "committedOffset": 100, "endOffset": 180, "lag": 80},
        {"topic": "dbserver1.public.event", "partition": 1,
         "committedOffset": 50, "endOffset": 90, "lag": 40},
    ]


def test_partition_lag_no_commits_yet(tmp_path):
    ckpt = str(tmp_path / "ckpt")
    _write_offsets_log(ckpt, 0, {"t": {"0": 7}})
    reg = StreamRegistry()
    reg.register("cdc", builder=lambda: None, checkpoint=ckpt, auto_start=False)
    info = reg.offsets("cdc")
    assert info["partitionOffsets"] == [
        {"topic": "t", "partition": 0, "committedOffset": None,
         "endOffset": 7, "lag": 7}
    ]


def test_file_source_offsets_not_kafka_shaped(tmp_path):
    """The file source logs {"logOffset": N} — no partitionOffsets row."""
    ckpt = str(tmp_path / "ckpt")
    _write_offsets_log(ckpt, 0, {"logOffset": 2})
    _commit(ckpt, 0)
    reg = StreamRegistry()
    reg.register("cdc", builder=lambda: None, checkpoint=ckpt, auto_start=False)
    assert "partitionOffsets" not in reg.offsets("cdc")


def test_kafka_source_options_shape():
    opts = kafka_source_options(
        "kafka:9092", "dbserver1.public.event",
        starting_offsets=json.dumps({"dbserver1.public.event": {"0": 42}}),
        max_offsets_per_trigger=10,
    )
    assert opts["subscribe"] == "dbserver1.public.event"
    assert opts["kafka.bootstrap.servers"] == "kafka:9092"
    assert json.loads(opts["startingOffsets"]) == {"dbserver1.public.event": {"0": 42}}
    # the DLQ stream's max.poll.records:10 analogue (application.yml:36)
    assert opts["maxOffsetsPerTrigger"] == "10"
    assert opts["failOnDataLoss"] == "false"


def test_kafka_sink_options_producer_passthrough():
    opts = kafka_sink_options(
        "kafka:9092", "event-details", "/ckpt",
        # high-throughput profile (README.md:163-171)
        producer_conf={"batch.size": 65536, "linger.ms": 200,
                       "compression.type": "lz4"},
    )
    assert opts["topic"] == "event-details"
    assert opts["checkpointLocation"] == "/ckpt"
    assert opts["kafka.batch.size"] == "65536"
    assert opts["kafka.linger.ms"] == "200"
    assert opts["kafka.compression.type"] == "lz4"


def test_reset_offsets_specific_through_python_source(spark, sf_smoke, tmp_path):
    """VERDICT r05 #6 — §2A #19 proven against the Python connector: the
    registry's specific-offset reset hands a startingOffsets partition
    map to the rebuilt kafka_transcript reader, so the restarted query
    reprocesses exactly the records at-or-after the map (the
    resetOffsetsToSpecific semantics, StreamControlService.java:143-178),
    and reset-to-earliest afterwards reprocesses everything."""
    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.sources.kafka_replay import (
        record_kafka_transcript,
    )
    from spring_cloud_kafka_streams_dbz_etl_spark.sources.pysource import (
        register_kafka_transcript_source,
    )

    topic = str(tmp_path / "topic")
    ckpt = str(tmp_path / "ckpt")
    ev = spark.read.parquet(f"{sf_smoke}/events.parquet").limit(40)
    record_kafka_transcript(ev, topic, n_partitions=2)
    register_kafka_transcript_source(spark)

    outs: list[str] = []  # one fresh sink dir per (re)start

    def builder(starting_offsets: str | None = None):
        out = str(tmp_path / f"out_{len(outs)}")
        outs.append(out)
        reader = spark.readStream.format("kafka_transcript").option("path", topic)
        if starting_offsets is not None:
            reader = reader.option("startingOffsets", starting_offsets)
        return (
            reader.load()
            .selectExpr("partition", "offset")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    reg = StreamRegistry()
    reg.register("pysrc", builder, checkpoint=ckpt)
    reg.process_available("pysrc")
    first = spark.read.parquet(outs[0])
    n_total = first.count()
    assert n_total == 40
    ends = {
        int(r["partition"]): int(r["mx"]) + 1
        for r in first.groupBy("partition").agg(F.max("offset").alias("mx")).collect()
    }

    # specific: restart from {p0: 5, p1: 7} -> exactly the tail arrives
    res = reg.reset_offsets("pysrc", to={"0": 5, "1": 7})
    assert res["restarted"] is True
    reg.process_available("pysrc")
    got = {
        (int(r["partition"]), int(r["offset"]))
        for r in spark.read.parquet(outs[1]).collect()
    }
    want = {(0, o) for o in range(5, ends[0])} | {(1, o) for o in range(7, ends[1])}
    assert got == want

    # earliest afterwards: the pending map is cleared, full reprocess
    res = reg.reset_offsets("pysrc", to="earliest")
    reg.process_available("pysrc")
    assert spark.read.parquet(outs[2]).count() == n_total
    reg.stop("pysrc")


def test_reset_offsets_specific_requires_capable_builder(tmp_path):
    """A pending partition-map reset on a builder without the
    starting_offsets kwarg must fail loudly, not silently reprocess."""
    import pytest

    reg = StreamRegistry()
    reg.register(
        "fixed", lambda: None, checkpoint=str(tmp_path / "ck"), auto_start=False
    )
    reg.reset_offsets("fixed", to={"0": 3})  # not running -> no restart
    with pytest.raises(ValueError, match="starting_offsets"):
        reg.start("fixed")
