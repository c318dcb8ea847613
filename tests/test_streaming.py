"""Streaming control-plane tests mirroring the reference's E2E scenarios
(SURVEY.md §5): CDC flow, DLQ fail/reprocess/stop, offset/lifecycle control.
"""

from __future__ import annotations

import contextlib
import os
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from spring_cloud_kafka_streams_dbz_etl_spark.streaming.pipeline import (
    CdcPipelineConfig,
    DLQ_SCHEMA,
    ENRICHED_SCHEMA,
    build_cdc_pipeline,
    build_dlq_reprocess,
)
from spring_cloud_kafka_streams_dbz_etl_spark.streaming.export import (
    manual_export,
    parse_export_payload,
)
from spring_cloud_kafka_streams_dbz_etl_spark.streaming.registry import StreamRegistry


def _tmp(kind: str) -> str:
    return tempfile.mkdtemp(prefix=f"scksde_test_{kind}_{uuid.uuid4().hex[:6]}_")


@pytest.fixture()
def dlq_setup(spark, sf_smoke):
    """Main pipeline with broken dim (even custkeys only) run to completion."""
    out, dlq, ckpt = _tmp("out"), _tmp("dlq"), _tmp("ckpt")
    cfg = CdcPipelineConfig(
        sf_dir=sf_smoke,
        out_path=out,
        dlq_path=dlq,
        checkpoint=ckpt,
        dim_filter="c_custkey % 2 = 0",
    )
    reg = StreamRegistry()
    reg.register("main", build_cdc_pipeline(spark, cfg), checkpoint=ckpt)
    reg.process_available("main")
    reg.stop("main")
    return reg, out, dlq


def test_cdc_stream_lifecycle_and_offsets(spark, sf_smoke):
    out, dlq, ckpt = _tmp("out"), _tmp("dlq"), _tmp("ckpt")
    cfg = CdcPipelineConfig(sf_dir=sf_smoke, out_path=out, dlq_path=dlq, checkpoint=ckpt)
    reg = StreamRegistry()
    reg.register("main", build_cdc_pipeline(spark, cfg), checkpoint=ckpt)

    st = reg.status("main")
    assert st["running"] and st["state"] == "RUNNING" and st["applicationId"]

    reg.process_available("main")
    # observe() metrics surface through status (peek/log parity, §2A #13)
    st = reg.status("main")
    observed = st.get("observedMetrics") or {}
    assert observed.get("cdc", {}).get("n_parsed", 0) > 0, st
    offs = reg.offsets("main")
    assert offs["endBatch"] is not None
    assert offs["committedBatch"] == offs["endBatch"]
    assert offs["lag"] == 0

    st = reg.stop("main")
    assert not st["running"] and st["state"] == "NOT_RUNNING"

    # output matches the batch-computed expectation
    got = spark.read.schema(ENRICHED_SCHEMA).parquet(out).count()
    ev = spark.read.parquet(f"{sf_smoke}/events.parquet")
    expected = ev.filter(
        "event_id % 97 != 0 AND event_type != 'error' AND event_id != 0"
    ).count()
    assert got == expected


def test_offset_reset_earliest_reprocesses(spark, sf_smoke):
    out, dlq, ckpt = _tmp("out"), _tmp("dlq"), _tmp("ckpt")
    cfg = CdcPipelineConfig(sf_dir=sf_smoke, out_path=out, dlq_path=dlq, checkpoint=ckpt)
    reg = StreamRegistry()
    reg.register("main", build_cdc_pipeline(spark, cfg), checkpoint=ckpt)
    reg.process_available("main")
    n1 = spark.read.schema(ENRICHED_SCHEMA).parquet(out).count()

    res = reg.reset_offsets("main", to="earliest")
    assert res["restarted"]
    assert res["previousOffsets"]["committedBatch"] is not None
    reg.process_available("main")
    reg.stop("main")

    # earliest reset -> full reprocess -> output doubled (at-least-once)
    n2 = spark.read.schema(ENRICHED_SCHEMA).parquet(out).count()
    assert n2 == 2 * n1


def test_offset_reset_latest_resumes(spark, sf_smoke):
    out, dlq, ckpt = _tmp("out"), _tmp("dlq"), _tmp("ckpt")
    cfg = CdcPipelineConfig(sf_dir=sf_smoke, out_path=out, dlq_path=dlq, checkpoint=ckpt)
    reg = StreamRegistry()
    reg.register("main", build_cdc_pipeline(spark, cfg), checkpoint=ckpt)
    reg.process_available("main")
    n1 = spark.read.schema(ENRICHED_SCHEMA).parquet(out).count()

    res = reg.reset_offsets("main", to="latest")
    reg.process_available("main")
    reg.stop("main")
    n2 = spark.read.schema(ENRICHED_SCHEMA).parquet(out).count()
    assert n2 == n1  # resumed at committed position: nothing reprocessed
    assert res["newOffsets"]["committedBatch"] == res["previousOffsets"]["committedBatch"]


def test_dlq_split_preserves_original_payload(spark, dlq_setup):
    _, out, dlq = dlq_setup
    bad = spark.read.schema(DLQ_SCHEMA).parquet(dlq)
    rows = bad.collect()
    assert rows, "broken dim must produce DLQ records"
    assert all(r.reason == "enrichment_miss" for r in rows)
    # original envelope payload intact (parseable JSON with after.id)
    parsed = bad.select(F.get_json_object("value", "$.after.id").alias("id"))
    assert parsed.filter(F.col("id").isNull()).count() == 0
    # successes exclude failures
    ok_users = {r.user_id for r in spark.read.schema(ENRICHED_SCHEMA).parquet(out).collect()}
    assert all(u % 2 == 0 for u in ok_users)


def test_dlq_reprocess_start_stop_semantics(spark, sf_smoke, dlq_setup):
    """DlqPipelineIT parity: reprocess recovers DLQ records; once stopped,
    new DLQ records do NOT reach the output."""
    reg, _out, dlq = dlq_setup
    out2, ckpt2 = _tmp("out2"), _tmp("ckpt2")
    reg.register(
        "dlq_reprocess",
        build_dlq_reprocess(spark, dlq, sf_smoke, out2, ckpt2, throttle_files=4),
        checkpoint=ckpt2,
        auto_start=False,  # reference: auto-startup disabled
    )
    assert not reg.status("dlq_reprocess")["running"]

    reg.start("dlq_reprocess")
    reg.process_available("dlq_reprocess")
    reg.stop("dlq_reprocess")
    recovered = spark.read.schema(ENRICHED_SCHEMA).parquet(out2)
    n_recovered = recovered.count()
    assert n_recovered > 0
    assert all(r.user_id % 2 == 1 for r in recovered.collect())

    # stopped stream: append a new DLQ record -> must NOT appear in out2
    new_row = [(999999, '{"after":{"id":999999,"user_id":1,"event_type":"click","value":1.0},"op":"u"}', "enrichment_miss")]
    spark.createDataFrame(new_row, schema=DLQ_SCHEMA).write.mode("append").parquet(dlq)
    import time

    time.sleep(1.0)
    assert spark.read.schema(ENRICHED_SCHEMA).parquet(out2).count() == n_recovered

    # restart -> resumes from its own checkpoint and picks up ONLY the new record
    reg.start("dlq_reprocess")
    reg.process_available("dlq_reprocess")
    reg.stop("dlq_reprocess")
    after = spark.read.schema(ENRICHED_SCHEMA).parquet(out2)
    assert after.count() == n_recovered + 1
    assert after.filter(F.col("id") == 999999).count() == 1


def test_manual_export(spark):
    out = _tmp("export")
    # bare entity
    df = manual_export(spark, {"id": 7, "name": "manual"}, out)
    assert df.count() == 1
    # envelope form falls back after -> root (reference :53-56)
    manual_export(spark, '{"after": {"id": 8, "user_id": 3, "value": 2.5}}', out)
    got = spark.read.schema(ENRICHED_SCHEMA).parquet(out)
    assert {r.id for r in got.collect()} == {7, 8}
    with pytest.raises(ValueError):
        parse_export_payload({"id": 0})


def test_registry_guards(spark, sf_smoke):
    reg = StreamRegistry()
    with pytest.raises(KeyError):
        reg.status("nope")
    out, dlq, ckpt = _tmp("out"), _tmp("dlq"), _tmp("ckpt")
    cfg = CdcPipelineConfig(sf_dir=sf_smoke, out_path=out, dlq_path=dlq, checkpoint=ckpt)
    reg.register("main", build_cdc_pipeline(spark, cfg), checkpoint=ckpt, auto_start=False)
    with pytest.raises(ValueError):
        reg.register("main", build_cdc_pipeline(spark, cfg), checkpoint=ckpt)
    with pytest.raises(ValueError):
        reg.reset_offsets("main", to="sideways")
    reg.stop_all()


def test_deserialization_failure_routes_to_dlq(spark, sf_smoke):
    """Reference enable-dlq semantics (§2A #12): payloads that fail to
    DECODE go to the DLQ with the original bytes, tagged parse_error —
    distinct from enrichment misses — and never reach the output."""
    out, dlq, ckpt = _tmp("out"), _tmp("dlq"), _tmp("ckpt")
    cfg = CdcPipelineConfig(
        sf_dir=sf_smoke, out_path=out, dlq_path=dlq, checkpoint=ckpt,
        corrupt_every=11,
    )
    reg = StreamRegistry()
    reg.register("main", build_cdc_pipeline(spark, cfg), checkpoint=ckpt)
    reg.process_available("main")
    reg.stop("main")

    events = spark.read.parquet(f"{sf_smoke}/events.parquet")
    # corrupted & delivered: % 11 == 0 (garbled) minus tombstones (% 97 == 0)
    n_corrupt = events.filter(
        (F.col("event_id") % 11 == 0) & (F.col("event_id") % 97 != 0)
    ).count()
    dlq_df = spark.read.schema(DLQ_SCHEMA).parquet(dlq)
    parse_errors = dlq_df.filter(F.col("reason") == "parse_error")
    assert parse_errors.count() == n_corrupt
    # original payload preserved, recognizably garbled
    assert parse_errors.filter(~F.col("value").startswith("CORRUPT<<")).count() == 0
    # corrupted ids never reached the enriched output
    out_df = spark.read.schema(ENRICHED_SCHEMA).parquet(out)
    assert out_df.filter(F.col("id") % 11 == 0).count() == 0
    # valid records still flowed
    assert out_df.count() > 0


def test_checkpoint_resume_and_specific_reset(spark, sf_smoke):
    """Resume-from-checkpoint exactly-once (§2A #15) + reset-to-specific
    (§2A #19): phase 2 must NOT reprocess phase 1's batch; truncating the
    checkpoint back to batch 0 must reprocess exactly phase 2's input."""
    from spring_cloud_kafka_streams_dbz_etl_spark.sources.cdc import (
        EVENTS_ENTITY,
        synthesize_envelopes,
    )

    src, out, ckpt = _tmp("resume_src"), _tmp("resume_out"), _tmp("resume_ckpt")
    ev = spark.read.parquet(f"{sf_smoke}/events.parquet").select(
        "event_id", "user_id", "event_type", "value"
    )
    phase1 = ev.filter(F.col("event_id") % 2 == 0)
    phase2 = ev.filter(F.col("event_id") % 2 == 1)
    phase1.coalesce(1).write.mode("overwrite").parquet(src)

    def builder():
        raw = synthesize_envelopes(
            spark.readStream.schema(ev.schema).parquet(src), EVENTS_ENTITY
        )
        flat = raw.filter(F.col("value").isNotNull()).select("kafka_key", "value")
        return (
            flat.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(lambda b, _id: b.write.mode("append").parquet(out))
            .start()
        )

    reg = StreamRegistry()
    reg.register("resume", builder, checkpoint=ckpt)
    reg.process_available("resume")
    reg.stop("resume")
    n1 = spark.read.parquet(out).count()

    # phase 2: new files appear; restart resumes AFTER batch 0
    phase2.coalesce(1).write.mode("append").parquet(src)
    reg.start("resume")
    reg.process_available("resume")
    reg.stop("resume")
    total = spark.read.parquet(out).count()
    n2 = total - n1
    assert n1 == phase1.filter(F.col("event_id") % 97 != 0).count()
    assert n2 == phase2.filter(F.col("event_id") % 97 != 0).count()
    # exactly-once across restart: no kafka_key appears twice
    dup = (
        spark.read.parquet(out).groupBy("kafka_key").count().filter(F.col("count") > 1)
    )
    assert dup.count() == 0

    # reset to specific batch 0 -> only phase 2's batch reprocesses
    res = reg.reset_offsets("resume", to=0)
    assert res["previousOffsets"]["committedBatch"] == 1
    reg.start("resume")
    reg.process_available("resume")
    reg.stop("resume")
    assert spark.read.parquet(out).count() == total + n2


def test_registry_runs_parallel_independent_topologies(spark, sf_smoke):
    """The reference runs three topologies in one app with independent
    lifecycles (spring.cloud.function.definition: eventTransform;
    animalTransform;animalDlqTransform). Same shape here: two main
    pipelines + a dormant DLQ reprocessor under one registry, with
    per-stream start/stop/status/offsets isolation."""
    cfg_a = CdcPipelineConfig(
        sf_dir=sf_smoke, out_path=_tmp("a_out"), dlq_path=_tmp("a_dlq"),
        checkpoint=_tmp("a_ckpt"),
    )
    dlq_b = _tmp("b_dlq")
    cfg_b = CdcPipelineConfig(
        sf_dir=sf_smoke, out_path=_tmp("b_out"), dlq_path=dlq_b,
        checkpoint=_tmp("b_ckpt"), dim_filter="c_custkey % 2 = 0",
    )
    out_b2, ckpt_b2 = _tmp("b2_out"), _tmp("b2_ckpt")

    reg = StreamRegistry()
    reg.register("event_transform", build_cdc_pipeline(spark, cfg_a), checkpoint=cfg_a.checkpoint)
    reg.register("animal_transform", build_cdc_pipeline(spark, cfg_b), checkpoint=cfg_b.checkpoint)
    assert set(reg.names()) == {"event_transform", "animal_transform"}

    reg.process_available("event_transform")
    reg.process_available("animal_transform")
    # register the DLQ reprocessor AFTER the DLQ has content (dormant start)
    reg.register(
        "animal_dlq_transform",
        build_dlq_reprocess(spark, dlq_b, sf_smoke, out_b2, ckpt_b2, throttle_files=4),
        checkpoint=ckpt_b2,
        auto_start=False,
    )
    assert reg.status("animal_dlq_transform")["state"] == "NOT_RUNNING"
    assert reg.status("event_transform")["state"] == "RUNNING"

    # stopping one stream leaves the others untouched
    reg.stop("animal_transform")
    assert reg.status("animal_transform")["state"] == "NOT_RUNNING"
    assert reg.status("event_transform")["state"] == "RUNNING"

    # dormant stream starts on demand and recovers the failed records
    reg.start("animal_dlq_transform")
    reg.process_available("animal_dlq_transform")
    reg.stop_all()
    recovered = spark.read.schema(ENRICHED_SCHEMA).parquet(out_b2)
    assert recovered.filter(F.col("user_id") % 2 == 1).count() == recovered.count()
    assert recovered.count() > 0
    # offsets tracked per stream
    assert reg.offsets("event_transform")["committedBatch"] is not None
    assert reg.offsets("animal_dlq_transform")["committedBatch"] is not None


def test_dimension_update_visible_between_batches(spark, sf_smoke):
    """The reference's enrichment lookup is always fresh (REST hits the
    CRUD app per record, §2A #22); the stream-static join must match that:
    dimension rows upserted between micro-batches enrich the NEXT batch.
    Phase 1 runs with half the customers (misses -> DLQ); the dimension is
    then updated in place; phase 2's records for previously-missing
    customers now enrich successfully."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src_dir = _tmp("dimupd_sf")
    ev = pq.read_table(f"{sf_smoke}/events.parquet")
    cust = pq.read_table(f"{sf_smoke}/customer.parquet")
    even_ev = ev.filter(pc.equal(pc.bit_wise_and(ev["event_id"], 1), 0))
    odd_ev = ev.filter(pc.equal(pc.bit_wise_and(ev["event_id"], 1), 1))
    pq.write_table(even_ev, f"{src_dir}/events.parquet")
    # dimension starts with only even custkeys
    pq.write_table(
        cust.filter(pc.equal(pc.bit_wise_and(cust["c_custkey"], 1), 0)),
        f"{src_dir}/customer.parquet",
    )

    out, dlq, ckpt = _tmp("dim_out"), _tmp("dim_dlq"), _tmp("dim_ckpt")
    cfg = CdcPipelineConfig(sf_dir=src_dir, out_path=out, dlq_path=dlq, checkpoint=ckpt)
    reg = StreamRegistry()
    reg.register("dim", build_cdc_pipeline(spark, cfg), checkpoint=ckpt)
    reg.process_available("dim")

    out1 = spark.read.schema(ENRICHED_SCHEMA).parquet(out)
    assert out1.count() > 0
    assert out1.filter(F.col("user_id") % 2 == 1).count() == 0  # odd users missed

    # upsert: the full customer table replaces the half dimension in place
    pq.write_table(cust, f"{src_dir}/customer.parquet")
    # phase 2 events arrive as a new file -> next micro-batch (atomic drop:
    # the running stream must never list a partially-written file)
    pq.write_table(odd_ev, f"{src_dir}/.events2.parquet.tmp")
    os.rename(f"{src_dir}/.events2.parquet.tmp", f"{src_dir}/events2.parquet")
    reg.process_available("dim")
    reg.stop("dim")

    out2 = spark.read.schema(ENRICHED_SCHEMA).parquet(out)
    # phase-2 records with odd users enriched against the updated dimension
    assert out2.filter(F.col("user_id") % 2 == 1).count() > 0


def test_idempotent_sink_replay_rewrites_in_place(spark, tmp_path):
    """Replaying an epoch through the idempotent sink must not duplicate:
    the second write of batch 7 REPLACES the first (dynamic partition
    overwrite), while a different batch id appends alongside."""
    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.sources.sinks import (
        idempotent_batch_write,
        read_idempotent_sink,
    )

    out = str(tmp_path / "sink")
    rows = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))
    idempotent_batch_write(rows, 7, out)
    idempotent_batch_write(rows, 7, out)  # replayed epoch
    assert read_idempotent_sink(spark, out).count() == 10
    idempotent_batch_write(spark.range(10, 15).select(F.col("id"), F.lit(0).alias("v")), 8, out)
    got = read_idempotent_sink(spark, out)
    assert got.count() == 15
    # replay with DIFFERENT content for the same epoch (retry after partial
    # failure) still converges to exactly-one copy of the batch
    idempotent_batch_write(spark.range(10, 12).select(F.col("id"), F.lit(1).alias("v")), 8, out)
    assert read_idempotent_sink(spark, out).count() == 12


def test_upsert_dimension_api_visible_to_next_batch(spark, sf_smoke):
    """§2A #22 closure: the engine's own upsert_dimension() write API
    (reference: PUT on AnimalController.java:44-50) is visible to the next
    micro-batch's enrichment — phase 1 misses odd customers, an API upsert
    adds them, phase 2 enriches them."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from spring_cloud_kafka_streams_dbz_etl_spark.sources.sinks import upsert_dimension

    src_dir = _tmp("dimapi_sf")
    ev = pq.read_table(f"{sf_smoke}/events.parquet")
    even_ev = ev.filter(pc.equal(pc.bit_wise_and(ev["event_id"], 1), 0))
    odd_ev = ev.filter(pc.equal(pc.bit_wise_and(ev["event_id"], 1), 1))
    pq.write_table(even_ev, f"{src_dir}/events.parquet")

    cust = spark.read.parquet(f"{sf_smoke}/customer.parquet")
    dim_path = f"{src_dir}/customer.parquet"
    upsert_dimension(cust.filter(F.col("c_custkey") % 2 == 0), dim_path, keys=["c_custkey"])

    out, dlq, ckpt = _tmp("dimapi_out"), _tmp("dimapi_dlq"), _tmp("dimapi_ckpt")
    cfg = CdcPipelineConfig(sf_dir=src_dir, out_path=out, dlq_path=dlq, checkpoint=ckpt)
    reg = StreamRegistry()
    reg.register("dimapi", build_cdc_pipeline(spark, cfg), checkpoint=ckpt)
    reg.process_available("dimapi")
    out1 = spark.read.schema(ENRICHED_SCHEMA).parquet(out)
    assert out1.count() > 0
    assert out1.filter(F.col("user_id") % 2 == 1).count() == 0  # odd users missed

    # the CRUD write side: upsert the odd customers through the engine API
    info = upsert_dimension(
        cust.filter(F.col("c_custkey") % 2 == 1), dim_path, keys=["c_custkey"]
    )
    assert info["total"] == cust.count()
    # phase-2 arrivals (atomic drop; see test_dimension_update above)
    pq.write_table(odd_ev, f"{src_dir}/.events2.parquet.tmp")
    os.rename(f"{src_dir}/.events2.parquet.tmp", f"{src_dir}/events2.parquet")
    reg.process_available("dimapi")
    reg.stop("dimapi")

    out2 = spark.read.schema(ENRICHED_SCHEMA).parquet(out)
    assert out2.filter(F.col("user_id") % 2 == 1).count() > 0


def test_cdc_epoch_is_one_pass(spark, sf_smoke, monkeypatch):
    """Shape of a one-file CDC epoch: at most two Spark jobs (dimension
    broadcast, the one collect of the tagged relation; both sinks are
    committed from the driver), one parquet file per sink, and the
    versioned dimension re-read only when a new version commits — while
    an upsert between epochs is still visible to the next one. Jobs are
    counted by the stream's job group (its run id, which the
    foreachBatch body's jobs run under)."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import DataFrameReader

    from spring_cloud_kafka_streams_dbz_etl_spark.sources.sinks import upsert_dimension

    src_dir = _tmp("epoch_sf")
    ev = pq.read_table(f"{sf_smoke}/events.parquet")
    files = [ev.slice(25 * k, 25) for k in range(3)]
    # a customer with a valid (non-tombstone, non-delete) record in epoch 3
    target = next(
        r["user_id"] for r in files[2].to_pylist()
        if r["event_id"] % 97 and r["event_type"] != "error"
    )
    cust = spark.read.parquet(f"{sf_smoke}/customer.parquet")
    dim_path = f"{src_dir}/customer.parquet"
    upsert_dimension(cust.filter(F.col("c_custkey") != target), dim_path, keys=["c_custkey"])

    reads = []
    real_parquet = DataFrameReader.parquet

    def counting_parquet(self, *paths, **kw):
        reads.extend(p for p in paths if p.startswith(dim_path))
        return real_parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counting_parquet)

    def drop(k):  # atomic publish: the stream never lists a partial file
        pq.write_table(files[k], f"{src_dir}/.events{k}.tmp")
        os.rename(f"{src_dir}/.events{k}.tmp", f"{src_dir}/events{k}.parquet")

    out, dlq, ckpt = _tmp("epoch_out"), _tmp("epoch_dlq"), _tmp("epoch_ckpt")
    cfg = CdcPipelineConfig(sf_dir=src_dir, out_path=out, dlq_path=dlq, checkpoint=ckpt)
    drop(0)
    q = build_cdc_pipeline(spark, cfg)()
    tracker = spark.sparkContext.statusTracker()
    jobs, sink_files, dim_reads = [], [], []
    try:
        for k in range(3):
            if k == 2:
                upsert_dimension(
                    cust.filter(F.col("c_custkey") == target), dim_path, keys=["c_custkey"]
                )
            if k:
                drop(k)
            n_reads, n_jobs = len(reads), len(tracker.getJobIdsForGroup(str(q.runId)))
            q.processAllAvailable()
            jobs.append(len(tracker.getJobIdsForGroup(str(q.runId))) - n_jobs)
            dim_reads.append(len(reads) - n_reads)
            sink_files.append(
                tuple(len(glob.glob(f"{d}/part-*.parquet")) for d in (out, dlq))
            )
    finally:
        q.stop()

    assert q.lastProgress["batchId"] == 2  # three one-file epochs
    assert all(0 < n <= 2 for n in jobs), jobs
    assert sink_files == [(1, 1), (2, 2), (3, 3)], sink_files
    # read once, reused while the version is unchanged, re-read after the upsert
    assert dim_reads == [1, 0, 1], dim_reads
    enriched = spark.read.schema(ENRICHED_SCHEMA).parquet(out).filter(
        F.col("user_id") == target
    )
    epoch3_ids = set(files[2]["event_id"].to_pylist())
    assert any(r.id in epoch3_ids and r.name for r in enriched.collect())


@contextlib.contextmanager
def _spark_path(spark):
    """autoBroadcastJoinThreshold at 1 KB: every batch these tests build
    (a 25-row file alone estimates about 3 KB) fails
    catalog.driver_sized_bytes, so the epoch takes the Spark path. A
    stream clones the session conf at start, so start it inside."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try:
        yield
    finally:
        spark.conf.set(key, before)


def _count_commits(monkeypatch) -> list:
    """Record every driver-side sink commit (the driver path's marker)."""
    from spring_cloud_kafka_streams_dbz_etl_spark.sources import sinks

    calls, real = [], sinks.commit_parts

    def spy(*a, **kw):
        calls.append(a)
        return real(*a, **kw)

    monkeypatch.setattr(sinks, "commit_parts", spy)
    return calls


def _rows(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


@pytest.mark.parametrize("entity", ["events", "orders"])
def test_cdc_spark_path_writes_the_driver_path_rows(spark, sf_smoke, monkeypatch, entity):
    """The same stream, of each entity type, with the epoch forced onto
    the Spark path (1 KB gate) writes exactly the rows the driver path
    writes — ok rows, and DLQ rows of both reasons (garbled payloads and
    enrichment misses) — and observedMetrics.cdc.n_parsed still counts
    every parsed row of the epoch, once."""
    from spring_cloud_kafka_streams_dbz_etl_spark.sources.cdc import (
        EVENTS_ENTITY,
        ORDERS_ENTITY,
    )

    spec = {"events": EVENTS_ENTITY, "orders": ORDERS_ENTITY}[entity]
    commits = _count_commits(monkeypatch)
    results = []
    for spark_path in (False, True):
        out, dlq, ckpt = _tmp("path_out"), _tmp("path_dlq"), _tmp("path_ckpt")
        cfg = CdcPipelineConfig(
            sf_dir=sf_smoke, out_path=out, dlq_path=dlq, checkpoint=ckpt,
            dim_filter="c_custkey % 2 = 0", corrupt_every=7, entity=spec,
        )
        n_commits = len(commits)
        with _spark_path(spark) if spark_path else contextlib.nullcontext():
            q = build_cdc_pipeline(spark, cfg)()
            try:
                q.processAllAvailable()
                n_parsed = q.lastProgress["observedMetrics"]["cdc"]["n_parsed"]
            finally:
                q.stop()
        assert (len(commits) > n_commits) != spark_path
        ok = spark.read.parquet(out).select(*(alias for alias, _ in spec.output_cols))
        bad = spark.read.schema(DLQ_SCHEMA).parquet(dlq)
        assert n_parsed == ok.count() + bad.count()
        reasons = {r.reason for r in bad.select("reason").distinct().collect()}
        assert reasons == {"parse_error", "enrichment_miss"}, (spark_path, reasons)
        results.append((_rows(ok), _rows(bad), n_parsed))
    assert results[0] == results[1] and results[0][0]


def _epoch_cases(spark, sf_smoke):
    """(name, parsed batch, dimension, entity spec) for the events and the
    orders pipelines, with both sinks filled, no DLQ rows, and no ok rows."""
    from spring_cloud_kafka_streams_dbz_etl_spark.sources.cdc import (
        EVENTS_ENTITY,
        ORDERS_ENTITY,
        parse_envelopes,
        synthesize_envelopes,
    )

    dim = spark.read.parquet(f"{sf_smoke}/customer.parquet")
    events = parse_envelopes(
        synthesize_envelopes(
            spark.read.parquet(f"{sf_smoke}/events.parquet").limit(60),
            EVENTS_ENTITY,
            corrupt_every=7,
        ),
        EVENTS_ENTITY,
    )
    clean = events.filter(~F.col("parse_failed")).join(
        dim, F.col("user_id") == F.col("c_custkey"), "left_semi"
    )
    src = spark.read.parquet(f"{sf_smoke}/orders.parquet").limit(60)
    orders = parse_envelopes(synthesize_envelopes(src, ORDERS_ENTITY), ORDERS_ENTITY)
    return [
        ("events", events, dim, EVENTS_ENTITY),
        ("events_no_dlq", clean, dim, EVENTS_ENTITY),
        ("events_no_ok", events, dim.filter("false"), EVENTS_ENTITY),
        ("orders", orders, dim.filter("c_custkey % 3 = 0"), ORDERS_ENTITY),
    ]


def _parts(path: str) -> list[str]:
    import glob

    return sorted(glob.glob(f"{path}/**/part-*.parquet", recursive=True))


def _footers(path: str) -> tuple[list, list[int]]:
    """The distinct Spark schemas stored in the footers of the sink's
    parts, and each part's row count."""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    from spring_cloud_kafka_streams_dbz_etl_spark.sources.sinks import SPARK_ROW_METADATA

    schemas, rows = [], []
    for f in _parts(path):
        meta = pq.read_metadata(f)
        schema = StructType.fromJson(json.loads(meta.metadata[SPARK_ROW_METADATA.encode()]))
        if schema not in schemas:
            schemas.append(schema)
        rows.append(meta.num_rows)
    return schemas, rows


def test_driver_written_sinks_read_like_spark_written(spark, sf_smoke, monkeypatch):
    """For the events and orders ok sinks and the DLQ, in append and
    idempotent mode, and for epochs where one side is empty: the one part
    per sink the driver path writes carries the footer schema of the parts
    the Spark path writes, Spark reads the sink back with the same schema,
    and the rows are the same. An empty side is a schema-only part in
    append mode and no partition in idempotent mode, as Spark writes it."""
    from spring_cloud_kafka_streams_dbz_etl_spark.streaming.pipeline import (
        EpochState,
        _enrich_and_split,
    )

    commits = _count_commits(monkeypatch)
    for name, batch, dim, spec in _epoch_cases(spark, sf_smoke):
        for idempotent in (False, True):
            sinks = []
            for spark_path in (False, True):
                out, dlq = _tmp(f"{name}_out"), _tmp(f"{name}_dlq")
                n_commits = len(commits)
                with _spark_path(spark) if spark_path else contextlib.nullcontext():
                    _enrich_and_split(
                        batch, dim, out, dlq, EpochState(spark, spec), batch_id=3,
                        idempotent=idempotent,
                    )
                assert (len(commits) > n_commits) != spark_path, name
                sinks.append((out, dlq))
            case = (name, idempotent)
            sizes = []
            for driver_dir, spark_dir in zip(*sinks):
                schemas, rows = _footers(driver_dir)
                want_schemas, want_rows = _footers(spark_dir)
                assert schemas == want_schemas and len(schemas) <= 1, case
                assert sum(rows) == sum(want_rows), case
                # an empty side in idempotent mode writes no part, as Spark
                assert len(rows) == 1 or (idempotent and not rows and not want_rows), case
                if rows:
                    got = spark.read.parquet(driver_dir)
                    want = spark.read.parquet(spark_dir)
                    assert got.schema == want.schema, case
                    assert _rows(got) == _rows(want), case
                sizes.append(rows)
            empty = [] if idempotent else [0]  # schema-only part in append mode
            if name == "events_no_dlq":
                assert sizes[0][0] > 0 and sizes[1] == empty, (case, sizes)
            if name == "events_no_ok":
                assert sizes[1][0] > 0 and sizes[0] == empty, (case, sizes)


def test_driver_commit_failure_publishes_nothing_and_retry_commits_once(
    spark, sf_smoke, monkeypatch
):
    """A failure after both parts are staged (before their rename) leaves
    no new part visible — in idempotent mode the epoch's old partition
    stays readable — and resilient_batch's retry of the epoch commits
    each sink exactly once, with no staged file left behind."""
    from spring_cloud_kafka_streams_dbz_etl_spark.sources import sinks
    from spring_cloud_kafka_streams_dbz_etl_spark.streaming.pipeline import (
        EpochState,
        _enrich_and_split,
        resilient_batch,
    )

    _, batch, dim, spec = _epoch_cases(spark, sf_smoke)[0]
    state = EpochState(spark, spec)
    n_rows = batch.count()
    real_publish = sinks._publish_parts
    for idempotent in (False, True):
        out, dlq = _tmp("fail_out"), _tmp("fail_dlq")
        if idempotent:  # an earlier attempt's partition, to be replaced
            _enrich_and_split(
                batch.limit(5), dim, out, dlq, state, batch_id=9, idempotent=True
            )
        before = [_parts(d) for d in (out, dlq)]
        seen = []

        def failing_publish(spark_, staged, batch_id):
            if not seen:
                seen.append([_parts(d) for d in (out, dlq)])
                seen.append(sorted(
                    f for d in (out, dlq) for f in os.listdir(d)
                    if f.startswith(".") and not f.endswith(".crc")
                ))
                raise FileNotFoundError("simulated: staged path does not exist")
            return real_publish(spark_, staged, batch_id)

        monkeypatch.setattr(sinks, "_publish_parts", failing_publish)
        resilient_batch(
            lambda b, bid: _enrich_and_split(
                b, dim, out, dlq, state, batch_id=bid, idempotent=idempotent
            )
        )(batch, 9)
        visible_at_failure, staged_at_failure = seen
        assert visible_at_failure == before, idempotent
        assert len(staged_at_failure) == 2, staged_at_failure
        assert [len(_parts(d)) for d in (out, dlq)] == [1, 1]
        hidden = [f for d in (out, dlq) for f in os.listdir(d)
                  if f.startswith(".") and not f.endswith(".crc")]
        assert hidden == [], hidden
        got = sum(spark.read.parquet(d).count() for d in (out, dlq))
        assert got == n_rows


def test_idempotent_driver_epoch_replay_rewrites_in_place(spark, sf_smoke, monkeypatch):
    """A replayed epoch on the driver path replaces its own
    ``_batch_id=<N>`` partition of both sinks — also when the replay has
    different content, or an empty side — while other epochs stay."""
    from spring_cloud_kafka_streams_dbz_etl_spark.sources.sinks import read_idempotent_sink
    from spring_cloud_kafka_streams_dbz_etl_spark.streaming.pipeline import (
        EpochState,
        _enrich_and_split,
    )

    commits = _count_commits(monkeypatch)
    cases = _epoch_cases(spark, sf_smoke)
    _, events, dim, spec = cases[0]
    state = EpochState(spark, spec)
    _, clean, _, _ = cases[1]
    out, dlq = _tmp("replay_out"), _tmp("replay_dlq")

    def epoch(batch, bid):
        _enrich_and_split(batch, dim, out, dlq, state, batch_id=bid, idempotent=True)
        return [read_idempotent_sink(spark, d).count() for d in (out, dlq)]

    first = epoch(events, 5)
    assert first[0] > 0 and first[1] > 0
    assert epoch(events, 5) == first  # replay: same rows, not twice
    both = epoch(events.limit(7), 6)
    assert both[0] + both[1] == first[0] + first[1] + 7
    # replay of epoch 5 with other content and no DLQ rows: its DLQ
    # partition goes, epoch 6's stays
    n_clean = clean.count()
    assert epoch(clean, 5) == [n_clean + both[0] - first[0], both[1] - first[1]]
    assert sorted(os.listdir(dlq)) == ["_batch_id=6"] and len(commits) == 4


@pytest.mark.parametrize("entity", ["events", "orders"])
def test_building_a_cdc_pipeline_runs_no_spark_job(spark, sf_smoke, entity):
    """build_cdc_pipeline runs no Spark job for any entity spec: the
    source stream's and the envelope's schemas come from the spec, not
    from a schema-inference read of the source table. Counted by a job
    group on this thread; the group is also shown to catch a job."""
    from spring_cloud_kafka_streams_dbz_etl_spark.sources.cdc import (
        EVENTS_ENTITY,
        ORDERS_ENTITY,
    )

    spec = {"events": EVENTS_ENTITY, "orders": ORDERS_ENTITY}[entity]
    cfg = CdcPipelineConfig(
        sf_dir=sf_smoke, out_path=_tmp("build_out"), dlq_path=_tmp("build_dlq"),
        checkpoint=_tmp("build_ckpt"), entity=spec,
    )
    sc, group = spark.sparkContext, f"build-{entity}-{uuid.uuid4().hex[:8]}"
    try:
        sc.setJobGroup(group, group)
        build_cdc_pipeline(spark, cfg)
        built = len(sc.statusTracker().getJobIdsForGroup(group))
        spark.read.parquet(f"{sf_smoke}/{spec.source_table}.parquet")  # infers: a job
        inferred = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert built == 0 and inferred > 0, (built, inferred)


def test_static_dimension_epoch_runs_two_jobs(spark, sf_smoke):
    """A static (unversioned) dimension is resolved once and reused while
    its files are unchanged, so each one-file epoch runs at most two Spark
    jobs (no per-epoch schema inference); an in-place rewrite of the
    dimension is visible to the next epoch."""
    import pyarrow.parquet as pq

    src_dir = _tmp("static_sf")
    ev = pq.read_table(f"{sf_smoke}/events.parquet")
    files = [ev.slice(25 * k, 25) for k in range(3)]
    target = next(
        r["user_id"] for r in files[2].to_pylist()
        if r["event_id"] % 97 and r["event_type"] != "error"
    )
    cust = spark.read.parquet(f"{sf_smoke}/customer.parquet")
    dim_path = f"{src_dir}/customer.parquet"
    cust.write.parquet(dim_path)

    def drop(k):
        pq.write_table(files[k], f"{src_dir}/.events{k}.tmp")
        os.rename(f"{src_dir}/.events{k}.tmp", f"{src_dir}/events{k}.parquet")

    out, dlq, ckpt = _tmp("static_out"), _tmp("static_dlq"), _tmp("static_ckpt")
    cfg = CdcPipelineConfig(sf_dir=src_dir, out_path=out, dlq_path=dlq, checkpoint=ckpt)
    drop(0)
    q = build_cdc_pipeline(spark, cfg)()
    tracker = spark.sparkContext.statusTracker()
    jobs = []
    try:
        for k in range(3):
            if k == 2:  # rewrite in place: the target customer renamed
                renamed = cust.withColumn(
                    "c_name",
                    F.when(F.col("c_custkey") == target, F.lit("RENAMED"))
                    .otherwise(F.col("c_name")),
                )
                renamed.localCheckpoint().write.mode("overwrite").parquet(dim_path)
            if k:
                drop(k)
            n_jobs = len(tracker.getJobIdsForGroup(str(q.runId)))
            q.processAllAvailable()
            jobs.append(len(tracker.getJobIdsForGroup(str(q.runId))) - n_jobs)
    finally:
        q.stop()
    assert q.lastProgress["batchId"] == 2
    assert all(0 < n <= 2 for n in jobs), jobs
    names = {
        r.name for r in spark.read.schema(ENRICHED_SCHEMA).parquet(out)
        .filter(F.col("user_id") == target).collect()
        if r.id in set(files[2]["event_id"].to_pylist())
    }
    assert names == {"RENAMED"}, names


def _one_file_epochs(spark, sf_smoke, kind: str):
    """Three 25-row event files parsed the way the CDC stream parses
    them (one one-file epoch's batch each), a customer with a valid
    record in the third file, and the path of a versioned customer
    dimension committed WITHOUT that customer."""
    import pyarrow.parquet as pq

    from spring_cloud_kafka_streams_dbz_etl_spark.sources.cdc import (
        EVENTS_ENTITY,
        parse_envelopes,
        synthesize_envelopes,
    )
    from spring_cloud_kafka_streams_dbz_etl_spark.sources.sinks import upsert_dimension

    src_dir = _tmp(kind)
    ev = pq.read_table(f"{sf_smoke}/events.parquet")
    batches = []
    for k in range(3):
        pq.write_table(ev.slice(25 * k, 25), f"{src_dir}/events{k}.parquet")
        batches.append(parse_envelopes(
            synthesize_envelopes(spark.read.parquet(f"{src_dir}/events{k}.parquet"), EVENTS_ENTITY),
            EVENTS_ENTITY,
        ))
    target = next(
        r["user_id"] for r in ev.slice(50, 25).to_pylist()
        if r["event_id"] % 97 and r["event_type"] != "error"
    )
    dim_path = f"{src_dir}/customer.parquet"
    cust = spark.read.parquet(f"{sf_smoke}/customer.parquet")
    upsert_dimension(cust.filter(F.col("c_custkey") != target), dim_path, keys=["c_custkey"])
    return batches, target, cust, dim_path


def test_epoch_state_second_epoch_sends_few_jvm_commands(spark, sf_smoke, monkeypatch):
    """Two one-file driver-path epochs through one pipeline's EpochState:
    the second epoch, dimension read included, sends at most 100 commands
    through the py4j gateway, because the enrichment's columns, the sink
    schemas and the sinks' Hadoop handles are built once, not per epoch
    (a body that rebuilt them sent over 500). Counted by wrapping
    ClientServerConnection.send_command — no clock — on this thread, and
    without py4j's memory-release commands, whose timing follows Python's
    garbage collector (they also arrive from other threads)."""
    import threading

    from py4j.clientserver import ClientServerConnection

    from spring_cloud_kafka_streams_dbz_etl_spark.sources.cdc import EVENTS_ENTITY
    from spring_cloud_kafka_streams_dbz_etl_spark.sources.sinks import dimension_reader
    from spring_cloud_kafka_streams_dbz_etl_spark.streaming.pipeline import (
        EpochState,
        _enrich_and_split,
    )

    batches, _, _, dim_path = _one_file_epochs(spark, sf_smoke, "py4j_sf")
    commits = _count_commits(monkeypatch)
    out, dlq = _tmp("py4j_out"), _tmp("py4j_dlq")
    state = EpochState(spark, EVENTS_ENTITY)
    read_dim = dimension_reader(spark, dim_path)
    counting, sent = [False], [0]
    real_send = ClientServerConnection.send_command
    epoch_thread = threading.get_ident()

    def send(self, command):
        if counting[0] and threading.get_ident() == epoch_thread:
            sent[0] += not command.startswith("m\n")
        return real_send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", send)
    try:
        for k, batch in enumerate(batches[:2]):
            counting[0] = k == 1
            _enrich_and_split(batch, read_dim(), out, dlq, state, batch_id=k)
    finally:
        counting[0] = False
    assert len(commits) == 2  # both epochs took the driver path
    assert 0 < sent[0] <= 100, sent[0]


def test_epoch_state_rederives_sink_schemas_after_dimension_upsert(
    spark, sf_smoke, monkeypatch
):
    """Three one-file epochs through one EpochState, with an upsert of
    the dimension before the third: the sink schemas are derived in the
    first epoch, reused in the second, and derived again in the third,
    whose dimension is the new version's DataFrame, equal to what a fresh
    state derives; the upserted customer is enriched in the third epoch."""
    from spring_cloud_kafka_streams_dbz_etl_spark.sources.cdc import EVENTS_ENTITY
    from spring_cloud_kafka_streams_dbz_etl_spark.sources.sinks import (
        dimension_reader,
        upsert_dimension,
    )
    from spring_cloud_kafka_streams_dbz_etl_spark.streaming.pipeline import (
        EpochState,
        _enrich_and_split,
    )

    batches, target, cust, dim_path = _one_file_epochs(spark, sf_smoke, "rederive_sf")
    out, dlq = _tmp("rederive_out"), _tmp("rederive_dlq")
    state = EpochState(spark, EVENTS_ENTITY)
    derived = []
    real_split = state.split
    monkeypatch.setattr(state, "split", lambda t: derived.append(t) or real_split(t))
    read_dim = dimension_reader(spark, dim_path)
    per_epoch = []
    for k, batch in enumerate(batches):
        if k == 2:
            upsert_dimension(
                cust.filter(F.col("c_custkey") == target), dim_path, keys=["c_custkey"]
            )
        n = len(derived)
        _enrich_and_split(batch, read_dim(), out, dlq, state, batch_id=k)
        per_epoch.append(len(derived) - n)
    assert per_epoch == [1, 0, 1], per_epoch
    fresh = EpochState(spark, EVENTS_ENTITY)
    tagged = batches[2].join(read_dim(), fresh.join, "left").withColumn("reason", fresh.reason)
    assert state.schemas(tagged, read_dim()) == fresh.schemas(tagged, read_dim())
    ok = spark.read.parquet(out).filter(F.col("user_id") == target).collect()
    epoch3_ids = {r.id for r in batches[2].collect()}
    assert ok and all(r.id in epoch3_ids and r.name for r in ok), ok


def test_stream_metrics_cumulative(spark, sf_smoke):
    """§2A #13 metrics: the registry's /metrics view accumulates retained
    progress events — batches, input rows, rows/sec, trigger durations —
    while the query runs, and survives (running=False) after stop."""
    out, dlq, ckpt = _tmp("out"), _tmp("dlq"), _tmp("ckpt")
    cfg = CdcPipelineConfig(sf_dir=sf_smoke, out_path=out, dlq_path=dlq, checkpoint=ckpt)
    reg = StreamRegistry()
    reg.register("main", build_cdc_pipeline(spark, cfg), checkpoint=ckpt)
    reg.process_available("main")
    m = reg.metrics("main")
    assert m["running"] is True
    assert m["batches"] >= 1
    assert m["totalInputRows"] > 0
    assert m["avgProcessedRowsPerSecond"] is None or m["avgProcessedRowsPerSecond"] > 0
    assert m["lastTriggerMs"] is None or m["lastTriggerMs"] >= 0
    reg.stop("main")
    m2 = reg.metrics("main")
    assert m2["running"] is False


def test_window_topk_two_epoch_merge(spark, tmp_path):
    """The bounded-state leaderboard's UPSERT path (VERDICT r06 #2):
    two file-source micro-batches where some (window, user) groups get
    events in BOTH epochs. Epoch 1's update-mode rows carry the NEW
    cumulative totals, so the merge must replace epoch 0's stored rows
    for those groups (left_anti + union), re-cut ONLY the touched
    windows, and leave epoch-0-only windows' snapshots intact under the
    dynamic partition overwrite. Final snapshot == batch top-k over all
    events — the same claim the oracle makes on the single-batch
    fixture, now proven across the merge."""
    from pyspark.sql import Window

    from spring_cloud_kafka_streams_dbz_etl_spark.queries.streaming import (
        LEADERBOARD_K,
        _topk_agg,
        _topk_merge_and_cut,
    )
    from spring_cloud_kafka_streams_dbz_etl_spark.sources.streams import (
        EVENTS_FILE_SCHEMA,
        stream_events,
    )

    def row(eid, h, m, uid, val):
        import datetime

        return (
            eid,
            datetime.datetime(2024, 3, 1, h, m),
            uid,
            "click",
            val,
            None,
        )

    # epoch 0: windows 10:00, 11:00, 12:00; 11:00 has K+1 users so the
    # cut bites
    file1 = [
        row(1, 10, 5, 1, 10.0),
        row(2, 10, 15, 2, 20.0),
        row(3, 11, 5, 1, 1.0),
        row(4, 11, 10, 2, 2.0),
        row(5, 11, 20, 3, 3.0),
        row(6, 11, 30, 4, 4.0),
        row(7, 11, 40, 5, 5.0),
        row(8, 11, 50, 6, 6.0),
        row(20, 12, 10, 8, 8.0),
    ]
    # epoch 1: window 11:00 again — users 1 and 6 accumulate (group
    # straddles epochs: the upsert must REPLACE their epoch-0 totals),
    # user 7 is new; window 13:00 is epoch-1-only. Epoch 1's touched set
    # is {11:00, 13:00}, so its [min, max] wkey band covers 12:00:
    # window 10:00 (outside the band) AND window 12:00 (INSIDE the band
    # but untouched — the r8 band-filter edge) must both survive the
    # dynamic overwrite with their epoch-0 snapshots intact.
    file2 = [
        row(9, 11, 55, 1, 100.0),
        row(10, 11, 58, 6, 0.5),
        row(11, 11, 59, 7, 7.0),
        row(12, 13, 5, 1, 50.0),
    ]
    src = str(tmp_path / "ev")
    os.makedirs(src)
    for i, rows in ((1, file1), (2, file2)):
        spark.createDataFrame(rows, EVENTS_FILE_SCHEMA).coalesce(1).write.parquet(
            str(tmp_path / f"stage{i}")
        )
        part = next(
            p
            for p in os.listdir(str(tmp_path / f"stage{i}"))
            if p.endswith(".parquet")
        )
        os.rename(
            str(tmp_path / f"stage{i}" / part),
            os.path.join(src, f"events{i}.parquet"),
        )
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    ev = stream_events(spark, src, max_files_per_trigger=1).withWatermark(
        "ts", "24 hours"
    )
    q = (
        _topk_agg(ev)
        .writeStream.outputMode("update")
        .foreachBatch(_topk_merge_and_cut(spark, store, out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert q.lastProgress["batchId"] >= 1  # really two epochs
    finally:
        q.stop()
    got = sorted(
        (r["window_start"], r["user_id"], r["total_value_micros"], r["rank"])
        for r in spark.read.parquet(out)
        .select("window_start", "user_id", "total_value_micros", "rank")
        .collect()
    )
    all_ev = spark.createDataFrame(file1 + file2, EVENTS_FILE_SCHEMA).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    rank_w = Window.partitionBy("window_start").orderBy(
        F.col("total_value_micros").desc(), F.col("user_id").asc()
    )
    want = sorted(
        (r["window_start"], r["user_id"], r["total_value_micros"], r["rank"])
        for r in _topk_agg(all_ev)
        .withColumn("rank", F.row_number().over(rank_w).cast("long"))
        .filter(F.col("rank") <= LEADERBOARD_K)
        .collect()
    )
    assert got == want
    # the straddling users' totals are the CUMULATIVE sums, not epoch-1's
    by_user = {
        (w.hour, u): t for (w, u, t, _r) in got
    }
    assert by_user[(11, 1)] == 101_000_000  # 1.0 + 100.0
    assert by_user[(11, 6)] == 6_500_000  # 6.0 + 0.5
    # in-band-but-untouched window 12:00 preserved (r8 band-filter edge)
    assert by_user[(12, 8)] == 8_000_000
    assert by_user[(10, 2)] == 20_000_000  # outside-band window preserved


def test_window_topk_checkpoint_restart(spark, tmp_path):
    """The serving store's exactly-once claim across a STOP/RESTART:
    epoch 0 runs in one query, the query stops, file 2 lands, and a NEW
    query resumes from the same checkpoint. The restarted query's first
    batch must upsert against the store the first run wrote (the
    spark.read probe path), replace the straddling user's total with
    the cumulative sum, and leave the pre-restart-only window intact —
    the snapshot must be indistinguishable from an unbroken run."""
    import datetime

    from pyspark.sql import Window

    from spring_cloud_kafka_streams_dbz_etl_spark.queries.streaming import (
        LEADERBOARD_K,
        _topk_agg,
        _topk_merge_and_cut,
    )
    from spring_cloud_kafka_streams_dbz_etl_spark.sources.streams import (
        EVENTS_FILE_SCHEMA,
        stream_events,
    )

    def row(eid, h, m, uid, val):
        return (eid, datetime.datetime(2024, 3, 1, h, m), uid, "click", val, None)

    file1 = [row(1, 9, 5, 1, 10.0), row(2, 9, 15, 2, 20.0), row(3, 10, 5, 1, 1.0)]
    file2 = [row(4, 10, 30, 1, 5.0), row(5, 10, 40, 3, 3.0)]
    src = str(tmp_path / "ev")
    os.makedirs(src)
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def land(i, rows):
        stage = tmp_path / f"stage{i}"
        spark.createDataFrame(rows, EVENTS_FILE_SCHEMA).coalesce(1).write.parquet(
            str(stage)
        )
        part = next(p for p in os.listdir(str(stage)) if p.endswith(".parquet"))
        os.rename(str(stage / part), os.path.join(src, f"events{i}.parquet"))

    def run_until_quiet():
        ev = stream_events(spark, src).withWatermark("ts", "24 hours")
        q = (
            _topk_agg(ev)
            .writeStream.outputMode("update")
            .foreachBatch(_topk_merge_and_cut(spark, store, out))
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    land(1, file1)
    run_until_quiet()  # first lifecycle: store/out seeded from epoch 0
    land(2, file2)
    run_until_quiet()  # restart from the SAME checkpoint

    got = sorted(
        (r["window_start"], r["user_id"], r["total_value_micros"], r["rank"])
        for r in spark.read.parquet(out)
        .select("window_start", "user_id", "total_value_micros", "rank")
        .collect()
    )
    all_ev = spark.createDataFrame(file1 + file2, EVENTS_FILE_SCHEMA).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    rank_w = Window.partitionBy("window_start").orderBy(
        F.col("total_value_micros").desc(), F.col("user_id").asc()
    )
    want = sorted(
        (r["window_start"], r["user_id"], r["total_value_micros"], r["rank"])
        for r in _topk_agg(all_ev)
        .withColumn("rank", F.row_number().over(rank_w).cast("long"))
        .filter(F.col("rank") <= LEADERBOARD_K)
        .collect()
    )
    assert got == want
    by_user = {(w.hour, u): t for (w, u, t, _r) in got}
    assert by_user[(10, 1)] == 6_000_000  # 1.0 pre-restart + 5.0 post
    assert by_user[(9, 1)] == 10_000_000  # pre-restart-only window intact


def test_stream_tune_sizes_state_instances(spark):
    """stream_tune sizes state-store instances to the key space:
    ceil(keys / 25k) clamped to [4, parallelism]. The conf it sets is
    what the stateful exchange freezes into the checkpoint, so the
    formula IS the deployment contract — pin it."""
    from spring_cloud_kafka_streams_dbz_etl_spark.session import (
        STATE_KEYS_PER_PARTITION,
        stream_tune,
    )

    par = spark.sparkContext.defaultParallelism
    assert STATE_KEYS_PER_PARTITION == 25_000
    for keys, want in [
        (1, 4),                       # floor: tiny fixtures stay parallel
        (25_000 * 4, 4),              # exactly at the floor boundary
        (25_000 * 6, min(6, par)),    # sized to state
        (10**12, max(par, 4)),        # cap: huge key spaces get every core
    ]:
        stream_tune(spark, keys)
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == want, keys
    # restore the batch default for subsequent tests in this session
    from spring_cloud_kafka_streams_dbz_etl_spark.session import tune

    tune(spark)


def test_state_metadata_pins_frozen_instance_count(spark, sf_smoke):
    """The state-store instance count a stream runs with is whatever
    spark.sql.shuffle.partitions was at FIRST start — frozen into the
    checkpoint thereafter. Pin the full loop: stream_tune plans 4
    instances for the windowed-agg key space, the checkpoint's
    state-metadata reports exactly 4, and the offline statestore read
    (s_state_inspect's mechanism) sees every partition's rows."""
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.catalog import table
    from spring_cloud_kafka_streams_dbz_etl_spark.session import stream_tune, tune

    stream_tune(spark, 5 * 24 * 31)
    planned = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert planned == 4
    name = f"meta_{uuid.uuid4().hex[:8]}"
    src = tempfile.mkdtemp(prefix="meta_src")
    ckpt = tempfile.mkdtemp(prefix="meta_ckpt")
    ev = (
        table(spark, sf_smoke, "events")
        .select("event_id", "ts", "event_type")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    ev.write.mode("overwrite").parquet(src)
    agg = (
        spark.readStream.schema(ev.schema)
        .parquet(src)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    meta = spark.read.format("state-metadata").load(ckpt).collect()
    assert len(meta) == 1 and meta[0].numPartitions == planned, meta
    state = spark.read.format("statestore").load(ckpt)
    parts = {r.partition_id for r in state.select("partition_id").distinct().collect()}
    assert parts <= set(range(planned)) and len(parts) >= 2, parts
    n_state = state.count()
    n_batch = ev.groupBy(F.window("ts", "1 hour"), "event_type").count().count()
    assert n_state == n_batch  # no watermark -> nothing evicted, state == aggregate
    tune(spark)  # restore the batch default for later tests


def test_state_sources_partition_parallel_at_1e5_keys(spark):
    """Adversarial-scale pin for the offline state sources (VERDICT r13
    ask #5): build a checkpoint holding 1.2e5 distinct state keys, then
    confirm the two SCALE.md claims structurally —

    1. the `statestore` read is PARTITION-PARALLEL over the store's own
       frozen instances: one scan partition per instance, zero Exchange
       in the bare read's physical plan (the read never reshuffles the
       store to look at it);
    2. the `readChangeFeed` read scoped to a batch costs the CHANGES in
       that batch, not the store size: scoping to the 1k-key update
       batch yields exactly the 1k changed rows even though the store
       holds 120x that.

    tools/measure_state.py carries the wall-clock version of claim 2 at
    1e6 keys (time per changefeed batch tracks change count while the
    store size is constant)."""
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.session import stream_tune, tune

    keys = 120_000
    touched = 1_000
    stream_tune(spark, keys)
    planned = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # ceil(120k / 25k) = 5 instances, capped by design at
    # max(defaultParallelism, 4) (session.stream_tune)
    cap = max(spark.sparkContext.defaultParallelism, 4)
    assert planned == min(5, cap)
    name = f"big_{uuid.uuid4().hex[:8]}"
    src = tempfile.mkdtemp(prefix="bigstate_src")
    ckpt = tempfile.mkdtemp(prefix="bigstate_ckpt")
    base = spark.range(keys).select(F.col("id").alias("k"))
    base.coalesce(1).write.mode("overwrite").parquet(src)
    q = (
        spark.readStream.schema(base.schema)
        .parquet(src)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()  # batch 0: all 120k keys enter state
        spark.range(touched).select(F.col("id").alias("k")).coalesce(
            1
        ).write.mode("append").parquet(src)
        q.processAllAvailable()  # batch 1: only 1k keys update
    finally:
        q.stop()

    state = spark.read.format("statestore").load(ckpt)
    # one scan partition per store instance, and no shuffle to read it
    assert state.rdd.getNumPartitions() == planned
    plan = state._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert state.count() == keys  # watermark-less: nothing evicted

    feed = (
        spark.read.format("statestore")
        .option("readChangeFeed", "true")
        .option("changeStartBatchId", "1")
        .option("changeEndBatchId", "1")
        .load(ckpt)
    )
    assert feed.rdd.getNumPartitions() == planned
    assert "Exchange" not in feed._jdf.queryExecution().executedPlan().toString()
    # the scoped feed carries exactly the batch's changes, not the store
    assert feed.count() == touched
    tune(spark)  # restore the batch default for later tests


def test_curation_funnel_batch_replay_idempotent(spark, sf_dir):
    """s_curation_funnel's exactly-once contract: re-running an epoch's
    kernel (a checkpoint-recovery replay of a half-committed batch) must
    leave both stores byte-identical — same partial counts, same digest
    partitions — because writes are batch-id-keyed dynamic partition
    overwrites and the seen-set excludes the epoch's own partition."""
    import tempfile

    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.streaming.curation import (
        funnel_partials,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    b0 = d.filter(F.col("doc_id") % 2 == 0)
    b1 = d.filter(F.col("doc_id") % 2 == 1)
    digest_store = tempfile.mkdtemp(prefix="funnel_dg_")
    rollup = tempfile.mkdtemp(prefix="funnel_ru_")

    def snapshot():
        rows = sorted(
            tuple(r) for r in spark.read.parquet(rollup).collect()
        )
        digs = sorted(
            tuple(r) for r in spark.read.parquet(digest_store).collect()
        )
        return rows, digs

    funnel_partials(b0, 0, digest_store, rollup)
    funnel_partials(b1, 1, digest_store, rollup)
    after_clean = snapshot()
    # replay epoch 1 (crash-after-commit recovery) -> identical stores
    funnel_partials(b1, 1, digest_store, rollup)
    assert snapshot() == after_clean
    # replay epoch 0 too (out-of-order recovery of an older epoch)
    funnel_partials(b0, 0, digest_store, rollup)
    assert snapshot() == after_clean


def test_mix_partials_replay_idempotent(spark, sf_dir):
    """s_source_mix_drift's exactly-once contract: replaying an epoch's
    kernel (checkpoint-recovery of a half-committed batch) leaves the
    cells store byte-identical — partials are a pure function of the
    batch committed through batch-id-keyed dynamic partition overwrite."""
    import tempfile

    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.streaming.curation import (
        mix_partials,
    )

    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "source")
        .withColumn("slice_id", (F.col("doc_id") % 2).cast("int"))
    )
    b0 = d.filter(F.col("slice_id") == 0)
    b1 = d.filter(F.col("slice_id") == 1)
    cells_store = tempfile.mkdtemp(prefix="mix_cells_")

    def snapshot():
        return sorted(
            tuple(r) for r in spark.read.parquet(cells_store).collect()
        )

    mix_partials(b0, 0, cells_store)
    mix_partials(b1, 1, cells_store)
    after_clean = snapshot()
    mix_partials(b1, 1, cells_store)  # replay newest epoch
    assert snapshot() == after_clean
    mix_partials(b0, 0, cells_store)  # out-of-order replay of older epoch
    assert snapshot() == after_clean


def test_dup_timeline_partials_replay_idempotent(spark, sf_dir):
    """s_dup_timeline's exactly-once contract: replaying an epoch's
    kernel leaves the cells store byte-identical — partials are a pure
    function of the batch committed through batch-id-keyed dynamic
    partition overwrite, and first-occurrence attribution happens at
    read time so no cross-batch state can double-count."""
    import tempfile

    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.streaming.curation import (
        dup_timeline_partials,
    )

    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .withColumn("slice_id", (F.col("doc_id") % 2).cast("int"))
    )
    n = int(d.agg(F.max("doc_id") + 1).collect()[0][0])
    b0 = d.filter(F.col("slice_id") == 0)
    b1 = d.filter(F.col("slice_id") == 1)
    cells_store = tempfile.mkdtemp(prefix="duptl_cells_")

    def snapshot():
        return sorted(
            tuple(r) for r in spark.read.parquet(cells_store).collect()
        )

    dup_timeline_partials(b0, 0, cells_store, n)
    dup_timeline_partials(b1, 1, cells_store, n)
    after_clean = snapshot()
    dup_timeline_partials(b1, 1, cells_store, n)  # replay newest epoch
    assert snapshot() == after_clean
    dup_timeline_partials(b0, 0, cells_store, n)  # out-of-order replay
    assert snapshot() == after_clean


def test_decon_partials_replay_idempotent(spark, sf_dir):
    """s_decontaminate's exactly-once contract: replaying an epoch's
    kernel against the frozen bench store leaves the output store
    byte-identical (pure function of batch + frozen store, batch-id-
    keyed dynamic partition overwrite)."""
    import tempfile

    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.operators.curation import (
        _gram_hashes,
    )
    from spring_cloud_kafka_streams_dbz_etl_spark.queries.curation import (
        DECON_BENCH_DOCS,
        DECON_N,
    )
    from spring_cloud_kafka_streams_dbz_etl_spark.streaming.curation import (
        decon_partials,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    bench_store = tempfile.mkdtemp(prefix="decon_bench_")
    out_store = tempfile.mkdtemp(prefix="decon_out_")
    (
        _gram_hashes(
            d.filter(F.col("doc_id") < DECON_BENCH_DOCS), DECON_N,
            "doc_id", "text",
        )
        .select(F.col("__gh").alias("gh"), F.col("doc_id").alias("bench_doc"))
        .distinct().coalesce(1).write.mode("overwrite").parquet(bench_store)
    )
    corpus = d.filter(F.col("doc_id") >= DECON_BENCH_DOCS)
    b0 = corpus.filter(F.col("doc_id") % 2 == 0)
    b1 = corpus.filter(F.col("doc_id") % 2 == 1)

    def snapshot():
        return sorted(
            tuple(r) for r in spark.read.parquet(out_store).collect()
        )

    decon_partials(b0, 0, bench_store, out_store)
    decon_partials(b1, 1, bench_store, out_store)
    after_clean = snapshot()
    decon_partials(b1, 1, bench_store, out_store)
    assert snapshot() == after_clean
    decon_partials(b0, 0, bench_store, out_store)
    assert snapshot() == after_clean


def test_importance_partials_replay_idempotent(spark, sf_dir):
    """s_importance_select's exactly-once contract: replaying an
    epoch's featurizer kernel leaves the feature store byte-identical —
    partials are a pure function of the batch committed through
    batch-id-keyed dynamic partition overwrite, and scoring happens at
    read time so no cross-batch state can bake in a partial
    denominator."""
    import tempfile

    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.streaming.curation import (
        importance_partials,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    b0 = d.filter(F.col("doc_id") % 2 == 0)
    b1 = d.filter(F.col("doc_id") % 2 == 1)
    feat_store = tempfile.mkdtemp(prefix="dsir_feat_")

    def snapshot():
        return sorted(
            tuple(r) for r in spark.read.parquet(feat_store).collect()
        )

    importance_partials(b0, 0, feat_store)
    importance_partials(b1, 1, feat_store)
    after_clean = snapshot()
    importance_partials(b1, 1, feat_store)  # replay newest epoch
    assert snapshot() == after_clean
    importance_partials(b0, 0, feat_store)  # out-of-order replay
    assert snapshot() == after_clean


def test_is_path_missing_classifies_by_error_class_first():
    """The first-batch guard's classifier (ADVICE r16): when the
    exception carries a Spark error class, that class DECIDES — a
    corrupt-store error whose message merely mentions 'Path does not
    exist' must NOT classify as missing; the message substring is only
    the fallback for classless exceptions."""
    from pyspark.errors import AnalysisException

    from spring_cloud_kafka_streams_dbz_etl_spark.streaming.curation import (
        _is_path_missing,
    )

    class _WithCond(AnalysisException):
        def __init__(self, msg, cond):
            self._m, self._c = msg, cond

        def getCondition(self):
            return self._c

        def __str__(self):
            return self._m

    assert _is_path_missing(_WithCond("anything", "PATH_NOT_FOUND"))
    # class wins over a misleading message
    assert not _is_path_missing(
        _WithCond("corrupt footer (Path does not exist marker in text)",
                  "CANNOT_READ_FILE_FOOTER")
    )
    # classless AnalysisException falls back to the message check
    assert _is_path_missing(AnalysisException("Path does not exist: /x"))
    assert not _is_path_missing(RuntimeError("unrelated failure"))


def test_curation_funnel_corrupt_digest_store_raises(spark, sf_dir):
    """funnel_partials' first-batch guard is ONLY for path-not-found
    (ADVICE r15): a digest store that EXISTS but cannot be read (corrupt
    footer) must fail the batch loudly — silently treating it as empty
    would skip the seen-set and overcount newly-admitted digests (k3),
    quietly re-admitting duplicates."""
    import os
    import tempfile

    import pytest
    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.streaming.curation import (
        funnel_partials,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    b0 = d.filter(F.col("doc_id") % 7 == 0)
    digest_store = tempfile.mkdtemp(prefix="funnel_corrupt_")
    rollup = tempfile.mkdtemp(prefix="funnel_corrupt_ru_")
    with open(os.path.join(digest_store, "part-corrupt.parquet"), "wb") as f:
        f.write(b"not a parquet footer")
    with pytest.raises(Exception) as exc_info:
        funnel_partials(b0, 1, digest_store, rollup)
    assert "PATH_NOT_FOUND" not in str(exc_info.value)
    # the batch failed before committing its partial: rollup stays absent
    assert not os.listdir(rollup)


def test_curation_funnel_checkpoint_restart(spark, sf_dir):
    """s_curation_funnel's recovery path through Spark's OWN checkpoint:
    stop the stream after the first shard, start a NEW query from the
    same checkpoint for the remaining shards, and the re-aggregated
    funnel must equal the single-run batch funnel — the partials commit
    idempotently even when the engine decides which epochs replay."""
    import tempfile

    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.streaming.curation import (
        funnel_partials,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", (F.col("doc_id") % 3).alias("bucket")
    )
    src = tempfile.mkdtemp(prefix="fnl_src_")
    digest_store = tempfile.mkdtemp(prefix="fnl_dg_")
    rollup = tempfile.mkdtemp(prefix="fnl_ru_")
    ckpt = tempfile.mkdtemp(prefix="fnl_ck_")
    first = d.filter(F.col("bucket") == 0).drop("bucket")
    first.coalesce(1).write.mode("overwrite").parquet(src)

    def start():
        stream = spark.readStream.schema(first.schema).parquet(src)
        return (
            stream.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(
                lambda b, e: funnel_partials(b, e, digest_store, rollup)
            )
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # restart from the same checkpoint; shards 1 and 2 arrive after
    q = start()
    try:
        q.processAllAvailable()
        for b in (1, 2):
            d.filter(F.col("bucket") == b).drop("bucket").coalesce(
                1
            ).write.mode("append").parquet(src)
            q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(rollup).agg(
        F.sum("total").alias("total"),
        F.sum("k1").alias("k1"),
        F.sum("k2").alias("k2"),
        F.sum("k3").alias("k3"),
    ).collect()[0]
    # single-pass batch reference over the same corpus
    from spring_cloud_kafka_streams_dbz_etl_spark.functions.textfns import (
        en_stopword_count,
        tokens,
    )
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.curation import (
        quality_score,
    )

    toks = tokens(F.col("text"))
    en_ratio = en_stopword_count(toks) / F.size(toks)
    flags = d.select(
        (en_ratio >= 0.05).alias("lang_ok"),
        (quality_score(F.col("text")) >= 0.5).alias("q_ok"),
        F.md5("text").alias("h"),
    )
    exp = flags.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col("lang_ok"), 1).otherwise(0)).alias("k1"),
        F.sum(F.when(F.col("lang_ok") & F.col("q_ok"), 1).otherwise(0)).alias(
            "k2"
        ),
        F.count_distinct(
            F.when(F.col("lang_ok") & F.col("q_ok"), F.col("h"))
        ).alias("k3"),
    ).collect()[0]
    assert tuple(got) == tuple(exp)
