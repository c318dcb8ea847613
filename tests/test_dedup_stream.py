"""Incremental MinHash dedup stream: replay/recovery semantics.

The oracle-parity suite pins the happy-path result; these tests pin the
EXACTLY-ONCE contract under checkpoint recovery — a micro-batch whose
sink AND state writes all landed but whose commit never happened (crash
injected between write and commit, the kafka_transcript_sink pattern),
so Structured Streaming re-runs the same epoch through foreachBatch
against its own failed attempt's on-disk output — and a micro-batch
whose staged commit failed before its publish, which must leave nothing
of the epoch visible.
"""

from __future__ import annotations

import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from spring_cloud_kafka_streams_dbz_etl_spark.streaming.dedup_stream import (
    MinhashStreamConfig,
    build_minhash_dedup_stream,
    read_accepted,
)


def test_epoch_replay_after_crash_is_exactly_once(spark, sf_smoke, tmp_path):
    """Epoch 1's first attempt crashes AFTER all sink/state writes land.
    The restart re-runs epoch 1 with the failed attempt's rows on disk:
    the batch-id-keyed idempotent writes must replace (not append), and
    the state probe must ignore the epoch's own failed-attempt
    signatures (else every doc self-matches 6/6 slots and the replay
    silently emits zero survivors)."""
    src = tmp_path / "src"
    src.mkdir()
    docs = pq.read_table(f"{sf_smoke}/documents.parquet")
    even = pc.equal(pc.bit_wise_and(docs["doc_id"], 1), 0)
    pq.write_table(docs.filter(even), str(src / "documents.parquet"))

    out, state, ckpt = (str(tmp_path / d) for d in ("out", "state", "ckpt"))
    cfg = MinhashStreamConfig(
        src_dir=str(src),
        out_path=out,
        state_path=state,
        checkpoint=ckpt,
        crash_after_write_epochs=frozenset({1}),
    )
    # ONE builder: the attempts counter (first-attempt-only crash) lives
    # in its closure across restarts, like kafka_transcript_sink
    start = build_minhash_dedup_stream(spark, cfg)

    q = start()
    q.processAllAvailable()  # epoch 0 (shard 1) commits

    tmp2 = str(src / ".documents2.parquet.tmp")
    pq.write_table(docs.filter(pc.invert(even)), tmp2)
    os.rename(tmp2, str(src / "documents2.parquet"))
    crashed = False
    try:
        q.processAllAvailable()  # epoch 1 writes everything, then crashes
    except Exception:
        crashed = True
    finally:
        try:
            q.stop()
        except Exception:
            pass
    assert crashed, "injected crash did not surface"

    # torn state is on disk: epoch 1's sink partition AND state partitions
    # exist even though the epoch never committed
    assert os.path.exists(os.path.join(out, "_batch_id=1"))
    assert os.path.exists(os.path.join(state, "sig", "_batch_id=1"))

    q = start()  # restart: epoch 1 replays over its own failed output
    q.processAllAvailable()
    q.stop()

    accepted = read_accepted(spark, out)
    rows = sorted(map(tuple, accepted.collect()))
    # exactly-once: no duplicate doc_ids across the whole sink
    assert len(rows) == len({r[0] for r in rows}), "duplicate accepted docs"
    # no self-rejection: shard 1 (odd ids, epoch 1) still has survivors
    n_shard1 = sum(1 for _, s in rows if s == 1)
    assert n_shard1 > 0, "replayed epoch self-rejected against its own state"
    # state exactly-once: one signature row per shingled doc
    sig = spark.read.parquet(os.path.join(state, "sig"))
    assert sig.count() == sig.select("doc_id").distinct().count()


def test_result_matches_crash_free_run(spark, sf_smoke, tmp_path):
    """The crash-and-replay run must produce byte-identical accepted
    rows to a crash-free run over the same shards."""

    def run(base, crash_epochs):
        src = base / "src"
        src.mkdir(parents=True)
        docs = pq.read_table(f"{sf_smoke}/documents.parquet")
        even = pc.equal(pc.bit_wise_and(docs["doc_id"], 1), 0)
        pq.write_table(docs.filter(even), str(src / "documents.parquet"))
        cfg = MinhashStreamConfig(
            src_dir=str(src),
            out_path=str(base / "out"),
            state_path=str(base / "state"),
            checkpoint=str(base / "ckpt"),
            crash_after_write_epochs=crash_epochs,
        )
        start = build_minhash_dedup_stream(spark, cfg)
        q = start()
        q.processAllAvailable()
        tmp2 = str(src / ".d2.tmp")
        pq.write_table(docs.filter(pc.invert(even)), tmp2)
        os.rename(tmp2, str(src / "documents2.parquet"))
        try:
            q.processAllAvailable()
        except Exception:
            pass
        finally:
            try:
                q.stop()
            except Exception:
                pass
        if crash_epochs:
            q = start()
            q.processAllAvailable()
            q.stop()
        return sorted(map(tuple, read_accepted(spark, str(base / "out")).collect()))

    clean = run(tmp_path / "clean", frozenset())
    replayed = run(tmp_path / "crash", frozenset({1}))
    assert clean == replayed


@pytest.mark.parametrize("epoch", [0, 1])
def test_failed_publish_leaves_no_partition_and_replay_matches_crash_free_run(
    spark, sf_smoke, tmp_path, monkeypatch, epoch
):
    """A failure injected in the epoch's publish — after the survivors,
    sig and bands parts are all staged — leaves no ``_batch_id=<epoch>``
    partition (and no staged leftover) in the sink or either store, and
    the restarted stream's replay of the epoch accepts exactly the rows
    of a crash-free run. Epoch 0 also covers a store that the failed
    attempt left as an empty directory."""
    from spring_cloud_kafka_streams_dbz_etl_spark.sources import sinks

    docs = pq.read_table(f"{sf_smoke}/documents.parquet")
    even = pc.equal(pc.bit_wise_and(docs["doc_id"], 1), 0)
    shards = [docs.filter(even), docs.filter(pc.invert(even))]
    real_publish, failed = sinks._publish_parts, []

    def failing_publish(handles, staged, batch_id):
        if batch_id == epoch and not failed:
            failed.append([
                sorted(os.listdir(d)) if os.path.isdir(d) else []
                for d in (out, f"{state}/sig", f"{state}/bands")
            ])
            raise RuntimeError(f"injected failure in epoch {batch_id}'s publish")
        return real_publish(handles, staged, batch_id)

    def run(base):
        src = base / "src"
        src.mkdir(parents=True)
        cfg = MinhashStreamConfig(
            src_dir=str(src), out_path=str(base / "out"),
            state_path=str(base / "state"), checkpoint=str(base / "ckpt"),
        )
        start = build_minhash_dedup_stream(spark, cfg)
        q = start()
        for k, shard in enumerate(shards):
            pq.write_table(shard, str(src / f".d{k}.tmp"))
            os.rename(str(src / f".d{k}.tmp"), str(src / f"documents{k}.parquet"))
            try:
                q.processAllAvailable()
            except Exception:
                assert failed, "the stream failed without the injected failure"
                for d in (cfg.out_path, f"{cfg.state_path}/sig", f"{cfg.state_path}/bands"):
                    names = os.listdir(d) if os.path.isdir(d) else []
                    assert f"_batch_id={epoch}" not in names, (d, names)
                    assert not [n for n in names if n.startswith("._")], (d, names)
                q = start()  # restart: the epoch replays
                q.processAllAvailable()
        q.stop()
        return sorted(map(tuple, read_accepted(spark, cfg.out_path).collect()))

    clean = run(tmp_path / "clean")
    out, state = str(tmp_path / "crash" / "out"), str(tmp_path / "crash" / "state")
    monkeypatch.setattr(sinks, "_publish_parts", failing_publish)
    replayed = run(tmp_path / "crash")
    # every part was staged under a hidden name when the publish failed
    assert failed and all(any(n.startswith("._") for n in names) for names in failed[0])
    assert clean == replayed


def test_micro_batch_pin_leaves_outer_session_conf_alone(spark, sf_smoke, tmp_path, monkeypatch):
    """The epoch body pins AQE and auto-broadcast off, but on the stream's
    own clone of the session (foreachBatch's ``batch.sparkSession``): no
    flip lands on the caller's session, so no query planned on it while
    the stream runs sees them, and its confs read the same afterwards."""
    from pyspark.sql.conf import RuntimeConfig

    keys = (
        "spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.shuffle.partitions",
    )
    before = {k: spark.conf.get(k) for k in keys}
    outer = spark.conf._jconf
    flips = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        flips.append((key, self._jconf.equals(outer)))
        return real_set(self, key, value)

    src = tmp_path / "src"
    src.mkdir()
    docs = pq.read_table(f"{sf_smoke}/documents.parquet")
    even = pc.equal(pc.bit_wise_and(docs["doc_id"], 1), 0)
    pq.write_table(docs.filter(even), str(src / "documents.parquet"))
    pq.write_table(docs.filter(pc.invert(even)), str(src / "documents2.parquet"))
    cfg = MinhashStreamConfig(
        src_dir=str(src),
        out_path=str(tmp_path / "out"),
        state_path=str(tmp_path / "state"),
        checkpoint=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    start = build_minhash_dedup_stream(spark, cfg)
    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    monkeypatch.undo()

    assert ("spark.sql.adaptive.enabled", False) in flips  # the pin ran
    assert [k for k, on_outer in flips if on_outer] == []
    assert {k: spark.conf.get(k) for k in keys} == before
    assert read_accepted(spark, cfg.out_path).count() > 0
