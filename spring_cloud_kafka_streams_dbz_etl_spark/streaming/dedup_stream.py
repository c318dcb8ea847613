"""Incremental MinHash near-dup dedup as a streaming topology.

`s_dedup_stream` / `s_curation_incremental` handle EXACT duplicates
across batches; real crawl shards also carry NEAR-duplicates of content
accepted weeks earlier. This topology deduplicates near-dups
incrementally with bounded state: the signature store (k minhash slots +
LSH band keys per seen doc — dozens of bytes, never the text) is the
cross-batch state, appended per batch like the sink-as-state pattern.

Similarity predicate (uniform within-batch and cross-batch, so the
whole stream is oracle-expressible without re-reading old text):
candidate via LSH band collision, then accepted as a near-dup when at
least ``min_slots`` of the k minhash slots agree — the standard
signature-based Jaccard estimate (E[matching slots] = k·J; with k=6 and
min_slots=3 the threshold sits at J≈0.5, matching q_minhash_near_dup's
verify threshold in expectation).

Per micro-batch:
1. shingle -> minhash signature -> band keys for arriving docs (docs
   too short to shingle are auto-accepted singletons);
2. WITHIN-batch: band self-join -> slot-match pairs -> connected
   components -> keep the min doc_id per cluster;
3. CROSS-batch: batch bands join the signature STORE's bands -> slot
   match vs stored signatures -> any hit rejects the new doc (the
   content is already represented in the sink);
4. survivors append to the sink; ALL batch signatures/bands append to
   the store (rejected dups too — future shards must dedup against
   everything seen, not just survivors).

Scale: state rows are (id, k ints) + (id, band rows) — measured
168 B/doc parquet-encoded at sf0.1, CONSTANT in document length where
text grows unbounded; the cross-batch probe is a band equi-join
that reads only the store's band columns (column pruning), and the
store partitions by band_hash prefix at scale. No unbounded stream
state, no watermark coupling: exactly the sink-as-state contract.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dedup import lsh_bands, minhash_signature, shingle
from .curation import DOCUMENTS_FILE_SCHEMA

ACCEPTED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("shard", T.IntegerType(), True),
    ]
)


BAND_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("band_idx", T.IntegerType(), True),
        T.StructField("band_hash", T.StringType(), True),
    ]
)


@dataclass
class MinhashStreamConfig:
    src_dir: str  # documents*.parquet shards arrive here
    out_path: str  # accepted (doc_id, shard) sink
    state_path: str  # signature store root (sig/ + bands/ subdirs)
    checkpoint: str
    k: int = 6
    bands: int = 3
    min_slots: int = 3  # >= this many agreeing slots => near-dup
    max_files_per_trigger: int | None = None
    # Crash injection (testing the recovery contract, the
    # kafka_transcript_sink pattern): epochs whose FIRST attempt raises
    # AFTER all sink/state writes land — the exact torn state a real
    # failure-before-checkpoint-commit leaves, which the replayed epoch
    # must absorb idempotently.
    crash_after_write_epochs: frozenset = frozenset()


def _slot_match(k: int, min_slots: int) -> F.Column:
    agree = None
    for j in range(k):
        t = F.when(F.col(f"a_mh_{j}") == F.col(f"b_mh_{j}"), 1).otherwise(0)
        agree = t if agree is None else agree + t
    return agree >= min_slots


def build_minhash_dedup_stream(spark: SparkSession, cfg: MinhashStreamConfig):
    """Returns an unstarted writer factory (StreamRegistry contract)."""
    reader = spark.readStream.schema(DOCUMENTS_FILE_SCHEMA).option(
        "pathGlobFilter", "documents*.parquet"
    )
    if cfg.max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", cfg.max_files_per_trigger)
    src = reader.parquet(cfg.src_dir)
    sig_path = f"{cfg.state_path}/sig"
    band_path = f"{cfg.state_path}/bands"
    attempts: dict[int, int] = {}

    def process(batch: DataFrame, epoch_id: int) -> None:
        import os

        from ..operators.graph import connected_components

        spark_l = batch.sparkSession
        # guide §1.5: label the epoch's jobs so the UI/REST census can
        # attribute the micro-batch's work (descriptions are thread-local
        # and purely cosmetic)
        spark_l.sparkContext.setJobDescription(f"mhs epoch {epoch_id}")
        toks = F.split(F.col("text"), " ")

        def with_sigs(pairs: DataFrame, right_sig: DataFrame) -> DataFrame:
            a = sig.select(
                F.col("doc_id").alias("id_a"),
                *[F.col(f"mh_{j}").alias(f"a_mh_{j}") for j in range(cfg.k)],
            )
            b = right_sig.select(
                F.col("doc_id").alias("id_b"),
                *[F.col(f"mh_{j}").alias(f"b_mh_{j}") for j in range(cfg.k)],
            )
            return (
                pairs.join(a, "id_a")
                .join(b, "id_b")
                .filter(_slot_match(cfg.k, cfg.min_slots))
                .select("id_a", "id_b")
            )

        # Everything from here through the CC call operates on ONE
        # micro-batch's relations — bounded by the trigger, never
        # corpus-sized — so AQE and auto-broadcast are pinned off for the
        # whole region: cached plans are captured at .persist() call time,
        # and every AQE stage materialization and broadcast build runs as
        # its own job — pure per-job scheduling tax at micro-batch sizes
        # (without the pin, s_minhash_incremental at sf0.01 runs 48 jobs
        # instead of 29, local[4]). One try/finally restores the confs
        # BEFORE the store probe and the sinks, which face the unbounded
        # signature store and keep the adaptive shape, and on any failure
        # in between. The pin cannot reach another query: foreachBatch
        # hands the batch the stream's own clone of the session
        # (StreamExecution's cloneSession), so the caller's session — and
        # every query planned on it meanwhile — never sees the flipped
        # confs (tests/test_dedup_stream.py pins that).
        aqe_key = "spark.sql.adaptive.enabled"
        bcast_key = "spark.sql.autoBroadcastJoinThreshold"
        aqe_before = spark_l.conf.get(aqe_key, "true")
        bcast_before = spark_l.conf.get(bcast_key, "10485760")
        try:
            spark_l.conf.set(aqe_key, "false")
            spark_l.conf.set(bcast_key, "-1")
            docs = batch.select(
                "doc_id",
                F.lit(int(epoch_id)).cast("int").alias("shard"),
                toks.alias("toks"),
            ).persist()
            shingled = docs.filter(F.size("toks") >= 3).select(
                "doc_id", shingle(F.col("toks"), 3).alias("shingles")
            )
            sig = minhash_signature(shingled, "doc_id", "shingles", k=cfg.k).persist()
            bands = lsh_bands(sig, "doc_id", k=cfg.k, bands=cfg.bands).persist()
            # within-batch: band self-join -> slot-verified edges -> CC keep-min
            ba = bands.select(F.col("doc_id").alias("id_a"), "band_idx", "band_hash")
            bb = bands.select(F.col("doc_id").alias("id_b"), "band_idx", "band_hash")
            in_cand = (
                ba.join(bb, ["band_idx", "band_hash"])
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
                .distinct()
            )
            spark_l.sparkContext.setJobDescription(f"mhs e{epoch_id}: cc")
            # the eager materializations (edge cache fill, labels) all
            # happen inside this call — still in the pinned region
            comp = connected_components(
                docs.select("doc_id"),
                with_sigs(in_cand, sig),
                id_col="doc_id",
                src="id_a",
                dst="id_b",
            )
        finally:
            spark_l.conf.set(aqe_key, aqe_before)
            spark_l.conf.set(bcast_key, bcast_before)
        batch_keep = comp.filter(F.col("id") == F.col("component")).select(
            F.col("id").alias("doc_id")
        )

        # cross-batch: probe the signature store (state), reject on any
        # hit. Only STRICTLY EARLIER epochs participate: a replayed epoch
        # finds its own failed attempt's signatures in the store, and
        # without the _batch_id < epoch filter every batch doc would
        # slot-match ITSELF (6/6) and be self-rejected — the replay would
        # silently emit zero survivors. The filter is partition pruning
        # on the state layout, so the probe never reads the current
        # epoch's directories at all.
        if os.path.exists(band_path):
            seen_bands = spark_l.read.parquet(band_path).filter(
                F.col("_batch_id") < int(epoch_id)
            )
            seen_sig = spark_l.read.parquet(sig_path).filter(
                F.col("_batch_id") < int(epoch_id)
            )
            cross_cand = (
                bands.select(F.col("doc_id").alias("id_a"), "band_idx", "band_hash")
                .join(
                    seen_bands.select(
                        F.col("doc_id").alias("id_b"), "band_idx", "band_hash"
                    ),
                    ["band_idx", "band_hash"],
                )
                .select("id_a", "id_b")
                .distinct()
            )
            rejected = with_sigs(cross_cand, seen_sig).select(
                F.col("id_a").alias("doc_id")
            ).distinct()
            batch_keep = batch_keep.join(rejected, "doc_id", "left_anti")

        survivors = docs.select("doc_id", "shard").join(
            # docs with a signature survive only via cluster-min + no
            # cross hit; docs too short to shingle are singletons
            sig.select("doc_id"), "doc_id", "left_semi"
        ).join(batch_keep, "doc_id", "left_semi").unionByName(
            docs.select("doc_id", "shard").join(sig.select("doc_id"), "doc_id", "left_anti")
        )
        # batch-id-keyed dynamic overwrite (sources/sinks.py): a replayed
        # epoch REPLACES its own partitions in sink and state instead of
        # appending duplicates — checkpoint recovery stays exactly-once.
        from ..sources.sinks import idempotent_batch_write

        spark_l.sparkContext.setJobDescription(f"mhs e{epoch_id}: sink")
        idempotent_batch_write(survivors, epoch_id, cfg.out_path)
        # state: EVERY seen signature, survivors and dups alike
        spark_l.sparkContext.setJobDescription(f"mhs e{epoch_id}: sig state")
        idempotent_batch_write(sig, epoch_id, sig_path)
        spark_l.sparkContext.setJobDescription(f"mhs e{epoch_id}: band state")
        idempotent_batch_write(bands, epoch_id, band_path)
        spark_l.sparkContext.setJobDescription(None)
        for df in (bands, sig, docs):
            df.unpersist()
        attempts[epoch_id] = attempts.get(epoch_id, 0) + 1
        if epoch_id in cfg.crash_after_write_epochs and attempts[epoch_id] == 1:
            raise RuntimeError(
                f"injected crash after epoch {epoch_id} writes (before commit)"
            )

    def start():
        return (
            src.writeStream.outputMode("append")
            .option("checkpointLocation", cfg.checkpoint)
            .foreachBatch(process)
            .start()
        )

    return start


def read_accepted(spark: SparkSession, out_path: str) -> DataFrame:
    # project past the idempotent sink's _batch_id partition column
    return spark.read.parquet(out_path).select("doc_id", "shard")
