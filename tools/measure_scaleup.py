#!/usr/bin/env python
"""Measure how the heavy dedup/similarity operators scale with corpus size.

Synthesizes K× corpora from sf0.1 documents with WORKLOAD SHAPE held
constant: replica k's tokens are uniformly suffixed with "~k", which
preserves every intra-replica similarity exactly (same shingle overlaps)
while making replicas dissimilar to each other (disjoint shingle
spaces) — so true near-dup structure grows LINEARLY with K, and a
super-linear wall-time curve exposes a quadratic candidate stage.

Usage: python tools/measure_scaleup.py [max_K]   (default 4 -> runs 1,2,4)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def scaled_docs(spark, k_replicas: int):
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = base.selectExpr("max(doc_id)").collect()[0][0] + 1
    parts = []
    for k in range(k_replicas):
        toks = F.split(F.col("text"), " ")
        suffixed = F.array_join(
            F.transform(toks, lambda t: F.concat(t, F.lit(f"~{k}"))), " "
        )
        parts.append(
            base.select(
                (F.col("doc_id") + k * n).alias("doc_id"),
                (suffixed if k else F.col("text")).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(32).persist()


def run_op(label, df):
    t0 = time.time()
    n = df.count()
    return label, time.time() - t0, n


def ops(spark, docs):
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.dedup import (
        candidate_pairs,
        jaccard,
        lsh_bands,
        minhash_signature,
        prefix_filter_candidates,
        shingle,
        simhash_bits_arrow,
    )
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.graph import (
        connected_components,
    )

    toks = F.split(F.col("text"), " ")
    sh = docs.filter(F.size(toks) >= 3).select(
        "doc_id", shingle(toks, 3).alias("shingles")
    ).persist()
    sig = minhash_signature(sh, "doc_id", "shingles", k=6)
    bands = lsh_bands(sig, "doc_id", k=6, bands=3).persist()
    cand = candidate_pairs(bands, "doc_id")
    x = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sa"))
    y = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sb"))
    pairs = (
        cand.join(x, "id_a").join(y, "id_b")
        .select("id_a", "id_b", jaccard(F.col("sa"), F.col("sb")).alias("j"))
        .filter(F.col("j") >= 0.5)
    ).persist()
    yield run_op("minhash_pairs", pairs)

    comp = connected_components(
        docs.select("doc_id"), pairs.select("id_a", "id_b"),
        id_col="doc_id", src="id_a", dst="id_b",
    )
    yield run_op("dup_clusters_cc", comp)
    pairs.unpersist()

    fp = simhash_bits_arrow(
        docs.select("doc_id", F.array_distinct(F.split(F.col("text"), " ")).alias("t")),
        "doc_id", "t", width=64,
    ).persist()
    blocks = fp.select(
        "doc_id", "simhash",
        F.posexplode(F.array(*[
            F.shiftright("simhash", 16 * b).bitwiseAND(F.lit(65535)) for b in range(4)
        ])).alias("bi", "bv"),
    )
    a = blocks.select(F.col("doc_id").alias("da"), F.col("simhash").alias("ha"), "bi", "bv")
    b = blocks.select(F.col("doc_id").alias("db"), F.col("simhash").alias("hb"), "bi", "bv")
    sdup = (
        a.join(b, ["bi", "bv"]).filter(F.col("da") < F.col("db"))
        .select("da", "db", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("h"))
        .filter(F.col("h") <= 3).distinct()
    )
    yield run_op("simhash64_join", sdup)
    fp.unpersist()

    grams = docs.filter(F.size(toks) >= 2).select(
        "doc_id", "lang", "source",
        F.floor(F.col("n_chars") / 100).cast("int").alias("lb"),
        shingle(toks, 2).alias("grams"),
    ).persist()
    pf = prefix_filter_candidates(
        grams, "doc_id", "grams", 3, 10, block_cols=["lang", "source", "lb"]
    )
    yield run_op("prefix_jaccard_cands", pf)
    grams.unpersist()
    sh.unpersist()
    bands.unpersist()


# The r12/r13 heavy REGISTERED queries (VERDICT r13 ask #4): measured
# end-to-end through their registry callables against a synthesized K×
# sf dir, so the curve covers exactly what the driver runs — candidate
# generation, training, and the oracle-shaped output projection.
HEAVY_QUERIES = (
    "q_dedup_threshold_sweep",
    "q_dup_cluster_stats",
    "q_vocab_growth",
    "q_ann_coverage_curve",
    "q_index_health",
    # r14 batch additions (VERDICT r14 ask #4). q_bloom_skip WRITES the
    # corpus inside the query (bloom-filtered parquet + probe read-back),
    # so its row is write+read combined — the split is measured
    # separately below (bloom_write_read_split).
    "q_mad_outliers",
    "q_temporal_split_embargo",
    "q_shard_plan",
    "q_quality_calibration",
    "q_bloom_skip",
    # r15 addition: executes write_shards end-to-end (two-pass prefix
    # scan + one-file-per-shard write) before the read-back audit.
    "q_shard_write_audit",
    # r15 window additions + the r16 rebuild (VERDICT r15 ask #5).
    # q_vocab_coverage's single-partition row_number runs over the WORD
    # HISTOGRAM (vocabulary-sized): under the "~k"-suffix replica rule
    # the vocabulary ALSO grows ~linearly with K, so this curve is the
    # worst case for that rank term — if it bends super-linear, the
    # range-bucketed rank from q_perplexity_filter is the drop-in.
    # q_shard_read_plan runs the two-pass assign_shards inside the
    # builder (r16 rebuild) — its curve prices the registered data path.
    "q_curation_funnel",
    "q_langid_confusion",
    "q_source_mix_drift",
    "q_shard_read_plan",
    "q_vocab_coverage",
    # r16 reserve additions.
    "q_eval_gram_coverage",
    "q_chunk_langid_mix",
    "q_quality_length_corr",
    "q_knn_hubness",
    "q_dup_timeline",
    "q_quality_gate_sweep",
    "q_langid_gate_sweep",
    "q_gate_interaction",
    # r17 reserve additions. q_knn_graph_ivf is the production-blocking
    # demonstration (VERDICT r16 #5) — its curve should stay flat where
    # q_knn_graph's label-blocked curve accelerates (x K^2 signature);
    # measured side by side in SCALE.md (r17: 0.95x vs 3.0x per
    # doubling at K=8).
    "q_knn_graph_ivf",
    "q_knn_mutual",
    "q_hybrid_retrieval",
    "q_importance_select",
    "q_budget_prune",
)


def scaled_embeddings(spark, k_replicas: int):
    """K× embeddings with workload shape held constant: replica k's
    vectors are cyclically rotated by k dimensions — norms and every
    intra-replica pairwise distance are preserved exactly (so cluster
    structure grows linearly with K), while cross-replica similarity is
    scrambled."""
    base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = base.selectExpr("max(vec_id)").collect()[0][0] + 1
    dim = len(base.first()["embedding"])
    parts = []
    for k in range(k_replicas):
        rot = F.concat(
            F.slice(F.col("embedding"), k % dim + 1, dim - k % dim),
            F.slice(F.col("embedding"), 1, k % dim),
        ) if k % dim else F.col("embedding")
        parts.append(
            base.select(
                (F.col("vec_id") + k * n).alias("vec_id"),
                rot.alias("embedding"),
                "label",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def scaled_events(spark, k_replicas: int):
    """K× events with workload shape held constant: replica k offsets
    event_id and user_id by k×N (per-user session structure preserved,
    user count grows linearly) and keeps ts UNCHANGED — the hour
    histogram keeps its shape with K× the mass per hour, so rank-based
    temporal queries (q_temporal_split_embargo) see linear data growth
    over a constant number of rank buckets."""
    from spring_cloud_kafka_streams_dbz_etl_spark.catalog import table as _t

    base = _t(spark, SF_DIR, "events")
    n_ev = base.selectExpr("max(event_id)").collect()[0][0] + 1
    n_us = base.selectExpr("max(user_id)").collect()[0][0] + 1
    parts = [
        base.select(
            (F.col("event_id") + k * n_ev).alias("event_id"),
            "ts",
            (F.col("user_id") + k * n_us).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        for k in range(k_replicas)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def scaled_sf_dir(spark, k_replicas: int) -> str:
    """Materialize a K× sf directory: scaled documents + embeddings +
    events, every other table symlinked from the base SF (the heavy
    queries only read these three, but the registry callables resolve
    the whole dir through catalog.table)."""
    import tempfile

    tmp = tempfile.mkdtemp(prefix=f"scaleup_k{k_replicas}_")
    docs = scaled_docs(spark, k_replicas)
    docs.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    docs.unpersist()
    scaled_embeddings(spark, k_replicas).repartition(32).write.mode(
        "overwrite"
    ).parquet(f"{tmp}/embeddings.parquet")
    scaled_events(spark, k_replicas).repartition(32).write.mode(
        "overwrite"
    ).parquet(f"{tmp}/events.parquet")
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem"):
        os.symlink(f"{SF_DIR}/{t}.parquet", f"{tmp}/{t}.parquet")
    return tmp


def bloom_write_read_split(spark, sf_dir: str) -> tuple[float, float]:
    """q_bloom_skip's cost decomposed (VERDICT r14 ask #4): the query
    WRITES the bloom-filtered corpus and then probes it, so its
    end-to-end row carries write amplification. Time the phases apart
    with the query's exact options: at 100 TB the write runs once at
    ingest and the probe is the recurring serving cost."""
    import tempfile

    from spring_cloud_kafka_streams_dbz_etl_spark.catalog import table
    from spring_cloud_kafka_streams_dbz_etl_spark.queries.layout import (
        BLOOM_PROBE_STRIDE,
    )

    d = table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="bloomsplit_")
    t0 = time.time()
    (
        d.select("doc_id", F.md5("text").alias("digest"), "n_chars")
        .coalesce(4)
        .sortWithinPartitions("doc_id")
        .write.option("parquet.bloom.filter.enabled#digest", "true")
        .option("parquet.bloom.filter.expected.ndv#digest", "100000")
        .option("parquet.block.size", str(8 * 1024))
        .mode("overwrite")
        .parquet(path)
    )
    t_write = time.time() - t0
    t0 = time.time()
    probes = [
        r["digest"]
        for r in d.filter(F.col("doc_id") % BLOOM_PROBE_STRIDE == 0)
        .select(F.md5("text").alias("digest"))
        .collect()
    ]
    spark.read.parquet(path).filter(
        F.col("digest").isin(probes)
    ).write.format("noop").mode("overwrite").save()
    t_read = time.time() - t0
    return t_write, t_read


def heavy_query_curve(spark, max_k: int) -> None:
    from spring_cloud_kafka_streams_dbz_etl_spark.queries import all_queries

    specs = all_queries()
    results: dict[str, list[tuple[int, float]]] = {}
    k = 1
    while k <= max_k:
        sf_dir = scaled_sf_dir(spark, k)
        print(f"-- heavy registered queries, K={k} ({sf_dir})")
        tw, tr = bloom_write_read_split(spark, sf_dir)
        results.setdefault("bloom_skip[write]", []).append((k, tw))
        results.setdefault("bloom_skip[probe]", []).append((k, tr))
        print(f"   bloom split: write {tw:.2f}s / probe {tr:.2f}s", flush=True)
        for name in HEAVY_QUERIES:
            t0 = time.time()
            specs[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            secs = time.time() - t0
            results.setdefault(name, []).append((k, secs))
            print(f"   {name:26s} {secs:6.2f}s", flush=True)
        k *= 2
    print("\nheavy-query scaling factors (time_K / time_1 vs K):")
    for name, rows in results.items():
        base = rows[0][1]
        curve = ", ".join(f"K={kk}: {secs/base:.2f}x" for kk, secs in rows)
        print(f"  {name:26s} {curve}")


def main() -> int:
    from spring_cloud_kafka_streams_dbz_etl_spark.session import get_spark, tune

    spark = get_spark("scaleup")
    tune(spark)
    max_k = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    k = 1
    results = {}
    while k <= max_k:
        docs = scaled_docs(spark, k)
        n_docs = docs.count()
        print(f"-- K={k} ({n_docs:,} docs)")
        for label, secs, n in ops(spark, docs):
            results.setdefault(label, []).append((k, secs, n))
            print(f"   {label:22s} {secs:6.2f}s  rows={n:,}")
        docs.unpersist()
        k *= 2
    print("\nscaling factors (time_K / time_1 vs K):")
    for label, rows in results.items():
        base = rows[0][1]
        curve = ", ".join(f"K={k}: {secs/base:.2f}x" for k, secs, _ in rows)
        print(f"  {label:22s} {curve}")
    heavy_query_curve(spark, max_k)
    return 0


if __name__ == "__main__":
    sys.exit(main())
