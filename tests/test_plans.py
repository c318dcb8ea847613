"""Physical-plan assertions: the scale properties the queries claim.

These pin that Catalyst actually produces the plan each query's docstring
promises — filter pushdown into the parquet scan, column pruning,
broadcast joins for dimensions — so a regression that silently degrades
the 100 TB story (e.g. a filter that stops pushing down) fails CI.
"""

from __future__ import annotations

from spring_cloud_kafka_streams_dbz_etl_spark.plans import (
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
)
import os as _os
import sys as _sys

# conftest.py is pytest-loaded, not an importable module from the repo
# root — pull its path constants via an explicit sys.path entry.
_sys.path.insert(0, _os.path.dirname(_os.path.abspath(__file__)))
from conftest import SF_ORACLE, SF_SCALE  # noqa: E402

from spring_cloud_kafka_streams_dbz_etl_spark.queries import all_queries  # noqa: E402

SPECS = all_queries()


def test_filter_pushdown_reaches_scan(spark, sf_smoke):
    df = SPECS["q_filter_predicate"].fn(spark, sf_smoke)
    pushed = " ".join(pushed_filters(df))
    assert "l_quantity" in pushed and "l_discount" in pushed, pushed


def test_column_pruning(spark, sf_smoke):
    df = SPECS["q_filter_predicate"].fn(spark, sf_smoke)
    scans = read_schema_columns(df)
    assert scans, "expected a parquet scan"
    # lineitem has 11 columns; the query needs only 6
    assert all(len(cols) <= 6 for cols in scans), scans


def test_enrich_join_broadcasts_dimension(spark, sf_smoke):
    df = SPECS["q_enrich_join"].fn(spark, sf_smoke)
    assert has_broadcast_join(df)


def test_star_join_broadcasts(spark, sf_smoke):
    df = SPECS["q_join_inner_multi"].fn(spark, sf_smoke)
    assert has_broadcast_join(df)


def test_agg_prunes_unused_columns(spark, sf_smoke):
    df = SPECS["q_agg_group"].fn(spark, sf_smoke)
    scans = read_schema_columns(df)
    assert scans and all("l_orderkey" not in cols for cols in scans), scans


def test_topk_no_global_sort(spark, sf_smoke):
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_sort_limit_topk"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "TakeOrderedAndProject" in text, text[:2000]


def test_range_join_is_broadcast_nlj(spark, sf_smoke):
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_range_join"].fn(spark, sf_smoke)
    text = explain_str(df)
    # tiny interval dim -> broadcast nested loop, NOT a cartesian product
    assert "BroadcastNestedLoopJoin" in text, text[:2000]
    assert "CartesianProduct" not in text


def test_histogram_single_exchange_partial_agg(spark, sf_smoke):
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_histogram"].fn(spark, sf_smoke)
    # simple mode prints each node once (formatted repeats nodes in details)
    tree = explain_str(df, mode="simple")
    assert tree.count("Exchange") == 1, tree[:2000]  # one shuffle: the groupBy
    assert "partial_" in explain_str(df)  # map-side combine before it


def test_unpivot_no_shuffle(spark, sf_smoke):
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_unpivot"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "Expand" in text, text[:2000]
    assert "Exchange" not in text  # melt is a pure map-side op


def test_quantize_no_shuffle_no_python(spark, sf_smoke):
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_vector_quantize"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "Exchange" not in text, text[:2000]
    assert "BatchEvalPython" not in text and "ArrowEvalPython" not in text


def test_cdc_parse_codec_stays_above_fanout_exchange(spark, sf_smoke):
    """Regression guard for the no_pushdown fix: the envelope codec
    (from_json / StructsToJson) must never appear BELOW the fan-out
    repartition — pushed-down codec predicates ran 5 evaluations per row
    at source parallelism (4x wall time at 1.6M rows)."""
    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.sources.cdc import (
        EVENTS_ENTITY,
        parse_envelopes,
        synthesize_envelopes,
    )

    src = spark.read.parquet(f"{sf_smoke}/events.parquet").repartition(8)
    stream = parse_envelopes(synthesize_envelopes(src, EVENTS_ENTITY), EVENTS_ENTITY)
    for df in (stream, stream.filter(~F.col("parse_failed"))):
        plan = df._jdf.queryExecution().executedPlan().toString()
        exchange_pos = plan.find("Exchange RoundRobinPartitioning")
        assert exchange_pos != -1, plan[:1500]
        below = plan[exchange_pos:]
        assert "from_json" not in below, below[:2000]
        assert "StructsToJson" not in below, below[:2000]


def test_cdc_parse_evaluates_from_json_once(spark, sf_smoke):
    """eval_once pins the envelope codec to ONE from_json evaluation per
    row in both forms of the CDC parse (sources/cdc.py::parse_envelopes)
    — the DLQ-keeping stream form and the batch form, which filters
    decode failures out. Without the guard Catalyst inlines the envelope
    alias into every referencing filter and projected field. The
    synthesized payload is guarded the same way: ONE to_json
    (StructsToJson) per row, not one in the tombstone filter and another
    inside from_json."""
    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.sources.cdc import (
        EVENTS_ENTITY,
        parse_envelopes,
        synthesize_envelopes,
    )

    src = spark.read.parquet(f"{sf_smoke}/events.parquet").repartition(8)
    stream = parse_envelopes(synthesize_envelopes(src, EVENTS_ENTITY), EVENTS_ENTITY)
    batch = stream.filter(~F.col("parse_failed")).select("id", "user_id", "value", "op")
    for df in (batch, stream):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("from_json(") == 1, plan[:3000]
        assert plan.count("StructsToJson") == 1, plan[:3000]


def test_doc_chunks_generate_only_no_shuffle(spark, sf_smoke):
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_doc_chunks"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "Generate" in text, text[:2000]
    assert "Exchange" not in text  # chunking streams from the scan
    assert "BatchEvalPython" not in text and "ArrowEvalPython" not in text


def test_stratified_sample_no_shuffle(spark, sf_smoke):
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_stratified_sample"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "Exchange" not in text, text[:2000]


def test_pack_sequences_single_shuffle(spark, sf_smoke):
    """The groupBy(source, bin) must reuse the window's hash partitioning
    on `source` — exactly one Exchange in the whole plan."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_pack_sequences"].fn(spark, sf_smoke)
    text = explain_str(df, mode="simple")
    assert text.count("Exchange") == 1, text[:3000]


def test_tfidf_no_per_document_broadcast(spark, sf_smoke):
    """VERDICT r01 fix: the only broadcast relations in q_tfidf may be
    per-TERM (vocab) or global (1-row corpus count) — never a per-document
    aggregate (billions of rows at 100 TB). Document length must come from
    a window over the tf partitioning instead."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_tfidf"].fn(spark, sf_smoke)
    text = explain_str(df, mode="simple")
    # Every BroadcastExchange subtree: grab its immediate child aggregate
    # keys; none may be keyed by doc_id alone (per-document relation).
    lines = text.splitlines()
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        child = lines[i + 1] if i + 1 < len(lines) else ""
        assert "keys=[doc_id" not in child, text[:3000]
    # and the per-doc total is computed as a window sum
    assert "Window [sum(" in text, text[:3000]


def test_cdc_dim_broadcast_is_size_aware(spark, sf_smoke):
    """VERDICT r01 fix: the CDC enrichment join broadcasts the dimension
    only when its estimated size fits under autoBroadcastJoinThreshold.
    The epoch body joins with no hint, so Catalyst's own join selection
    makes exactly that decision for the LEFT OUTER build side."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    dim = spark.read.parquet(f"{sf_smoke}/customer.parquet")
    fact = spark.range(100).withColumnRenamed("id", "user_id")

    def plan(threshold):
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        try:
            j = fact.join(dim, fact.user_id == dim.c_custkey, "left")
            return explain_str(j)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    small_dim = plan("10MB")  # sf0.001 customer ~ a few KB -> broadcast
    assert "BroadcastHashJoin" in small_dim, small_dim[:2000]
    big_dim = plan("-1")  # dimension over threshold -> no broadcast
    assert "BroadcastHashJoin" not in big_dim, big_dim[:2000]


def test_bm25_no_per_document_broadcast(spark, sf_smoke):
    """Same invariant as q_tfidf: only per-term / 1-row relations may be
    broadcast; document length must come from a window sum."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_bm25"].fn(spark, sf_smoke)
    text = explain_str(df, mode="simple")
    lines = text.splitlines()
    for i, line in enumerate(lines):
        if "BroadcastExchange" in line:
            child = lines[i + 1] if i + 1 < len(lines) else ""
            assert "keys=[doc_id" not in child, text[:3000]
    assert "Window [sum(" in text, text[:3000]


def test_lsh_cosine_bucket_equijoin_no_cartesian(spark, sf_smoke):
    """Candidates must come from the bucket equi-join (S-curve blocking),
    never an all-pairs cartesian."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_lsh_cosine"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "CartesianProduct" not in text, text[:2000]
    assert "BroadcastNestedLoopJoin" not in text, text[:2000]
    assert "band_hash" in text


def test_containment_no_cartesian(spark, sf_smoke):
    """Containment pairs come from the fingerprint equi-join."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_containment"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "CartesianProduct" not in text, text[:2000]
    assert "wmin" in text


def test_quality_gates_map_only(spark, sf_smoke):
    """Entropy + repetition are pure array expressions: no shuffle, no
    Python in the plan."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    for name in ("q_char_entropy", "q_repetition"):
        df = SPECS[name].fn(spark, sf_smoke)
        text = explain_str(df)
        assert "Exchange" not in text, (name, text[:2000])
        assert "BatchEvalPython" not in text and "ArrowEvalPython" not in text, name


def test_avro_and_media_pipelines_map_only_arrow(spark, sf_smoke):
    """The codec/decode pipelines are shuffle-free and Arrow-batched
    (MapInPandas stages, never row-at-a-time PythonUDF)."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    for name in ("q_avro_roundtrip", "q_media_decode"):
        df = SPECS[name].fn(spark, sf_smoke)
        text = explain_str(df)
        assert "Exchange" not in text, (name, text[:2000])
        assert "MapInPandas" in text, (name, text[:2000])
        assert "BatchEvalPython" not in text, name


def test_decontaminate_broadcasts_bench_no_cartesian(spark, sf_smoke):
    """Contamination candidates come from the broadcast hash probe on gram
    digests — the benchmark side must broadcast, never cartesian."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_decontaminate"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "CartesianProduct" not in text, text[:2000]
    assert has_broadcast_join(df)


def test_unigram_nll_broadcasts_vocab_not_docs(spark, sf_smoke):
    """The vocab count relation broadcasts; nothing doc-keyed may broadcast
    (the per-document-relation rule from the r01 tfidf finding)."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_unigram_nll"].fn(spark, sf_smoke)
    text = explain_str(df, mode="simple")
    assert has_broadcast_join(df)
    lines = text.splitlines()
    for i, line in enumerate(lines):
        if "BroadcastExchange" in line:
            child = lines[i + 1] if i + 1 < len(lines) else ""
            assert "keys=[doc_id" not in child, text[:3000]


def test_bpe_tokens_is_map_only(spark, sf_smoke):
    """Regex token counting must stay a shuffle-free scan-project."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_bpe_tokens"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "Exchange" not in text, text[:2000]


def test_repetition_is_map_only(spark, sf_smoke):
    """The sort-then-scan rewrite must not introduce a shuffle."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_repetition"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "Exchange" not in text, text[:2000]


def test_lsh_bits_for_scaling():
    """bits grow log2 with corpus size, holding E|bucket| at target."""
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.similarity import (
        lsh_bits_for,
    )

    assert lsh_bits_for(1_000, 1024) == 8          # floor
    assert lsh_bits_for(1_000_000, 1024) == 10
    assert lsh_bits_for(1_000_000_000, 1024) == 20
    # expected occupancy n / 2^bits stays <= target for big n
    for n in (10**6, 10**8, 10**10):
        bits = lsh_bits_for(n, 1024)
        assert n / (1 << bits) <= 1024


def test_lsh_pairs_sound_and_recall_matches_s_curve(spark, sf_smoke):
    """Every LSH pair must be a true >=threshold pair (soundness is exact:
    the within-bucket cosine IS the verifier), and observed recall must
    MATCH the S-curve prediction sum(1-(1-p_i^bits)^bands) over the true
    pairs' actual angles — validating the probability model the operator's
    scale story rests on. (At cos 0.35 predicted recall is only a few
    percent: banded-AND hyperplane LSH is a NEAR-DUP detector — its
    operating regime is cos >= ~0.9 where p^bits is large; moderate
    thresholds belong to the exact cell-blocked path,
    q_embedding_cosine_dup. The operator docstring states this.)"""
    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.catalog import table
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.similarity import (
        hyperplane_lsh_pairs,
    )
    from spring_cloud_kafka_streams_dbz_etl_spark.queries.similarity import (
        LSH_BANDS,
        LSH_COS_MIN,
        _SIGNS,
    )

    e = table(spark, sf_smoke, "embeddings")
    got = {
        (r.vec_a, r.vec_b)
        for r in hyperplane_lsh_pairs(
            e, signs=_SIGNS, bands=LSH_BANDS, threshold=LSH_COS_MIN
        ).collect()
    }
    # brute-force ground truth on the same integerized vectors
    iv = F.transform(
        F.col("embedding"), lambda x: F.floor(x.cast("double") * 1e6).cast("long")
    )
    v = e.select("vec_id", iv.alias("iv"))
    a = v.select(F.col("vec_id").alias("vec_a"), F.col("iv").alias("ia"))
    b = v.select(F.col("vec_id").alias("vec_b"), F.col("iv").alias("ib"))
    dot = lambda u, w: F.aggregate(  # noqa: E731
        F.zip_with(F.col(u), F.col(w), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cos = F.round(dot("ia", "ib") / (F.sqrt(dot("ia", "ia")) * F.sqrt(dot("ib", "ib"))), 6)
    truth_rows = (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("c"))
        .filter(F.col("c") >= LSH_COS_MIN)
        .collect()
    )
    truth = {(r.vec_a, r.vec_b) for r in truth_rows}
    assert got <= truth  # no false positives, ever
    assert truth, "smoke corpus must contain at least one true pair"

    # S-curve prediction: per true pair, P(kept) = 1 - (1 - p^bits)^bands
    # with p = 1 - theta/pi. The hyperplanes are md5-pseudorandom, not
    # actually angle-uniform, so allow a generous band around the binomial
    # expectation — this catches structural regressions (e.g. a band-hash
    # bug collapsing recall to ~0 or admitting everything), not noise.
    import math

    bits = len(_SIGNS) // LSH_BANDS
    probs = [
        1.0 - (1.0 - (1.0 - math.acos(max(-1.0, min(1.0, r.c))) / math.pi) ** bits)
        ** LSH_BANDS
        for r in truth_rows
    ]
    expected = sum(probs)
    sd = math.sqrt(sum(p * (1 - p) for p in probs))
    observed = len(got)
    assert abs(observed - expected) <= 6 * sd + 6, (
        f"recall off the S-curve: observed {observed} vs expected "
        f"{expected:.1f} ± {sd:.1f} over {len(truth)} true pairs"
    )


def test_pq_encode_matches_numpy_and_is_map_only(spark, sf_smoke):
    """PQ assignment == numpy brute-force argmin over the same codebooks;
    plan is a shuffle-free map whose only Python boundary is the single
    Arrow mapInPandas batch stream (the 100 TB contract — no Exchange,
    no per-row Python)."""
    import numpy as np

    from spring_cloud_kafka_streams_dbz_etl_spark.catalog import table
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.similarity import (
        PQ_K,
        PQ_SUBSPACES,
        pq_codebook,
        pq_encode,
    )
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    # no .limit() here: a global limit plans its own single-partition
    # Exchange and would mask the operator's shuffle-free claim
    e = table(spark, sf_smoke, "embeddings")
    out = pq_encode(e)
    text = explain_str(out)
    assert "Exchange" not in text, text[:2000]
    assert "MapInPandas" in text, text[:2000]
    assert "BatchEvalPython" not in text  # no per-row Python UDF

    rows = {r.vec_id: r for r in out.collect()}
    src = {r.vec_id: np.array(r.embedding, dtype="float64") for r in e.collect()}
    sub = 64 // PQ_SUBSPACES
    books = np.array(
        [[pq_codebook(m, k, sub) for k in range(PQ_K)] for m in range(PQ_SUBSPACES)]
    )  # (M, K, sub)
    for vid, vec in src.items():
        want_codes, want_err = [], 0.0
        for m in range(PQ_SUBSPACES):
            seg = vec[m * sub : (m + 1) * sub]
            d2 = ((books[m] - seg) ** 2).sum(axis=1)
            c = int(np.argmin(d2))
            want_codes.append(c)
            want_err += float(d2[c])
        got = rows[vid]
        assert got.pq_codes == ",".join(map(str, want_codes)), vid
        assert abs(got.recon_err - want_err) < 1e-5, vid
    # codes use the full range somewhere (codebooks aren't degenerate)
    all_codes = {int(c) for r in rows.values() for c in r.pq_codes.split(",")}
    assert len(all_codes) > 4


def test_pq_adc_matches_numpy_lut(spark, sf_smoke):
    """ADC scoring over PQ codes == numpy LUT computation exactly, and the
    scan stays map-only (no Python, no shuffle before the tiny top-k)."""
    import numpy as np

    from spring_cloud_kafka_streams_dbz_etl_spark.catalog import table
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.similarity import (
        PQ_K,
        PQ_SUBSPACES,
        pq_adc_topk,
        pq_codebook,
        pq_encode,
    )

    e = table(spark, sf_smoke, "embeddings").limit(120)
    codes_df = pq_encode(e)
    probes = e.filter("vec_id < 3").toPandas()
    out = pq_adc_topk(probes, codes_df, k=5)
    got = {(r.query_id, r.neighbor_id): (r.adc_dist, r.rank) for r in out.collect()}
    assert len(got) == 3 * 5

    # numpy model
    sub = 64 // PQ_SUBSPACES
    books = np.array(
        [[pq_codebook(m, k, sub) for k in range(PQ_K)] for m in range(PQ_SUBSPACES)]
    )
    codes = {
        r.vec_id: [int(c) for c in r.pq_codes.split(",")] for r in codes_df.collect()
    }
    for _, q in probes.iterrows():
        qv = np.array(q.embedding, dtype="float64")
        luts = [
            ((books[m] - qv[m * sub : (m + 1) * sub]) ** 2).sum(axis=1)
            for m in range(PQ_SUBSPACES)
        ]
        dists = {
            vid: round(sum(float(luts[m][c[m]]) for m in range(PQ_SUBSPACES)), 9)
            for vid, c in codes.items()
            if vid != q.vec_id
        }
        want = sorted(dists.items(), key=lambda kv: (kv[1], kv[0]))[:5]
        for rank, (vid, d) in enumerate(want, start=1):
            assert got[(int(q.vec_id), vid)] == (d, rank), (q.vec_id, vid)


def test_pq_adc_cell_restricted_matches_numpy(spark, sf_smoke):
    """IVF-PQ fusion (pq_adc_topk with cell_col): every neighbor shares
    the probe's cell, and within-cell ranking equals the numpy LUT model
    restricted to that cell — i.e. the cell predicate prunes the scan
    without changing any surviving distance."""
    import numpy as np

    from spring_cloud_kafka_streams_dbz_etl_spark.catalog import table
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.similarity import (
        PQ_K,
        PQ_SUBSPACES,
        pq_adc_topk,
        pq_codebook,
        pq_encode,
    )

    e = table(spark, sf_smoke, "embeddings").limit(150)
    codes_df = pq_encode(e, keep_cols=("label",))
    probes = e.filter("vec_id < 3").toPandas()
    out = pq_adc_topk(probes, codes_df, k=5, cell_col="label")
    got = {(r.query_id, r.neighbor_id): (r.adc_dist, r.rank) for r in out.collect()}

    sub = 64 // PQ_SUBSPACES
    books = np.array(
        [[pq_codebook(m, k, sub) for k in range(PQ_K)] for m in range(PQ_SUBSPACES)]
    )
    coded = {
        r.vec_id: (r.label, [int(c) for c in r.pq_codes.split(",")])
        for r in codes_df.collect()
    }
    for _, q in probes.iterrows():
        qv = np.array(q.embedding, dtype="float64")
        luts = [
            ((books[m] - qv[m * sub : (m + 1) * sub]) ** 2).sum(axis=1)
            for m in range(PQ_SUBSPACES)
        ]
        dists = {
            vid: round(sum(float(luts[m][c[m]]) for m in range(PQ_SUBSPACES)), 9)
            for vid, (lbl, c) in coded.items()
            if vid != q.vec_id and lbl == q.label  # IVF: own cell only
        }
        want = sorted(dists.items(), key=lambda kv: (kv[1], kv[0]))[: min(5, len(dists))]
        got_q = sorted(
            ((nid, dr) for (qid, nid), dr in got.items() if qid == int(q.vec_id)),
            key=lambda kv: kv[1][1],
        )
        assert [n for n, _ in got_q] == [n for n, _ in want], q.vec_id
        for rank, (vid, d) in enumerate(want, start=1):
            assert got[(int(q.vec_id), vid)] == (d, rank), (q.vec_id, vid)


def test_bucketed_join_has_no_exchange(spark, sf_smoke):
    """q_bucketed_join's contract IS its plan: both facts bucketed on the
    order key -> SortMergeJoin AND per-order aggregate with zero
    Exchange operators (the write-time shuffle amortization story).

    At smoke scale the planner rightly broadcasts the tiny orders side,
    so the test pins the 100 TB scenario — broadcast disabled (two fact
    tables never fit memory) — where bucketing is what removes the
    exchanges."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str
    from spring_cloud_kafka_streams_dbz_etl_spark.queries.relational import (
        q_bucketed_join,
    )

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        out = q_bucketed_join.__wrapped__(spark, sf_smoke)
        text = explain_str(out)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)
    assert "SortMergeJoin" in text, text[:2000]
    assert "Exchange" not in text, text[:2000]
    assert "Bucketed: true" in text or "SelectedBucketsCount" in text, text[:2000]


def test_zorder_bounds_both_dims_per_file(spark, sf_smoke):
    """The point of z-ordering: every file's span is bounded on BOTH
    indexed dimensions (~1/8 of each with 6 prefix bits), where a
    single-column sort leaves the second dimension unclustered (spans
    ~the full range). Bounded spans per file == parquet min/max pruning
    works for filters on either column."""
    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.catalog import table
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.layout import (
        min_max_bucket,
        z_file_id,
        z_value,
    )
    from spring_cloud_kafka_streams_dbz_etl_spark.queries.layout import N_FILES, Z_BITS

    o = table(spark, sf_smoke, "orders")
    g = o.agg(
        F.min(F.col("o_custkey").cast("double")).alias("lo_a"),
        F.max(F.col("o_custkey").cast("double")).alias("hi_a"),
        F.min(F.col("o_totalprice").cast("double")).alias("lo_b"),
        F.max(F.col("o_totalprice").cast("double")).alias("hi_b"),
    )
    ba = min_max_bucket(F.col("o_custkey"), F.col("lo_a"), F.col("hi_a"), Z_BITS)
    bb = min_max_bucket(F.col("o_totalprice"), F.col("lo_b"), F.col("hi_b"), Z_BITS)
    bucketed = o.crossJoin(F.broadcast(g)).select(
        ba.alias("ba"), bb.alias("bb"), z_value([ba, bb], Z_BITS).alias("z")
    )

    # z-order layout: both dims bounded per file
    dim_span = 1 << (Z_BITS - 3)  # 3 prefix bits fixed per dim at 64 files
    spans = (
        bucketed.withColumn("f", z_file_id(F.col("z"), 2 * Z_BITS, N_FILES))
        .groupBy("f")
        .agg(
            (F.max("ba") - F.min("ba")).alias("span_a"),
            (F.max("bb") - F.min("bb")).alias("span_b"),
        )
        .collect()
    )
    assert spans, "no files"
    assert all(r.span_a < dim_span and r.span_b < dim_span for r in spans), sorted(
        (r.span_a, r.span_b) for r in spans
    )[-3:]

    # single-column layout: clustering on ba leaves bb unbounded —
    # most files span a large fraction of the bb range
    lin = (
        bucketed.withColumn("f", z_file_id(F.col("ba") * (1 << Z_BITS), 2 * Z_BITS, N_FILES))
        .groupBy("f")
        .agg((F.max("bb") - F.min("bb")).alias("span_b"))
        .collect()
    )
    wide = sum(1 for r in lin if r.span_b > 4 * dim_span)
    assert wide > len(lin) // 2, (wide, len(lin))


def test_kmeans_matches_numpy_lloyd(spark, sf_smoke):
    """q_kmeans_cells' Spark dataflow == a plain numpy Lloyd's run with
    the same integer-vector policy, seeds, and tie-breaks — guards
    against the oracle SQL merely mirroring a shared bug."""
    import numpy as np

    from spring_cloud_kafka_streams_dbz_etl_spark.catalog import table
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.similarity import (
        KMEANS_ITERS,
        ivf_cells_for,
        kmeans_cells,
    )

    e = table(spark, sf_smoke, "embeddings").limit(200)
    got = {r.vec_id: (r.cell, r.dist) for r in kmeans_cells(e).collect()}

    rows = sorted(e.collect(), key=lambda r: r.vec_id)
    K = ivf_cells_for(len(rows))
    iv = {
        r.vec_id: np.floor(np.array(r.embedding, dtype="float64") * 1e6).astype("int64")
        for r in rows
    }
    seed_order = sorted(
        rows, key=lambda r: ((r.vec_id % 2**20) * 2654435761 % 2**32, r.vec_id)
    )
    cents = [iv[r.vec_id].astype("float64") / 1e6 for r in seed_order[:K]]

    def assign(cents_now):
        out = {}
        for vid, v in iv.items():
            pts = v.astype("float64") / 1e6
            dists = [float(((pts - c) ** 2).sum()) for c in cents_now]
            cell = min(range(K), key=lambda i: (dists[i], i))
            out[vid] = (cell, dists[cell])
        return out

    for _ in range(KMEANS_ITERS):
        a = assign(cents)
        sums = {}
        for vid, (cell, _d) in a.items():
            s, n = sums.get(cell, (np.zeros(64, dtype="int64"), 0))
            sums[cell] = (s + iv[vid], n + 1)
        cents = [
            (sums[c][0].astype("float64") / (float(sums[c][1]) * 1e6))
            if c in sums
            else cents[c]
            for c in range(K)
        ]
    want = assign(cents)
    assert set(got) == set(want)
    for vid, (cell, dist) in want.items():
        gcell, gdist = got[vid]
        assert gcell == cell, vid
        assert abs(gdist - round(dist, 6)) < 1e-9, vid


def test_q19_derived_predicates_push_to_both_scans(spark, sf_smoke):
    """The disjunctive cross-join predicate can't push whole, but its
    derived single-side bounds must: the quantity union on the lineitem
    scan, the brand/size union on the part scan (the plan property
    q_tpch_q19's docstring promises)."""
    df = SPECS["q_tpch_q19"].fn(spark, sf_smoke)
    pushed = " ".join(pushed_filters(df))
    assert "l_quantity" in pushed, pushed
    assert "p_brand" in pushed and "p_size" in pushed, pushed
    scans = read_schema_columns(df)
    # lineitem read: 4 of 11 columns; part read: 3 of 6
    assert scans and all(len(cols) <= 4 for cols in scans), scans


def test_q4_exists_is_semi_join_no_multiplier(spark, sf_smoke):
    """EXISTS decorrelates to LeftSemi — never an inner join + distinct
    (which would multiply an order by its late-line count before
    deduplicating)."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_tpch_q4"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "LeftSemi" in text, text[:2000]
    assert "CartesianProduct" not in text, text[:2000]


def test_ngram_jaccard_prefix_join_no_cartesian(spark, sf_smoke):
    """Candidates come from the rare-prefix-gram equi-join, never a
    quadratic per-block nested loop."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_ngram_jaccard"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "CartesianProduct" not in text, text[:2000]
    assert "BroadcastNestedLoopJoin" not in text, text[:2000]


def test_substring_runs_no_cartesian(spark, sf_smoke):
    """Position-level gram matching joins on the gram hash, restricted
    to containment candidates — never all-pairs."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_substring_runs"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "CartesianProduct" not in text, text[:2000]


def test_gopher_rules_map_only(spark, sf_smoke):
    """The rule battery must run at scan speed: no exchange, no Python."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_gopher_rules"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "Exchange" not in text, text[:2000]
    assert "Python" not in text and "ArrowEval" not in text, text[:2000]


def test_q1_single_scan_no_join(spark, sf_smoke):
    """Q1 is THE scan-aggregate: one pruned lineitem scan (7 columns),
    the shipdate cutoff pushed into it, and no join anywhere."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_tpch_q1"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "Join" not in text, text[:2000]
    scans = read_schema_columns(df)
    assert len(scans) == 1 and len(scans[0]) <= 7, scans
    assert any("l_shipdate" in f for f in pushed_filters(df))


def test_q9_part_filter_pushes_and_dims_broadcast(spark, sf_smoke):
    """The p_name predicate reaches the part scan (the fact thins on its
    first join) and the 100-row supplier / 25-row nation broadcast."""
    df = SPECS["q_tpch_q9"].fn(spark, sf_smoke)
    assert any("p_name" in f for f in pushed_filters(df)), pushed_filters(df)
    assert has_broadcast_join(df)


def test_q16_not_in_is_broadcast_anti_join(spark, sf_smoke):
    """NOT IN over a non-null key must decorrelate to a broadcast LEFT
    ANTI hash join — no null-aware nested-loop fallback."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_tpch_q16"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "LeftAnti" in text, text[:2000]
    assert "BroadcastNestedLoopJoin" not in text, text[:2000]


def test_q17_correlated_avg_decorrelated_no_rescan_per_row(spark, sf_smoke):
    """The per-part AVG is a groupBy joined back on partkey — the plan
    has hash aggregates and equi-joins only, no nested-loop re-scan."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_tpch_q17"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "CartesianProduct" not in text, text[:2000]
    assert any("p_brand" in f for f in pushed_filters(df)), pushed_filters(df)


def test_q21_both_exists_ride_one_fact_scan(spark, sf_smoke):
    """The EXISTS + NOT EXISTS pair collapses into one per-order
    aggregate: lineitem is scanned exactly once (the spec's formulation
    touches it three times more)."""
    df = SPECS["q_tpch_q21"].fn(spark, sf_smoke)
    scans = read_schema_columns(df)
    li_scans = [cols for cols in scans if any(c.startswith("l_") for c in cols)]
    assert len(li_scans) == 1, scans


def test_q2_min_cost_join_no_cartesian(spark, sf_smoke):
    """The correlated MIN decorrelates to an aggregate equi-joined on
    (partkey, cost); candidate generation is never all-pairs."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_tpch_q2"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "CartesianProduct" not in text, text[:2000]


def test_anomaly_zscore_broadcasts_stats_no_fact_shuffle(spark, sf_smoke):
    """The flagging pass is map-only: per-group stats broadcast back onto
    the fact scan; the events themselves never sort-merge."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_anomaly_zscore"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert has_broadcast_join(df)
    assert "SortMergeJoin" not in text, text[:2000]


def test_temperature_sample_broadcast_rates_no_smj(spark, sf_smoke):
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_temperature_sample"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert has_broadcast_join(df)
    assert "SortMergeJoin" not in text, text[:2000]


def test_knn_graph_blocked_equijoin_no_cartesian(spark, sf_smoke):
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_knn_graph"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "BroadcastNestedLoopJoin" not in text, text[:2000]
    assert "CartesianProduct" not in text, text[:2000]


def test_knn_graph_ivf_blocks_on_cell_not_label(spark, sf_smoke):
    """q_knn_graph_ivf's scale claim (VERDICT r16 #5): the candidate
    join blocks on the TRAINED IVF cell id — a key whose cardinality
    grows with the corpus via ivf_cells_for(n) — never on the fixture
    label and never a cartesian pair space; the top-k rank window
    partitions by the pair join's src side."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_knn_graph_ivf"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "CartesianProduct" not in text, text[:2000]
    assert "BroadcastNestedLoopJoin" not in text, text[:2000]
    # the self-join key is the cell id; label never reaches the plan
    assert "cell" in text
    assert "label" not in text, text[:2000]
    assert "row_number" in text


def test_knn_mutual_reciprocity_join_is_edge_sized(spark, sf_smoke):
    """q_knn_mutual's scale claim: the reciprocity test is an equi
    self-join of the k-bounded edge relation on the reversed (src, dst)
    key — never a cartesian pair space — and the scans read only the
    columns the edge build needs."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import (
        explain_str,
        read_schema_columns,
    )

    df = SPECS["q_knn_mutual"].fn(spark, sf_smoke)
    for cols in read_schema_columns(df):
        assert cols <= {"vec_id", "label", "embedding"}, (
            f"scan reads too much: {cols}"
        )
    text = explain_str(df)
    assert "CartesianProduct" not in text, text[:2000]
    assert "BroadcastNestedLoopJoin" not in text, text[:2000]
    assert "row_number" in text


def test_hybrid_retrieval_inverted_index_and_broadcast_probes(spark, sf_smoke):
    """q_hybrid_retrieval's scale claims: the lexical side generates
    candidates through a token equi-join (inverted index — zero-overlap
    pairs never materialize), the dense side is the deliberate
    broadcast-probe pass (BroadcastNestedLoopJoin of the probe batch,
    q_hard_negatives' shape — the ONE sanctioned BNLJ form), there is
    no CartesianProduct anywhere, and the scans read only the columns
    the two modalities need."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import (
        explain_str,
        read_schema_columns,
    )

    df = SPECS["q_hybrid_retrieval"].fn(spark, sf_smoke)
    for cols in read_schema_columns(df):
        assert cols <= {"doc_id", "text", "vec_id", "embedding"}, (
            f"scan reads too much: {cols}"
        )
    text = explain_str(df)
    assert "CartesianProduct" not in text, text[:2000]
    # the probe broadcast is the only nested-loop join in the plan
    # (formatted explain prints each node twice: tree line carries the
    # "Cross" build type, the numbered detail line does not)
    assert text.count("BroadcastNestedLoopJoin Cross") == 1, text[:2000]
    assert "row_number" in text


def test_importance_select_topk_is_distributed_and_tables_broadcast(spark, sf_smoke):
    """q_importance_select's scale claims: the top-N cut is
    TakeOrderedAndProject (distributed top-k — no corpus-sized
    single-reducer window; the rank window runs on the N-row result),
    the bucket ratio table reaches the corpus through a broadcast hash
    join, the only nested-loop joins are the two sanctioned broadcasts
    of planner-sized relations (1-row totals, bucket table), and the
    scan reads only doc_id/text."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import (
        explain_str,
        read_schema_columns,
    )

    df = SPECS["q_importance_select"].fn(spark, sf_smoke)
    for cols in read_schema_columns(df):
        assert cols <= {"doc_id", "text"}, f"scan reads too much: {cols}"
    text = explain_str(df)
    assert "TakeOrderedAndProject" in text
    assert "CartesianProduct" not in text, text[:2000]
    assert text.count("BroadcastNestedLoopJoin Cross") == 2, text[:2000]


def test_snapshot_diff_full_outer_no_cartesian(spark, sf_smoke):
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_snapshot_diff"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "CartesianProduct" not in text, text[:2000]
    assert "BroadcastNestedLoopJoin" not in text, text[:2000]


def test_dq_quarantine_rule_battery_broadcasts_fk(spark, sf_smoke):
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_dq_quarantine"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert has_broadcast_join(df)
    assert "SortMergeJoin" not in text, text[:2000]


def test_term_drift_single_vocab_shuffle_broadcast_totals(spark, sf_smoke):
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_term_drift"].fn(spark, sf_smoke)
    text = explain_str(df)
    # the totals cross-join must be a 1-row broadcast, never a shuffle join
    assert "BroadcastNestedLoopJoin" in text or "BroadcastExchange" in text, text[:2000]
    assert "SortMergeJoin" not in text, text[:2000]


def test_quantile_bins_rank_sort_is_partitioned(spark, sf_smoke):
    """VERDICT r05 #2: the exact-NTILE rank must NOT be a single-partition
    global sort. The big-table row_number windows on hashpartitioning
    (__rank_bucket); no ntile-over-everything remains, and the offsets
    side reaches the fact via broadcast."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_quantile_bins"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "ntile" not in text, text[:2000]
    assert "hashpartitioning(__rank_bucket" in text, text[:2000]
    assert "BroadcastExchange" in text, text[:2000]
    # both scans prune to the two needed columns
    scans = read_schema_columns(df)
    assert scans and all(len(cols) <= 2 for cols in scans), scans


def test_perplexity_band_rank_is_partitioned(spark, sf_smoke):
    """The CCNet band cut uses the same distributed exact rank: the
    per-doc scores window on hashpartitioning(__rank_bucket), never a
    global no-partition window over |docs| rows."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_perplexity_filter"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "hashpartitioning(__rank_bucket" in text, text[:2000]
    assert "BroadcastExchange" in text, text[:2000]


def test_rolling_window_single_exchange_no_global_sort(spark, sf_smoke):
    """The RANGE-frame rolling aggregate shuffles ONCE on the partition
    key and never sorts globally — frame evaluation is partition-local."""
    import re

    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_rolling_window"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert len(re.findall(r"\(\d+\) Exchange\b", text)) == 1, text[:2000]
    assert "SinglePartition" not in text, text[:2000]


def test_ewma_rank_filter_pushes_as_window_group_limit(spark, sf_smoke):
    """The top-K-per-key rank filter must reach the shuffle as
    WindowGroupLimit (map-side top-k), so each task ships at most K rows
    per key instead of every event."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_ewma"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "WindowGroupLimit" in text, text[:2000]
    assert "SinglePartition" not in text, text[:2000]


def test_pop_growth_dims_broadcast_lag_over_rollup(spark, sf_smoke):
    """Customer and nation broadcast onto the fact scan (no shuffle
    join), and the LAG window runs over the |nations x months| rollup —
    never the fact table."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_pop_growth"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert text.count("BroadcastExchange") >= 2, text[:2000]
    assert "SortMergeJoin" not in text, text[:2000]
    assert "SinglePartition" not in text, text[:2000]


def test_range_bounds_sample_rank_is_partitioned(spark, sf_smoke):
    """Even the ~5% boundary sample must never sort through one task:
    its ranks come from the distributed global_rank operator."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_range_bounds"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "hashpartitioning(__rank_bucket" in text, text[:2000]


def test_interval_join_is_equi_join_with_pushed_dates(spark, sf_smoke):
    """The big-big overlap join must run as an EQUI join on
    (supplier, grid cell) — never a nested-loop/cartesian over the
    interval predicate — with the quarter filter pushed to both scans."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_interval_join"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "BroadcastNestedLoopJoin" not in text, text[:2000]
    assert "CartesianProduct" not in text, text[:2000]
    assert "HashJoin" in text or "SortMergeJoin" in text, text[:2000]
    assert any("l_shipdate" in f for f in pushed_filters(df)), pushed_filters(df)


def test_leakage_split_assignment_is_map_only_over_cc(spark, sf_smoke):
    """The split assignment must add NO exchange beyond the dedup/CC
    lineage it rides on: the md5-bucket CASE projection sits in a
    map-only Project on top, and nothing in the plan degenerates to a
    cartesian/nested-loop pairing."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df_clusters = SPECS["q_dup_clusters"].fn(spark, sf_smoke)
    df_split = SPECS["q_leakage_split"].fn(spark, sf_smoke)
    for text in (explain_str(df_split),):
        assert "CartesianProduct" not in text, text[:2000]
        assert "BroadcastNestedLoopJoin" not in text, text[:2000]
    # same number of exchanges as the cluster build it derives from:
    # the split columns are free
    n_ex = explain_str(df_clusters).count("Exchange")
    n_ex_split = explain_str(df_split).count("Exchange")
    assert n_ex_split <= n_ex, (n_ex_split, n_ex)


def test_minhash_est_audit_joins_are_keyed(spark, sf_smoke):
    """The audit must get candidates from the banded equi-join and join
    signatures/shingles back by doc id — never an all-pairs scan."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_minhash_est_audit"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "CartesianProduct" not in text, text[:2000]
    assert "BroadcastNestedLoopJoin" not in text, text[:2000]
    assert "band_hash" in text or "bh" in text, text[:2000]


def test_corpus_shuffle_has_no_global_sort(spark, sf_smoke):
    """The shuffle permutation must never plan a global sort: position
    is a row_number partitioned BY SHARD, so the only exchange is
    hashpartitioning(shard) and the only sort is within partitions."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_corpus_shuffle"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "rangepartitioning" not in text.lower(), text[:2000]
    assert "hashpartitioning(shard" in text, text[:2000]


def test_ts_similarity_single_rollup_then_topk(spark, sf_smoke):
    """Subsequence search must be the one-shuffle + map-only-HOF shape:
    no self-join (a second lineitem scan would betray a join-based
    rewrite) and the global cut planned as TakeOrderedAndProject."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_ts_similarity"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "TakeOrderedAndProject" in text, text[:2000]
    # formatted explain names each scan twice (tree + details):
    # 2 logical scans (lineitem for the series, lineitem for the 1-row
    # bounds aggregate) = 4 mentions; a self-join would add more
    assert text.count("Scan parquet") <= 4, text[:2000]
    assert "CartesianProduct" not in text and "SortMergeJoin" not in text, text[:2000]


def test_pair_dots_arrow_null_keys_match_join_form(spark):
    """Rows with a NULL id or a NULL cell key pair with nothing — the
    inner-join semantics of the join form (``a.label = b.label`` and
    ``a.id < b.id``) and of the oracles' ``ON``. The kernel must neither
    abort its task sorting a NULL id nor let NULL keys form a cell;
    undirected and directed emission match the join form pair-for-pair
    with bit-identical rounded cosines (repr: None, NaN and floats are
    all distinct)."""
    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.functions.vector import (
        cosine_from_dot,
        cosine_pre,
        l2_norm,
    )
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.similarity import (
        pair_dots_arrow,
    )

    rows = [
        (1, 0, [1.0, 0.0]), (2, 0, [0.5, 0.5]), (None, 0, [0.2, 0.9]),
        (3, 0, [0.0, 1.0]), (4, None, [1.0, 1.0]), (5, None, [0.3, 0.1]),
        (None, None, [0.7, 0.7]), (6, 1, [0.1, 0.2]), (7, 1, None),
        (None, 1, [1.0, 0.0]), (8, 1, [0.4, float("nan")]), (9, 1, [0.4, 0.4]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, v array<double>")

    def side(s):
        return df.select(
            F.col("vec_id").alias(f"i{s}"), "label",
            F.col("v").alias(f"v{s}"), l2_norm(F.col("v")).alias(f"n{s}"),
        )

    joined = side("a").join(side("b"), "label")
    for directed in (False, True):
        keep = F.col("ia") != F.col("ib") if directed else F.col("ia") < F.col("ib")
        join_form = joined.filter(keep).select(
            "ia", "ib",
            cosine_pre(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")),
        )
        arrow = pair_dots_arrow(df, directed=directed).select(
            "vec_id_a", "vec_id_b",
            cosine_from_dot(F.col("__dp"), F.col("__na"), F.col("__nb")),
        )
        want = sorted(repr(tuple(r)) for r in join_form.collect())
        assert len(want) == (18 if directed else 9)
        assert sorted(repr(tuple(r)) for r in arrow.collect()) == want, directed


def test_kmeans_fit_plus_ivf_assign_equals_kmeans_cells(spark, sf_smoke):
    """Parity pin on the train/serve split: kmeans_fit (model out)
    followed by ivf_assign (serving-time routing through the SAME
    _argmin_cells kernel) must reproduce kmeans_cells' output
    row-for-row — ids, cells, rounded distances. This is the no-drift
    guarantee q_ann_pq_recall_trained's cell routing stands on."""
    from spring_cloud_kafka_streams_dbz_etl_spark.catalog import table
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.similarity import (
        ivf_assign,
        kmeans_cells,
        kmeans_fit,
    )

    e = table(spark, sf_smoke, "embeddings")
    cents = kmeans_fit(e)
    split = ivf_assign(e, cents)
    fused = kmeans_cells(e)
    assert split.exceptAll(fused).count() == 0
    assert fused.exceptAll(split).count() == 0


def test_ivf_probe_rank1_is_ivf_assign(spark, sf_smoke):
    """Multi-probe routing's rank-1 cell must equal the assignment
    kernel's cell for every vector — both decisions read the same
    _cell_dists matrix, so any divergence is a tie-break drift bug."""
    from spring_cloud_kafka_streams_dbz_etl_spark.catalog import table
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.similarity import (
        ivf_assign,
        ivf_probe,
        kmeans_fit,
    )

    e = table(spark, sf_smoke, "embeddings")
    cents = kmeans_fit(e)
    top1 = {
        r.vec_id: r.cell
        for r in ivf_probe(e, cents, 2).filter("probe_rank = 1").collect()
    }
    assigned = {r.vec_id: r.cell for r in ivf_assign(e, cents).collect()}
    assert top1 == assigned


def test_trained_recall_floor(spark):
    """The index-acceptance gate (VERDICT r9 ask #1): the trained
    IVF-PQ-refine stack must clear its stated recall@10 floor at BOTH
    driver scales. Measured (deterministic — no RNG anywhere in the
    chain): 0.75 at sf0.01, 0.65 at sf0.1 with hash-ordered seeding,
    the r12 2·ceil(√k) nprobe policy (VERDICT r11 ask #3), and
    nprobe-scaled refine depth (refine_depth_for).

    History of these floors: r10's 0.775/0.425 were partly a leak —
    first-k-by-id seeding placed the audit's own probe set (vec_id < 8)
    among the k smallest-id seeds, so every probe started as a cell
    centroid ("training on the test set", index edition). r11's honest
    hash-seeded numbers (0.50/0.475) were candidate-coverage-bound at
    the old ceil(√k) probe width; r12 doubled the width (scan fraction
    2/√k — 26% at sf0.1's k=62 but 0.56% at 10⁹ vectors' k=126k) and
    measured coverage == recall at every curve point, so the bump
    converts 1:1 into recall (SCALE.md)."""
    import statistics

    from spring_cloud_kafka_streams_dbz_etl_spark.queries.similarity import (
        q_ann_pq_recall_trained,
    )

    for sf_dir, floor in [(SF_ORACLE, 0.70), (SF_SCALE, 0.60)]:
        rows = q_ann_pq_recall_trained(spark, sf_dir).collect()
        mean_rc = statistics.mean(r.recall_at_k for r in rows)
        assert mean_rc >= floor, (sf_dir, mean_rc)


def test_ann_pq_recall_exact_side_is_broadcast_map_only(spark, sf_smoke):
    """The recall audit's ground-truth side must stay the broadcast-probes
    map-only scan (BroadcastNestedLoopJoin, never a CartesianProduct or a
    corpus shuffle) and its index side must stay the Arrow ADC scorer —
    the audit may never get more expensive than one exact pass plus one
    index pass."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_ann_pq_recall"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "BroadcastNestedLoopJoin" in text, text[:2000]
    assert "CartesianProduct" not in text, text[:2000]
    assert "MapInPandas" in text, text[:2000]


def test_hard_negatives_served_plan_is_cell_pruned_no_cross(spark, sf_smoke):
    """The served miner must never full-cross probes with the corpus:
    the candidate scan is the cell-pruned ADC pass (codes filtered to
    the probed trained cells before the Arrow scorer), and the refine
    stage joins the BROADCAST shortlist — BroadcastHashJoin, never a
    CartesianProduct or BroadcastNestedLoopJoin over raw vectors."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_hard_negatives_served"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "BroadcastHashJoin" in text, text[:2000]
    assert "CartesianProduct" not in text, text[:2000]
    assert "BroadcastNestedLoopJoin" not in text, text[:2000]
    # the cell-pruned candidate scan: codes filtered on the probed cell
    # set ahead of the Arrow ADC scorer. With ivf_cells_for scaling k,
    # the probed set can exceed spark.sql.optimizer.inSetConversionThreshold
    # (10), where Catalyst compiles the same membership filter as INSET
    # instead of IN (...) — both are the pruning predicate under pin.
    flat = text.replace("cell#", "cell")
    assert "cell" in flat and ("IN (" in flat or "INSET" in flat), text[:3000]
    assert "MapInPandas" in text, text[:2000]


def test_pq_train_matches_numpy_lloyd(spark, sf_smoke):
    """pq_train's single-pass all-subspaces Lloyd == a plain numpy
    per-subspace run with the same integerization, seeds, update rule,
    and argmin-first tie-break — bit-exact on every centroid component
    (guards against the oracle chain merely mirroring a shared bug,
    same as test_kmeans_matches_numpy_lloyd for the cell trainer)."""
    import numpy as np

    from spring_cloud_kafka_streams_dbz_etl_spark.catalog import table
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.similarity import (
        PQ_DIM,
        PQ_K,
        PQ_SUBSPACES,
        PQT_ITERS,
        pq_train,
    )

    e = table(spark, sf_smoke, "embeddings").limit(200)
    got = pq_train(e)

    rows = sorted(e.collect(), key=lambda r: r.vec_id)
    IV = np.array(
        [
            np.floor(np.array(r.embedding, dtype="float64") * 1e6).astype("int64")
            for r in rows
        ]
    )
    seed_idx = sorted(
        range(len(rows)),
        key=lambda i: (
            (rows[i].vec_id % 2**20) * 2654435761 % 2**32,
            rows[i].vec_id,
        ),
    )[:PQ_K]
    sub = PQ_DIM // PQ_SUBSPACES
    for m in range(PQ_SUBSPACES):
        IVm = IV[:, m * sub : (m + 1) * sub]
        Xm = IVm / 1e6
        cents = [Xm[i].copy() for i in seed_idx]
        for _ in range(PQT_ITERS):
            d = np.array(
                [[float(((x - c) ** 2).sum()) for c in cents] for x in Xm]
            )
            a = np.argmin(d, axis=1)
            for code in range(PQ_K):
                mask = a == code
                if mask.any():
                    cents[code] = IVm[mask].sum(axis=0).astype("float64") / (
                        mask.sum() * 1e6
                    )
        for code in range(PQ_K):
            assert got[m][code] == list(cents[code]), (m, code)


def test_trained_codebooks_tighter_than_lattice(spark, sf_smoke):
    """The reason pq_train exists: trained codebooks must reconstruct
    the corpus materially better than the fixed lattice (measured 4.65x
    at sf0.01; assert a conservative 2x so fixture regeneration can't
    flake it). recon_err spaces differ by at most the 1e-6
    integerization quantum, which is orders below the gap."""
    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.catalog import table
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.similarity import (
        pq_encode,
        pq_encode_cb,
        pq_train,
    )

    e = table(spark, sf_smoke, "embeddings")
    cb = pq_train(e)
    trained = pq_encode_cb(e, cb).agg(F.avg("recon_err")).collect()[0][0]
    lattice = pq_encode(e).agg(F.avg("recon_err")).collect()[0][0]
    assert trained * 2 < lattice, (trained, lattice)


def test_trained_cb_recall_floor(spark):
    """Acceptance floors for the FULLY-trained stack (cells + codebooks
    + multi-probe + refine): measured 0.85 at sf0.01 and 0.675 at
    sf0.1 under the r12 2·ceil(√k) nprobe policy — deterministic end
    to end, honest (probe-leak-free, see test_trained_recall_floor)
    seeding, nprobe-scaled refine depth; floors leave margin only
    against fixture regeneration. Must also beat the lattice-codebook
    stack's floors (0.70 / 0.60) — that gap IS the value of pq_train
    (narrower at sf0.1, where the deeper shortlist lets the noisier
    lattice ADC recover candidates too — the SCALE.md residual-PQ
    trade in miniature)."""
    import statistics

    from spring_cloud_kafka_streams_dbz_etl_spark.queries.similarity import (
        q_ann_pq_recall_trained_cb,
    )

    for sf_dir, floor in [
        (SF_ORACLE, 0.80),
        (SF_SCALE, 0.62),
    ]:
        rows = q_ann_pq_recall_trained_cb(spark, sf_dir).collect()
        mean_rc = statistics.mean(r.recall_at_k for r in rows)
        assert mean_rc >= floor, (sf_dir, mean_rc)


def test_ivf_cell_partition_pruning(spark, sf_smoke, tmp_path):
    """The claim every IVF docstring makes — 'at 100 TB the build writes
    cell-partitioned code files, so a probe touches nprobe/n_cells of
    the files' — exercised for real: write the trained index
    partitionBy(cell), and (a) the probed-cells predicate must reach
    the scan as a PartitionFilter whose EXECUTED numFiles metric equals
    the probed cell count (files actually skipped, not just planned),
    (b) ADC serving from the pruned store must equal serving from the
    in-memory codes relation row-for-row. NOTE: a cast() on the
    partition column defeats pruning (the filter lands on the cast,
    not the attribute) — the store must be filtered on the raw
    partition column; discovered while writing this test."""
    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.catalog import table
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.similarity import (
        ivf_assign,
        ivf_probe,
        kmeans_fit,
        pq_adc_topk_cb,
        pq_encode_cb,
        pq_train,
    )
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    e = table(spark, sf_smoke, "embeddings")
    cents = kmeans_fit(e)
    cb = pq_train(e)
    cells = ivf_assign(e, cents).select("vec_id", "cell")
    codes = (
        pq_encode_cb(e, cb)
        .select("vec_id", "pq_codes")
        .join(cells, "vec_id")
        .coalesce(1)  # one file per cell directory -> numFiles == n_cells
    )
    path = str(tmp_path / "ivf_codes")
    codes.write.partitionBy("cell").parquet(path)
    stored = spark.read.parquet(path)
    n_cells = stored.select("cell").distinct().count()

    # two probes x nprobe=2 -> at most 4 of the cell directories scan
    probes = e.filter(F.col("vec_id") < 2)
    pcells = ivf_probe(probes, cents, 2).select("vec_id", "cell")
    probe_cells = sorted({r.cell for r in pcells.collect()})
    assert len(probe_cells) <= 4 < n_cells

    pruned = stored.filter(F.col("cell").isin(*probe_cells))
    text = explain_str(pruned)
    assert "PartitionFilters: [cell#" in text, text[:3000]
    pruned.collect()
    scan = pruned._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    n_files = int(scan.metrics().apply("numFiles").value())
    assert n_files == len(probe_cells), (n_files, probe_cells, n_cells)

    probes_pd = probes.join(pcells, "vec_id").toPandas()
    from_store = pq_adc_topk_cb(probes_pd, stored, cb, k=10, cell_col="cell")
    in_memory = pq_adc_topk_cb(probes_pd, codes, cb, k=10, cell_col="cell")
    assert from_store.exceptAll(in_memory).count() == 0
    assert in_memory.exceptAll(from_store).count() == 0


def test_bpe_merge_fold_matches_greedy_model(spark):
    """The codegen fold behind q_bpe_train's merge application must
    equal a literal greedy left-to-right BPE scan on adversarial words
    — self-pair runs ('aaaa' -> [aa, aa], 'aaa' -> [aa, a]), merges at
    word edges, no-match words, and a seeded random batch over a tiny
    alphabet (maximizing overlap runs). One Spark job for the whole
    batch."""
    import random

    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.queries.text import (
        _bpe_apply_merge,
    )

    rng = random.Random(11)
    words = ["a", "aa", "aaa", "aaaa", "aaaaa", "ab", "ba", "aba", "bab",
             "abab", "baba", "bb", ""] + [
        "".join(rng.choice("ab") for _ in range(rng.randint(1, 9)))
        for _ in range(60)
    ]
    words = sorted(set(w for w in words if w))

    def greedy(toks: list[str], lt: str, rt: str) -> list[str]:
        out, i = [], 0
        while i < len(toks):
            if i + 1 < len(toks) and toks[i] == lt and toks[i + 1] == rt:
                out.append(lt + rt)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        return out

    df = spark.createDataFrame([(w,) for w in words], "w string").select(
        "w",
        F.expr(
            "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
        ).alias("toks"),
    )
    for lt, rt in [("a", "a"), ("a", "b"), ("b", "a"), ("b", "b")]:
        got = {
            r.w: r.out
            for r in df.select(
                "w", _bpe_apply_merge(lt, rt, lt + rt).alias("out")
            ).collect()
        }
        for w in words:
            assert got[w] == greedy(list(w), lt, rt), (w, lt, rt, got[w])


def test_versioned_index_store_commit_prunes_cells(spark, sf_smoke, tmp_path):
    """s_ann_index_rebuild's store contract: a version committed through
    _commit_version(partition_by=['cell']) must (a) serve cell-filtered
    reads with file-level partition pruning (EXECUTED numFiles == the
    filtered cell count), and (b) keep the previous version readable
    row-for-row after the next commit — the two properties the atomic
    swap stands on."""
    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.catalog import table
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.similarity import (
        ivf_assign,
        kmeans_fit,
    )
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str
    from spring_cloud_kafka_streams_dbz_etl_spark.sources.sinks import (
        _commit_version,
        load_dimension,
    )

    e = table(spark, sf_smoke, "embeddings")
    cents = kmeans_fit(e)
    idx1 = ivf_assign(e, cents).select("vec_id", "cell").coalesce(1)
    store = str(tmp_path / "vstore")
    _commit_version(spark, idx1, store, partition_by=["cell"])

    cur = load_dimension(spark, store)
    cells = sorted(r.cell for r in cur.select("cell").distinct().collect())[:3]
    pruned = cur.filter(F.col("cell").isin(*cells))
    text = explain_str(pruned)
    assert "PartitionFilters: [cell#" in text, text[:3000]
    pruned.collect()
    scan = pruned._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    n_files = int(scan.metrics().apply("numFiles").value())
    assert n_files == len(cells), (n_files, cells)

    # second commit (a different relation); v1 unchanged and readable
    idx2 = idx1.withColumn("cell", (F.col("cell") + 1).cast("int"))
    _commit_version(spark, idx2, store, partition_by=["cell"])
    old = load_dimension(spark, store, version=1)
    assert old.exceptAll(idx1).count() == 0
    assert idx1.exceptAll(old).count() == 0
    new = load_dimension(spark, store)
    assert new.exceptAll(idx2).count() == 0


def test_online_probe_tracks_batch_gd(spark):
    """The SGD-vs-GD relationship pin (VERDICT r11 ask #4): on the SAME
    corpus and data ordering (sf0.01 fixture; online = shard of even
    doc_ids first, then the rest), s_linear_probe_online's final model
    must TRACK q_linear_probe's without equaling it — the gap is the
    stated, deterministic price of (a) one fewer effective pass (2
    micro-batch steps vs 3 full-corpus rounds, each step seeing only
    its shard) and (b) the scaler frozen on shard 0 while the batch
    probe standardizes over the full corpus.

    Measured at sf0.01 (both paths fully deterministic): batch final
    weights 17.5-23.5, online 15.8-20.9, L-infinity gap 3.035; batch
    mse 19002.0 -> 602.8, online 20032.5 -> 2561.6. Pins: every weight
    agrees in sign and the online magnitude is below batch (fewer
    steps = less progress along the same descent direction); the gap
    is non-zero (SGD != GD — a zero gap would mean the stream is
    secretly re-running batch GD) and bounded; both trajectories
    decrease by >5x (both learn)."""
    from spring_cloud_kafka_streams_dbz_etl_spark.queries.streaming import (
        s_linear_probe_online,
    )
    from spring_cloud_kafka_streams_dbz_etl_spark.queries.text import (
        GD_BUCKETS,
        GD_ROUNDS,
        q_linear_probe,
    )

    b = q_linear_probe(spark, SF_ORACLE).collect()
    o = s_linear_probe_online(spark, SF_ORACLE).collect()
    bw = {r.feature_id: r.weight_after for r in b if r.round == GD_ROUNDS}
    last_step = max(r.step for r in o)
    ow = {r.feature_id: r.weight_after for r in o if r.step == last_step}
    assert set(bw) == set(ow) == set(range(GD_BUCKETS))
    for d in range(GD_BUCKETS):
        assert bw[d] * ow[d] > 0, (d, bw[d], ow[d])  # same sign
        assert abs(ow[d]) < abs(bw[d]), (d, bw[d], ow[d])  # fewer steps
    gap = max(abs(bw[d] - ow[d]) for d in range(GD_BUCKETS))
    assert 0.5 <= gap <= 4.5, gap
    b_mse = {r.round: r.mse_before for r in b}
    o_mse = {r.step: r.mse_before for r in o}
    assert b_mse[GD_ROUNDS] * 5 < b_mse[1], b_mse
    assert o_mse[last_step] * 5 < o_mse[1], o_mse


def test_bpe_deep_training_extends_shallow(spark):
    """Deeper BPE training must EXTEND the shallow merge table, not
    rewrite it (greedy BPE is prefix-stable: the first N merges depend
    only on the corpus, not on how many more you plan to learn), and
    vocab_size_after may move by at most -1 per round downward (each
    merge adds one token and can retire up to two now-unused singles:
    net change is within [-1, +1]).

    This test exists because the r12 depth MEASUREMENT
    (tools/measure_bpe.py) found the loop OOMing at ~16 rounds: each
    round nested another transform() into the logical plan and persist()
    does not truncate plans — the fix is localCheckpoint(eager=True)
    per round (the MLlib iterative rule), and this pin holds the deep
    path runnable. Measured at sf0.1 after the fix: depth 64 trains in
    ~18 s, marginal ~0.2-0.3 s/round (constant, vocabulary-sized
    data + fixed per-job scheduling)."""
    from spring_cloud_kafka_streams_dbz_etl_spark.queries.text import (
        N_BPE_MERGES,
        _bpe_train_merges,
    )

    shallow, _ = _bpe_train_merges(spark, SF_ORACLE, N_BPE_MERGES)
    deep, _ = _bpe_train_merges(spark, SF_ORACLE, 4 * N_BPE_MERGES)
    assert len(deep) == 4 * N_BPE_MERGES
    assert deep[: len(shallow)] == shallow  # prefix-stable
    vocabs = [row[4] for row in deep]
    for prev, cur in zip(vocabs, vocabs[1:]):
        assert cur >= prev - 1


def test_ann_ceiling_is_geometry_not_stack(spark):
    """The sf0.1 recall ceiling is DATA-bound, not stack-bound (VERDICT
    r12 ask #3, closed by measurement — tools/measure_ann_geometry.py):
    on the md5-stub fixture the covariance spectrum is flat and
    coverage>=0.75 needs a 32% scan fraction, but the IDENTICAL
    kmeans_fit / ivf_assign / ivf_probe operators on a same-shape
    clustered control put every exact top-10 neighbor's cell at probe
    rank 1 (coverage 1.0 at nprobe=1, a 2% scan). This pins the control
    half: given real cluster structure, the serving stack converts it —
    so probe width is a property of the corpus geometry, not a defect
    in the index."""
    import numpy as np
    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.operators.similarity import (
        ivf_assign,
        ivf_probe,
        kmeans_fit,
    )
    from spring_cloud_kafka_streams_dbz_etl_spark.queries.similarity import (
        _exact_topk,
    )

    n, dim, n_clusters = 1024, 64, 32
    rng = np.random.default_rng(7)
    centers = rng.normal(0.0, 1.0, (n_clusters, dim))
    X = centers[np.arange(n) % n_clusters] + rng.normal(0.0, 0.2, (n, dim))
    e = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    cents = kmeans_fit(e)
    assert len(cents) == n_clusters  # ivf_cells_for(1024) = 1024 // 32
    probes = e.filter(F.col("vec_id") < 8)
    cell_of = {r.vec_id: r.cell for r in ivf_assign(e, cents).collect()}
    rank_of = {
        (r.vec_id, r.cell): r.probe_rank
        for r in ivf_probe(probes, cents, 4).collect()
    }
    gt = _exact_topk(e, probes, spark).collect()
    assert len(gt) == 80
    covered = sum(
        (r.query_id, cell_of[r.neighbor_id]) in rank_of for r in gt
    )
    # nprobe=4 of 32 cells = 12.5% scan; clustered geometry must deliver
    # near-total coverage through the same kernels the fixture audits use
    assert covered / len(gt) >= 0.95


def test_bpe_merges_for_knob_and_exhaustion(spark):
    """bpe_merges_for (VERDICT r12 ask #7): classic vocab sizing
    (merges = vocab_target - alphabet) capped by the certain-exhaustion
    bound sum(len(w)) - |W|, and the loop's behavior AT the corpus's
    true depth limit — graceful break with allow_exhaustion, ValueError
    without. Pins the fixture trajectory the r12 depth measurement
    found: bound 107, true exhaustion 89 (the bound is an upper bound,
    not the exact limit — late merge rules eat multiple occurrences)."""
    import pytest
    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.catalog import table
    from spring_cloud_kafka_streams_dbz_etl_spark.queries.text import (
        N_BPE_MERGES,
        _bpe_train_merges,
        bpe_merge_capacity,
        bpe_merges_for,
    )

    d = table(spark, SF_ORACLE, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    cap = bpe_merge_capacity(words)
    assert cap == 107  # sum(len(w)) - |W| = 138 - 31 on this fixture
    assert bpe_merges_for(words, 32) == N_BPE_MERGES  # alphabet 24 + 8
    assert bpe_merges_for(words, 10**6) == cap  # capacity-capped
    assert bpe_merges_for(words, 10) == 0  # target below alphabet
    # over-capacity without the escape hatch: certain mid-loop raise
    with pytest.raises(ValueError, match="pairs exhausted"):
        _bpe_train_merges(spark, SF_ORACLE, cap + 1)
    # the escape hatch trains as deep as the corpus goes and stops
    deep, final = _bpe_train_merges(spark, SF_ORACLE, cap, allow_exhaustion=True)
    assert len(deep) == 89  # true exhaustion, strictly under the bound
    assert deep[:N_BPE_MERGES] == _bpe_train_merges(spark, SF_ORACLE, N_BPE_MERGES)[0]
    # terminal state: every histogram word is one token
    assert final.filter(F.size("toks") >= 2).count() == 0


def test_knn_classify_served_tracks_exact(spark):
    """The vote-serving twin pin (mirrors the hard-negatives pairing):
    q_knn_classify_served's per-probe predictions must agree with the
    exact twin's on MOST probes — the disagreement budget is exactly
    the index's recall loss flowing through a majority vote, so a
    collapse here means the serving path broke, not the fixture.
    Measured at sf0.01 (deterministic end to end): 6 of 8 probes
    agree; floor at 5 leaves margin only against fixture
    regeneration."""
    from spring_cloud_kafka_streams_dbz_etl_spark.queries.similarity import (
        q_knn_classify,
        q_knn_classify_served,
    )

    ex = {r.query_id: r.pred_label for r in q_knn_classify(spark, SF_ORACLE).collect()}
    sv = {
        r.query_id: r.pred_label
        for r in q_knn_classify_served(spark, SF_ORACLE).collect()
    }
    assert set(ex) == set(sv)
    agree = sum(1 for k in ex if ex[k] == sv[k])
    assert agree >= 5, (agree, ex, sv)


def test_mean_shift_and_seasonal_plans(spark, sf_smoke):
    """Both daily-rollup detectors must keep the detector stage off the
    fact table: the only scan-sized work is the map-side-combinable
    daily groupBy; the global-mean / weekday-seasonal relations join
    back BROADCAST (never a sort-merge join, never a cartesian)."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    for name in ("q_mean_shift_detect", "q_seasonal_decompose"):
        text = explain_str(SPECS[name].fn(spark, sf_smoke))
        assert "BroadcastHashJoin" in text, (name, text[:1500])
        assert "SortMergeJoin" not in text, (name, text[:1500])
        assert "CartesianProduct" not in text, (name, text[:1500])
        # the raw-events aggregate must combine map-side (partial_count
        # before the exchange), so the shuffle carries rollup rows
        assert "partial_count" in text, (name, text[:1500])


def test_capacity_planner_plans(spark, sf_smoke):
    """The r12 planning tables must stay planning-priced: the dedup
    threshold sweep and the LSH band plan reuse ONE banded candidate
    generation (band hash equi-join — never a cartesian of documents),
    and the fertility rollup broadcasts the vocabulary-sized token
    table onto the doc-word relation (never a shuffle of the corpus
    for the lookup)."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    for name in ("q_dedup_threshold_sweep", "q_lsh_band_plan"):
        text = explain_str(SPECS[name].fn(spark, sf_smoke))
        assert "CartesianProduct" not in text, (name, text[:1500])
    text = explain_str(SPECS["q_bpe_fertility"].fn(spark, sf_smoke))
    assert "BroadcastHashJoin" in text, text[:1500]
    assert "SortMergeJoin" not in text, text[:1500]


def test_r13_query_plans(spark, sf_smoke):
    """The r13 additions keep their docstring shapes: q_vocab_growth is
    windowless (Heaps sampling via conditional sums over a broadcast
    grid — no global row_number, no sort-merge join); q_embedding_dq is
    one map pass + a combinable groupBy(label) with NO join of any
    kind; q_ann_coverage_curve never goes cartesian (its crossJoins are
    broadcast literal grids -> BroadcastNestedLoopJoin, and the
    corpus-sized assignment relation joins keyed)."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    text = explain_str(SPECS["q_vocab_growth"].fn(spark, sf_smoke))
    assert "Window" not in text, text[:1500]
    assert "SortMergeJoin" not in text, text[:1500]
    assert "CartesianProduct" not in text, text[:1500]
    # map-side combine on the histogram (partial_min) and curve legs
    # (partial_sum); the per-doc token count is a map-only array expr,
    # so no partial_count exists anymore
    assert "partial_min" in text and "partial_sum" in text, text[:1500]

    text = explain_str(SPECS["q_embedding_dq"].fn(spark, sf_smoke))
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                 "BroadcastNestedLoopJoin"):
        assert node not in text, (node, text[:1500])
    assert "partial_count" in text, text[:1500]

    text = explain_str(SPECS["q_ann_coverage_curve"].fn(spark, sf_smoke))
    assert "CartesianProduct" not in text, text[:1500]


def test_r13_late_addition_plans(spark, sf_smoke):
    """The two post-reserve r13 additions keep their docstring shapes.
    q_context_length_plan: one scan with the 4-length explode fused in,
    a map-side-combinable groupBy on the tiny ctx_len key, no join of
    any kind (the lengths ride the explode, not a grid join) and no
    window. q_dedup_survivors: the CC closure plus ONE extra shuffle
    (cluster_id window + rollup share the partitioning); the
    component->metadata join is a deliberate shuffle join (per-doc
    relations are never broadcast) and nothing goes cartesian."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    text = explain_str(SPECS["q_context_length_plan"].fn(spark, sf_smoke))
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                 "BroadcastNestedLoopJoin", "Window"):
        assert node not in text, (node, text[:1500])
    assert "partial_count" in text and "partial_sum" in text, text[:1500]
    assert "Generate" in text, text[:1500]  # the fused explode

    text = explain_str(SPECS["q_dedup_survivors"].fn(spark, sf_smoke))
    assert "CartesianProduct" not in text, text[:1500]
    assert "Window" in text, text[:1500]
    # the survivor rank must be a plain window, not a global sort
    assert "rownum" in text.lower() or "row_number" in text.lower(), text[:1500]


def test_runtime_bloom_filter_reduces_fact_scan_when_join_shuffles(spark, sf_smoke):
    """At 100 TB the dim side of a selective join is often too big to
    broadcast and the join shuffles; Spark's runtime bloom-filter
    injection (on by default, gated on a 10 GiB application-side scan
    that fixtures never reach) then semi-join-reduces the fact shuffle
    at the scan. Pin that the engine's declarative join shape is
    ELIGIBLE: force the shuffle-join regime (broadcast off, size gates
    to zero) and assert Catalyst injects might_contain(bloom) onto the
    fact side. Every conf here is runtime-settable and restored, so the
    pin exercises exactly what flips at scale — data size — not a
    different plan."""
    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.catalog import table
    from spring_cloud_kafka_streams_dbz_etl_spark.session import tune

    tune(spark)
    touched = (
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        li = table(spark, sf_smoke, "lineitem")
        orders = table(spark, sf_smoke, "orders")
        j = (
            li.join(
                orders.filter(F.col("o_orderpriority") == "1-URGENT"),
                li.l_orderkey == orders.o_orderkey,
            )
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
        # The filter must land on the FACT (lineitem) side's key: the
        # probed column is an ARGUMENT of might_contain, so assert
        # l_orderkey appears on the might_contain line AFTER the token
        # (ADVICE r13: the old check looked before the token, where the
        # key never appears, then fell through to a clause any bloom
        # injection satisfied — fact side or not).
        bloom_lines = [ln for ln in plan.splitlines() if "might_contain" in ln]
        assert any(
            "l_orderkey" in ln.split("might_contain", 1)[1]
            for ln in bloom_lines
        ), "bloom filter did not land on the fact key:\n" + "\n".join(bloom_lines)
    finally:
        for k in touched:  # back to session defaults (tune() owns the rest)
            spark.conf.unset(k)


def test_bloom_skip_probes_push_into_scan_and_footer_has_bloom(spark, sf_smoke):
    """q_bloom_skip's two claims (queries/layout.py): (a) the probe
    digests reach the parquet reader as pushed In() literals — the scan
    can consult row-group bloom filters instead of reading data pages;
    (b) the written footer actually CARRIES a bloom filter for the
    digest column (bloom_filter_offset set), else (a) degrades to
    row-group stats that are useless for high-cardinality digests."""
    import pyarrow.parquet as pq

    df = SPECS["q_bloom_skip"].fn(spark, sf_smoke)
    pushed = " ".join(pushed_filters(df))
    assert "digest" in pushed and ("In(" in pushed or "in(" in pushed), pushed

    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    text = explain_str(df)
    loc = next(
        line for line in text.splitlines() if "bloomskip_" in line and "Location" in line
    )
    path = loc.split("[")[-1].split("]")[0].replace("file:", "").split(",")[0]
    import glob as _glob

    part = sorted(_glob.glob(f"{path}/part-*.parquet"))[0]
    assert pq.ParquetFile(part).metadata.num_row_groups > 1, (
        "fixture must produce multiple row groups to skip"
    )
    # pyarrow (16.x) doesn't surface bloom offsets — read the footer with
    # parquet-mr through the session JVM instead.
    jvm = spark._jvm
    in_file = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path(part), spark._jsc.hadoopConfiguration()
    )
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(in_file)
    try:
        block0 = reader.getFooter().getBlocks().get(0)
        cols = block0.getColumns()
        cc = next(
            cols.get(i)
            for i in range(cols.size())
            if cols.get(i).getPath().toDotString() == "digest"
        )
        bloom = reader.getBloomFilterDataReader(block0).readBloomFilter(cc)
        assert bloom is not None, (
            "digest column has no bloom filter in the written footer"
        )
    finally:
        reader.close()


def test_mad_outliers_reuses_one_grouping_exchange(spark, sf_smoke):
    """q_mad_outliers' scale claim: both rank windows and the final
    rollup share the (lang, source) shuffle key, so the plan carries no
    exchange on any OTHER key — a second key would mean the median and
    MAD stages re-shuffle the corpus."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_mad_outliers"].fn(spark, sf_smoke)
    text = explain_str(df)
    import re

    keys = {
        m.group(1)
        for m in re.finditer(r"hashpartitioning\((\w+)#\d+L?, (\w+)#\d+L?", text)
    }
    assert keys <= {"lang"}, f"unexpected exchange keys: {keys}\n{text[:1500]}"


def test_temporal_split_embargo_has_no_global_sort(spark, sf_smoke):
    """q_temporal_split_embargo finds the exact rank-k cut WITHOUT a
    data-sized global sort: the only Sort allowed over the events
    relation is inside the one-bucket rank window (partitioned by hour)
    and the |hours|-sized cumulative rollup. A rangepartitioning over
    the raw event stream would be the 100 TB scale-killer."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_temporal_split_embargo"].fn(spark, sf_smoke)
    text = explain_str(df)
    for line in text.splitlines():
        if "rangepartitioning" in line and "ts#" in line:
            raise AssertionError(f"global sort over raw events: {line}")


def test_write_shards_one_file_per_shard_and_bounded(spark):
    """VERDICT r14 ask #3's acceptance: execute the shard plan and
    verify the REALIZED layout — |files| == sum of q_shard_plan's
    n_shards (exact, since the fixture has no oversize docs) and every
    file's char mass stays under target + max_doc_chars (the greedy
    boundary-crossing bound)."""
    import glob
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.catalog import table
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.layout import (
        write_shards,
    )
    from spring_cloud_kafka_streams_dbz_etl_spark.queries.layout import (
        SHARD_TARGET_CHARS,
    )

    d = table(spark, SF_SCALE, "documents")
    plan = d.groupBy("source").agg(
        F.expr(
            f"(sum(n_chars) + {SHARD_TARGET_CHARS} - 1) DIV {SHARD_TARGET_CHARS}"
        ).alias("n_shards"),
        F.max("n_chars").alias("max_doc"),
        F.sum(
            F.when(F.col("n_chars") > SHARD_TARGET_CHARS, 1).otherwise(0)
        ).alias("oversize"),
    )
    rows = plan.collect()
    assert all(r["oversize"] == 0 for r in rows), "fixture grew oversize docs"
    planned_total = sum(r["n_shards"] for r in rows)
    max_doc = max(r["max_doc"] for r in rows)
    assert planned_total > len(rows), "target too large: nothing rolls over"

    path = tempfile.mkdtemp(prefix="write_shards_test_")
    try:
        write_shards(
            d.select("doc_id", "source", "n_chars", "text"),
            path,
            SHARD_TARGET_CHARS,
        )
        files = glob.glob(f"{path}/source=*/shard_id=*/*.parquet")
        assert len(files) == planned_total, (
            f"{len(files)} files != {planned_total} planned shards"
        )
        per_file = (
            spark.read.parquet(path)
            .withColumn("f", F.input_file_name())
            .groupBy("f")
            .agg(F.sum("n_chars").alias("chars"))
            .collect()
        )
        assert len(per_file) == planned_total
        bound = SHARD_TARGET_CHARS + max_doc
        worst = max(r["chars"] for r in per_file)
        assert worst < bound, f"file of {worst} chars breaches bound {bound}"
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_assign_shards_matches_naive_window_and_avoids_per_source_reducer(
    spark,
):
    """The two-pass distributed prefix scan must (a) compute exactly the
    naive per-source window's answer and (b) carry NO window partitioned
    by source alone — the per-source single-reducer shape it exists to
    avoid (a 5 TB task per source at 100 TB)."""
    import re

    from pyspark.sql import Window, functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.catalog import table
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.layout import (
        assign_shards_handle,
    )
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    d = table(spark, SF_ORACLE, "documents").select(
        "doc_id", "source", "n_chars"
    )
    got, parted = assign_shards_handle(d, 32_768, n_parts=7)
    text = explain_str(got)
    for m in re.finditer(r"Window .*?windowspecdefinition\(([^,]+), ([^,]+),", text):
        first, second = m.group(1), m.group(2)
        assert "_pid" in first or "_pid" in second, (
            f"window keyed without _pid: {m.group(0)[:120]}"
        )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    exp = d.select(
        "doc_id",
        F.expr(
            "(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars) "
            "DIV 32768"
        ).alias("shard_id"),
    )
    got_m = {r["doc_id"]: r["shard_id"] for r in got.collect()}
    exp_m = {r["doc_id"]: r["shard_id"] for r in exp.collect()}
    parted.unpersist()
    assert got_m == exp_m


def test_langid_confusion_single_corpus_shuffle_pruned_scan(spark, sf_smoke):
    """q_langid_confusion's scale claim: the corpus is shuffled ONCE (the
    (lang, predicted_lang) aggregate; the ppm window runs over the ~10-row
    cell relation) and the scan reads only the two columns the flagging
    needs."""
    import re

    from spring_cloud_kafka_streams_dbz_etl_spark.plans import (
        explain_str,
        read_schema_columns,
    )

    df = SPECS["q_langid_confusion"].fn(spark, sf_smoke)
    for cols in read_schema_columns(df):
        assert cols <= {"lang", "text"}, f"scan reads too much: {cols}"
    text = explain_str(df)
    # formatted mode puts exchange keys in the details section; the
    # corpus-sized shuffle is the one keyed on predicted_lang (the cell
    # aggregate); the ppm window's exchange re-keys the ~10-row cell
    # relation on lang alone.
    corpus_shuffles = re.findall(
        r"hashpartitioning\([^)]*predicted_lang[^)]*\)", text
    )
    assert len(corpus_shuffles) == 1, text[:1500]
    # hash exchanges: the cell aggregate + the ~10-row cell window,
    # nothing else (fan_out's round-robin fixture spreader is exempt —
    # it exists only to split the single-file fixture across cores)
    assert len(re.findall(r"hashpartitioning\(", text)) == 2, text[:1500]


def test_curation_funnel_one_scan_combinable(spark, sf_smoke):
    """q_curation_funnel folds all four stages out of ONE documents scan
    (no per-stage rescans, no self-joins): exactly one parquet scan of
    documents in the plan, and the only corpus-sized exchange is the
    distinct-count's digest repartition."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_curation_funnel"].fn(spark, sf_smoke)
    text = explain_str(df)
    scans = [
        line
        for line in text.splitlines()
        if "Scan parquet" in line and "documents" in line
    ]
    assert len(scans) <= 2, f"documents scanned {len(scans)}x:\n{text[:1500]}"


def test_shard_read_plan_rank_window_is_shard_sized(spark, sf_smoke):
    """q_shard_read_plan's scale claims after the r16 rebuild (VERDICT
    r15 ask #2): (a) the shard masses come from assign_shards' two-pass
    prefix scan, executed inside the builder and localCheckpointed — so
    the REGISTERED plan contains no corpus scan at all, only the
    shard-sized checkpointed relation; (b) in particular it carries NO
    window partitioned by `source` alone (the per-source single-reducer
    shape tools/measure_shard_assign.py measured 6x slower and
    super-linear at 20.5 M rows/source); (c) the serpentine rank
    (row_number) survives, consuming the aggregated `chars` column."""
    import re

    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["q_shard_read_plan"].fn(spark, sf_smoke)
    text = explain_str(df)
    assert "row_number" in text
    assert "Scan parquet" not in text, (
        f"registered plan still scans the corpus:\n{text[:2000]}"
    )
    for m in re.finditer(r"windowspecdefinition\(([^,]+),", text):
        assert "source" not in m.group(1), (
            f"window partitioned by source alone: {m.group(0)[:120]}"
        )
    # the rank consumes the rolled-up `chars` column, not raw n_chars
    assert "chars" in text


def test_source_mix_drift_single_corpus_shuffle(spark, sf_smoke):
    """q_source_mix_drift's scale claim: the corpus shuffles once (the
    (slice_id, source) aggregate); every window exchange re-keys the
    ~200-row cell relation; the scan reads only (doc_id, source)."""
    import re

    from spring_cloud_kafka_streams_dbz_etl_spark.plans import (
        explain_str,
        read_schema_columns,
    )

    df = SPECS["q_source_mix_drift"].fn(spark, sf_smoke)
    for cols in read_schema_columns(df):
        assert cols <= {"doc_id", "source"}, f"scan reads too much: {cols}"
    text = explain_str(df)
    corpus_shuffles = re.findall(
        r"hashpartitioning\([^)]*slice_id[^)]*source[^)]*\)", text
    )
    assert len(corpus_shuffles) == 1, text[:2000]


def test_vocab_coverage_broadcasts_vocab_not_corpus(spark, sf_smoke):
    """q_vocab_coverage's scale claim: the membership test broadcasts
    the budget-row vocabulary onto the token stream — the corpus-sized
    relation never shuffles for the join (its only shuffles are the word
    histogram and the per-source rollup)."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import (
        explain_str,
        has_broadcast_join,
    )

    df = SPECS["q_vocab_coverage"].fn(spark, sf_smoke)
    assert has_broadcast_join(df)
    text = explain_str(df)
    assert "SortMergeJoin" not in text, text[:1500]


def test_eval_gram_coverage_broadcast_only_joins(spark, sf_smoke):
    """q_eval_gram_coverage's scale claim: the bench gram set broadcasts
    (eval-suite-sized at any corpus scale), the corpus side is a
    map-side probe against it, and no join ever sort-merges — the only
    shuffles are the distincts over digest-sized relations bounded by
    the bench set."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import (
        explain_str,
        has_broadcast_join,
        read_schema_columns,
    )

    df = SPECS["q_eval_gram_coverage"].fn(spark, sf_smoke)
    for cols in read_schema_columns(df):
        assert cols <= {"doc_id", "text"}, f"scan reads too much: {cols}"
    assert has_broadcast_join(df)
    text = explain_str(df)
    assert "SortMergeJoin" not in text, text[:1500]


def test_chunk_langid_mix_no_explode_one_shuffle(spark, sf_smoke):
    """q_chunk_langid_mix's scale claim: the per-chunk language flags are
    ARRAY expressions inside the row (sequence + filter + slice) — no
    Generate/explode, no per-chunk rows — and the only exchange keyed on
    corpus data is the per-source combinable aggregate."""
    import re

    from spring_cloud_kafka_streams_dbz_etl_spark.plans import (
        explain_str,
        read_schema_columns,
    )

    df = SPECS["q_chunk_langid_mix"].fn(spark, sf_smoke)
    for cols in read_schema_columns(df):
        assert cols <= {"source", "text"}, f"scan reads too much: {cols}"
    text = explain_str(df)
    assert "Generate" not in text, f"chunk loop exploded into rows:\n{text[:1500]}"
    assert len(re.findall(r"hashpartitioning\([^)]*source[^)]*\)", text)) == 1, (
        text[:1500]
    )


def test_quality_length_corr_single_combinable_aggregate(spark, sf_smoke):
    """q_quality_length_corr's scale claim: one corpus pass, map-only
    scoring, ONE combinable per-source aggregate carrying the six exact
    sufficient statistics — no window over corpus rows, no self-join."""
    import re

    from spring_cloud_kafka_streams_dbz_etl_spark.plans import (
        explain_str,
        read_schema_columns,
    )

    df = SPECS["q_quality_length_corr"].fn(spark, sf_smoke)
    for cols in read_schema_columns(df):
        assert cols <= {"source", "text"}, f"scan reads too much: {cols}"
    text = explain_str(df)
    assert "Window" not in text, text[:1500]
    assert "Join" not in text, text[:1500]
    assert len(re.findall(r"hashpartitioning\([^)]*source[^)]*\)", text)) == 1, (
        text[:1500]
    )


def test_budget_prune_no_corpus_sized_global_sort(spark, sf_smoke):
    """q_budget_prune's scale claim: the oracle's global running sum is
    executed as the two-phase quantile shape — the only UNPARTITIONED
    cumulative windows run over the ≤1001-row quality-bucket rollup,
    and every per-DOC window (the one ordering by doc_id) is
    partitioned by the bucket key, i.e. confined to the single boundary
    bucket; the boundary scalar rides the plan's one sanctioned 1-row
    broadcast nested-loop join."""
    import re

    from spring_cloud_kafka_streams_dbz_etl_spark.plans import (
        explain_str,
        read_schema_columns,
    )

    df = SPECS["q_budget_prune"].fn(spark, sf_smoke)
    for cols in read_schema_columns(df):
        assert cols <= {"doc_id", "source", "text"}, (
            f"scan reads too much: {cols}"
        )
    text = explain_str(df)
    assert "CartesianProduct" not in text, text[:2000]
    assert text.count("BroadcastNestedLoopJoin Cross") == 1, text[:2000]
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", text):
        spec = m.group(1)
        if "doc_id" in spec:
            assert spec.split(",")[0].startswith("qb"), (
                f"per-doc window not bucket-partitioned: {m.group(0)[:160]}"
            )


def test_importance_select_stream_reads_features_not_corpus(spark, sf_smoke):
    """s_importance_select's scale claim: the registered final plan
    scores entirely over the FEATURIZED partials the micro-batches
    committed plus the frozen target store — it never rescans the
    corpus (documents parquet) for the selection itself."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["s_importance_select"].fn(spark, sf_smoke)
    text = explain_str(df)
    scans = [
        line
        for line in text.splitlines()
        if "Scan parquet" in line and "documents" in line
    ]
    assert not scans, f"selection rescans the corpus:\n{text[:1500]}"


def test_source_mix_drift_stream_reads_cells_not_corpus(spark, sf_smoke):
    """s_source_mix_drift's scale claim: the registered final plan runs
    entirely over the (slice, source) CELLS store the micro-batches
    committed — it never rescans the corpus (documents parquet) for the
    monitor itself."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["s_source_mix_drift"].fn(spark, sf_smoke)
    text = explain_str(df)
    scans = [
        line
        for line in text.splitlines()
        if "Scan parquet" in line and "documents" in line
    ]
    assert not scans, f"monitor rescans the corpus:\n{text[:1500]}"


def test_knn_hubness_blocked_join_no_cartesian(spark, sf_smoke):
    """q_knn_hubness's scale claim: candidate edges come from the blocked
    (label-keyed) equi self-join — never a cartesian pair space — the
    in-degree aggregate keys on the 8-byte dst id, and the share window
    runs over the degree histogram, not the corpus."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import (
        explain_str,
        read_schema_columns,
    )

    df = SPECS["q_knn_hubness"].fn(spark, sf_smoke)
    for cols in read_schema_columns(df):
        assert cols <= {"vec_id", "label", "embedding"}, (
            f"scan reads too much: {cols}"
        )
    text = explain_str(df)
    assert "CartesianProduct" not in text, text[:1500]
    assert "BroadcastNestedLoopJoin" not in text, text[:1500]


def test_dup_timeline_digest_window_never_corpus_partition(spark, sf_smoke):
    """q_dup_timeline's scale claim: the corpus shuffles once into the
    (digest, slice) cells; the first-occurrence window partitions by the
    digest over that pre-aggregated relation (<= |slices| rows per
    group) — no single-partition window and no window partitioned by a
    low-cardinality key like slice or source."""
    import re

    from spring_cloud_kafka_streams_dbz_etl_spark.plans import (
        explain_str,
        read_schema_columns,
    )

    df = SPECS["q_dup_timeline"].fn(spark, sf_smoke)
    for cols in read_schema_columns(df):
        assert cols <= {"doc_id", "text"}, f"scan reads too much: {cols}"
    text = explain_str(df)
    specs = re.findall(r"windowspecdefinition\(([^,]+),", text)
    assert specs, "expected the digest-partitioned first-occurrence window"
    for first in specs:
        assert "h#" in first or first.strip().startswith("h"), (
            f"window not partitioned by digest: {first}"
        )


def test_dup_timeline_stream_reads_partials_not_corpus(spark, sf_smoke):
    """s_dup_timeline's scale claim: the registered final plan runs over
    the per-slice digest partials the micro-batches committed — it never
    rescans the corpus, and its only window partitions by digest over
    those pre-aggregated cells."""
    import re

    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["s_dup_timeline"].fn(spark, sf_smoke)
    text = explain_str(df)
    scans = [
        line
        for line in text.splitlines()
        if "Scan parquet" in line and "documents" in line
    ]
    assert not scans, f"monitor rescans the corpus:\n{text[:1500]}"
    for first in re.findall(r"windowspecdefinition\(([^,]+),", text):
        assert "h#" in first or first.strip().startswith("h"), (
            f"window not partitioned by digest: {first}"
        )


def test_quality_gate_sweep_single_pass_one_row_agg(spark, sf_smoke):
    """q_quality_gate_sweep's scale claim: one corpus scan, map-only
    scoring, ALL |thresholds| x 2 conditional sums folded into a SINGLE
    combinable 1-row aggregate (no per-threshold rescans, no explode,
    no join) — the grid unpivots from that one row via stack."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import (
        explain_str,
        read_schema_columns,
    )

    df = SPECS["q_quality_gate_sweep"].fn(spark, sf_smoke)
    for cols in read_schema_columns(df):
        assert cols <= {"text"}, f"scan reads too much: {cols}"
    text = explain_str(df)
    # formatted mode lists each scan twice (tree node + details section)
    scans = [line for line in text.splitlines() if "Scan parquet" in line]
    assert len(scans) <= 2, f"corpus scanned {len(scans)}x:\n{text[:1500]}"
    assert "Join" not in text, text[:1500]
    assert "Window" not in text, text[:1500]
    # the only Generate is stack's grid unpivot, and it must sit ABOVE
    # the global aggregate (a 1-row input), never against corpus rows
    gens = [l for l in text.splitlines() if "Generate" in l]
    assert len(gens) <= 2, f"unexpected explodes:\n{text[:1500]}"
    tree = text[: text.index("(1) Scan parquet")]
    assert tree.index("Generate") < tree.index("HashAggregate"), tree[:800]


def test_langid_gate_sweep_single_pass_one_row_agg(spark, sf_smoke):
    """q_langid_gate_sweep's scale claim: one corpus scan, map-only
    integer flagging (no division anywhere in the gate decision), all
    thresholds folded into a single combinable 1-row aggregate, grid
    unpivoted above the aggregate."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import (
        explain_str,
        read_schema_columns,
    )

    df = SPECS["q_langid_gate_sweep"].fn(spark, sf_smoke)
    for cols in read_schema_columns(df):
        assert cols <= {"lang", "text"}, f"scan reads too much: {cols}"
    text = explain_str(df)
    scans = [line for line in text.splitlines() if "Scan parquet" in line]
    assert len(scans) <= 2, f"corpus scanned {len(scans)}x:\n{text[:1500]}"
    assert "Join" not in text, text[:1500]
    assert "Window" not in text, text[:1500]
    tree = text[: text.index("(1) Scan parquet")]
    assert tree.index("Generate") < tree.index("HashAggregate"), tree[:800]


def test_decontaminate_stream_reads_partials_not_corpus(spark, sf_smoke):
    """s_decontaminate's scale claim: the registered final plan reads
    only the per-batch contaminated-doc partials — never the corpus or
    the bench store — and carries no join or window at all."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str

    df = SPECS["s_decontaminate"].fn(spark, sf_smoke)
    text = explain_str(df)
    scans = [
        line
        for line in text.splitlines()
        if "Scan parquet" in line and "documents" in line
    ]
    assert not scans, f"monitor rescans the corpus:\n{text[:1500]}"
    assert "Join" not in text, text[:1500]
    assert "Window" not in text, text[:1500]


def test_gate_interaction_single_pass_one_row_agg(spark, sf_smoke):
    """q_gate_interaction's scale claim: one corpus scan, map-only
    integer flagging, all 25x2 conditional sums in a single combinable
    1-row aggregate, grid unpivoted above the aggregate — growing the
    grid widens the row, never adds a pass."""
    from spring_cloud_kafka_streams_dbz_etl_spark.plans import (
        explain_str,
        read_schema_columns,
    )

    df = SPECS["q_gate_interaction"].fn(spark, sf_smoke)
    for cols in read_schema_columns(df):
        assert cols <= {"text"}, f"scan reads too much: {cols}"
    text = explain_str(df)
    scans = [line for line in text.splitlines() if "Scan parquet" in line]
    assert len(scans) <= 2, f"corpus scanned {len(scans)}x:\n{text[:1500]}"
    assert "Join" not in text, text[:1500]
    assert "Window" not in text, text[:1500]
    tree = text[: text.index("(1) Scan parquet")]
    assert tree.index("Generate") < tree.index("HashAggregate"), tree[:800]
