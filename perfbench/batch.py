"""The ``batch_core`` workload: one client runs every registered batch query
marked ``bench=True`` (the set ``bench.py`` times, without its five ``s_*``
streaming members), sequentially, each as ``spec.fn(spark, sf_dir)``
followed by ``collect()``. The collected rows are compared, outside the
timed region, with the query's DuckDB oracle answer on the same parquet
files, computed before the run."""

from __future__ import annotations

import datetime as _dt
import math
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb

BATCH_SF = 0.01

# Family of every bench query: the family sums say which kind of kernel
# moved. A bench query missing here stops the run rather than being
# silently left out of every family.
FAMILIES = {
    "relational": (
        "q_tpch_q1", "q_tpch_q3", "q_tpch_q5", "q_tpch_q8", "q_tpch_q9", "q_tpch_q21",
        "q_enrich_join", "q_join_inner_multi", "q_agg_group", "q_window_rank",
        "q_interval_join", "q_quantile_bins", "q_zorder_layout",
    ),
    "dedup": (
        "q_minhash_near_dup", "q_simhash_near_dup", "q_containment", "q_dup_clusters",
        "q_semantic_clusters", "q_decontaminate",
    ),
    "vector": (
        "q_cosine_topk", "q_pq_adc_topk", "q_ann_ivfpq", "q_ann_pq_recall_trained_cb",
        "q_knn_graph", "q_triangle_count",
    ),
    "text": (
        "q_text_stats", "q_tfidf", "q_unigram_nll", "q_bigram_nll", "q_perplexity_filter",
        "q_cooccurrence", "q_curation_pipeline",
    ),
}
FAMILY_OF = {q: fam for fam, qs in FAMILIES.items() for q in qs}


def bench_specs() -> dict:
    from spring_cloud_kafka_streams_dbz_etl_spark.queries import all_queries

    specs = {n: s for n, s in all_queries().items() if s.bench and not n.startswith("s_")}
    unknown = sorted(set(specs) - set(FAMILY_OF))
    if unknown:
        raise RuntimeError(f"bench queries without a family: {unknown}")
    return specs


def warm_up(spark, sf_dir: str) -> None:
    """Program set-up: one tiny query through a shuffle, a decimal partial
    aggregate, a broadcast join and an Arrow Python map, so that no query
    of the pass pays for starting them."""
    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.catalog import table

    nation, region = table(spark, sf_dir, "nation"), table(spark, sf_dir, "region")
    mapped = nation.mapInArrow(lambda batches: batches, nation.schema)
    (
        mapped.join(region, mapped.n_regionkey == region.r_regionkey)
        .repartition(8)
        .groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("n_nationkey").cast("decimal(18,6)")).cast("double").alias("s"))
        .write.format("noop").mode("overwrite").save()
    )


def _norm(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def canonical(rows, columns) -> list[tuple]:
    """Order-insensitive value set with columns sorted by name (the
    driver's comparison)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def oracle_answers(sf_dir: str, specs: dict) -> dict[str, tuple[list, list]]:
    """Each query's oracle rows and column names, from DuckDB over the same
    parquet files. Independent of Spark, so it can run while the JVM
    starts."""
    from spring_cloud_kafka_streams_dbz_etl_spark.catalog import TABLES

    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')")
    out = {}
    for name, spec in specs.items():
        res = con.execute(spec.oracle)
        out[name] = (res.fetchall(), [d[0] for d in res.description])
    con.close()
    return out


def mismatch(rows, columns, expected) -> str | None:
    exp, exp_cols = expected
    if sorted(exp_cols) != sorted(columns):
        return f"columns {sorted(columns)} != {sorted(exp_cols)}"
    if len(exp) != len(rows):
        return f"{len(rows)} rows != {len(exp)}"
    if canonical(rows, columns) != canonical(exp, exp_cols):
        return "values differ"
    return None


class BatchWorkload:
    """Set-up: the warm-up query. Run: one pass over the bench queries,
    each result compared with its oracle answer between queries."""

    def __init__(self, seed: int, root: str) -> None:
        from fixture import write_tables

        self.root = root
        self.sf_dir = write_tables(seed, BATCH_SF, os.path.join(root, "tables"))
        self.specs = bench_specs()
        # the oracle answers need no Spark: compute them while the JVM starts
        self._pool = ThreadPoolExecutor(1)
        self._expected = self._pool.submit(oracle_answers, self.sf_dir, self.specs)

    def prepare(self, rep: int) -> None:
        # the first set-up launches the JVM and is never the median; the
        # oracle answers are complete before any other set-up is timed
        if rep == 1:
            self._expected = self._expected.result()
            self._pool.shutdown()

    def setup(self, spark, tracer) -> None:
        warm_up(spark, self.sf_dir)

    def teardown(self) -> None:
        pass

    def run(self, spark, tracer) -> dict:
        seconds, windows, mismatches, n_rows = {}, {}, {}, 0
        for name in sorted(self.specs):
            with tracer.span("queries", name) as sp:
                df = self.specs[name].fn(spark, self.sf_dir)
                rows = df.collect()
            seconds[name] = sp.seconds
            windows[name] = (sp.start, sp.end)
            n_rows += len(rows)
            why = mismatch(rows, df.columns, self._expected[name])
            if why:
                mismatches[name] = why
        layers = {f"queries.{q}.s": s for q, s in seconds.items()}
        for fam, qs in FAMILIES.items():
            layers[f"queries.{fam}_s"] = sum(seconds.get(q, 0.0) for q in qs)
        lo, hi = min(a for a, _ in windows.values()), max(b for _, b in windows.values())
        lat = [seconds[q] for q in sorted(seconds)]
        return {
            "wall_s": sum(lat),
            "rows": n_rows,
            "latencies_s": lat,
            "attempted": len(lat),
            "failed": len(mismatches),
            "layers": layers,
            "windows": {"measure": (lo, hi), "epochs": (lo, hi), "queries": windows},
            "details": {"mismatches": mismatches, "queries_s": seconds},
        }
