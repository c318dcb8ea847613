"""Partitioned/bucketed sink tests: layout + pruning/shuffle-elimination
properties that matter at scale."""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import functions as F

from spring_cloud_kafka_streams_dbz_etl_spark.catalog import table
from spring_cloud_kafka_streams_dbz_etl_spark.plans import explain_str
from spring_cloud_kafka_streams_dbz_etl_spark.sources.sinks import (
    write_bucketed,
    write_partitioned,
)


def test_partitioned_write_prunes(spark, sf_smoke):
    out = tempfile.mkdtemp(prefix="scksde_part_")
    ev = table(spark, sf_smoke, "events")
    write_partitioned(ev, out, ["event_type"])
    # hive-style directories exist
    assert any(d.startswith("event_type=") for d in os.listdir(out))
    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    text = explain_str(back)
    assert "PartitionFilters" in text and "event_type" in text.split("PartitionFilters")[1][:200]
    assert back.count() == ev.filter("event_type = 'click'").count()


def test_bucketed_join_skips_shuffle(spark, sf_smoke):
    suffix = uuid.uuid4().hex[:6]
    ev = table(spark, sf_smoke, "events")
    cust = table(spark, sf_smoke, "customer")
    write_bucketed(ev, f"ev_b_{suffix}", ["user_id"], num_buckets=8)
    write_bucketed(
        cust.withColumnRenamed("c_custkey", "user_id"), f"cust_b_{suffix}", ["user_id"], 8
    )
    a = spark.table(f"ev_b_{suffix}")
    b = spark.table(f"cust_b_{suffix}")
    # disable broadcast so the join would need a shuffle if not bucketed
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, "user_id")
        text = explain_str(joined)
        assert "SortMergeJoin" in text
        assert "Exchange hashpartitioning" not in text, "bucketed join must not shuffle"
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql(f"DROP TABLE IF EXISTS ev_b_{suffix}")
        spark.sql(f"DROP TABLE IF EXISTS cust_b_{suffix}")


# -- dimension CRUD (§2A #22) ------------------------------------------------


def test_upsert_dimension_latest_wins_and_append(spark, tmp_path):
    from spring_cloud_kafka_streams_dbz_etl_spark.sources.sinks import (
        delete_from_dimension,
        load_dimension,
        upsert_dimension,
    )

    path = str(tmp_path / "dim")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k int, name string, v double"
    )
    info = upsert_dimension(base, path, keys=["k"])
    assert info["total"] == 2

    # replace k=2, append k=3
    up = spark.createDataFrame(
        [(2, "b2", 21.0), (3, "c", 30.0)], "k int, name string, v double"
    )
    info = upsert_dimension(up, path, keys=["k"])
    assert info == {"upserted": 2, "total": 3, "path": path}
    rows = {r.k: r for r in load_dimension(spark, path).collect()}
    assert rows[1].name == "a"          # untouched key kept
    assert rows[2].name == "b2" and rows[2].v == 21.0  # replaced, not duplicated
    assert rows[3].name == "c"          # new key appended

    # schema drift fails loudly
    import pytest

    with pytest.raises(ValueError):
        upsert_dimension(
            spark.createDataFrame([(9,)], "k int"), path, keys=["k"]
        )

    # delete side
    info = delete_from_dimension(
        spark, path, keys=["k"], keys_df=spark.createDataFrame([(1,)], "k int")
    )
    assert info["total"] == 2
    assert sorted(r.k for r in load_dimension(spark, path).collect()) == [2, 3]

    # commit hygiene: only the latest two committed versions remain, no
    # staging leftovers (3 CRUD commits happened -> _v00002/_v00003)
    import os

    entries = sorted(os.listdir(path))
    assert entries == ["_v00002", "_v00003"]

    # static-dim fallback: load_dimension on a plain parquet path
    plain = str(tmp_path / "static")
    base.write.parquet(plain)
    assert load_dimension(spark, plain).count() == 2


def test_dimension_reader_resolves_once_per_version(spark, tmp_path):
    """A stream's per-epoch dimension read reuses one DataFrame while the
    newest committed version is unchanged, switches to the new version
    after an upsert, takes the same schema inference would (from the
    version's footer), and reuses a static dim's DataFrame until its
    files change, when an in-place rewrite is visible to the next call."""
    from spring_cloud_kafka_streams_dbz_etl_spark.sources.sinks import (
        dimension_reader,
        load_dimension,
        upsert_dimension,
    )

    path = str(tmp_path / "dim")
    read = dimension_reader(spark, path)
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k int, name string, v double"
    )
    upsert_dimension(base, path, keys=["k"])
    first = read()
    assert read() is first
    assert first.schema == load_dimension(spark, path).schema
    assert sorted(r.k for r in first.collect()) == [1, 2]

    upsert_dimension(spark.createDataFrame([(3, "c", 30.0)], base.schema), path, keys=["k"])
    second = read()
    assert second is not first and read() is second
    assert sorted(r.k for r in second.collect()) == [1, 2, 3]

    plain = str(tmp_path / "static")
    base.write.parquet(plain)
    static = dimension_reader(spark, plain)
    once = static()
    assert static() is once and once.count() == 2
    assert once.schema == spark.read.parquet(plain).schema
    spark.createDataFrame([(4, "d", 40.0)], base.schema).write.mode("overwrite").parquet(plain)
    again = static()
    assert again is not once and [r.k for r in again.collect()] == [4]


def test_upsert_rejects_duplicate_key_batch(spark, tmp_path):
    """Review finding r03: duplicate keys in one upsert batch have no
    defined winner and would give the dimension duplicate join keys —
    must fail loudly, not fan out enrichment."""
    import pytest

    from spring_cloud_kafka_streams_dbz_etl_spark.sources.sinks import (
        load_dimension,
        upsert_dimension,
    )

    path = str(tmp_path / "dim")
    upsert_dimension(
        spark.createDataFrame([(1, "a")], "k int, v string"), path, keys=["k"]
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        upsert_dimension(
            spark.createDataFrame([(2, "x"), (2, "y")], "k int, v string"),
            path,
            keys=["k"],
        )
    # dimension untouched by the rejected batch
    assert [r.k for r in load_dimension(spark, path).collect()] == [1]


def test_upsert_survives_interrupted_commit(spark, tmp_path):
    """Crash model of the versioned-commit layout: a writer dying before
    its atomic staging->version rename leaves only an invisible
    ``.staging_*`` dir. The dimension must stay fully readable the whole
    time, and the next CRUD call must merge against the committed state
    and clean the leftover."""
    import os

    from spring_cloud_kafka_streams_dbz_etl_spark.sources.sinks import (
        load_dimension,
        upsert_dimension,
    )

    path = str(tmp_path / "dim")
    upsert_dimension(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
        path,
        keys=["k"],
    )
    # simulate the crash window: a half-written staging dir, never committed
    dead = f"{path}/.staging_deadbeef0000"
    os.makedirs(dead)
    with open(f"{dead}/part-00000.parquet", "w") as f:
        f.write("garbage")
    assert sorted(r.k for r in load_dimension(spark, path).collect()) == [1, 2]
    info = upsert_dimension(
        spark.createDataFrame([(3, "c")], "k int, v string"), path, keys=["k"]
    )
    assert info["total"] == 3  # prior rows kept, staging ignored
    assert sorted(r.k for r in load_dimension(spark, path).collect()) == [1, 2, 3]
    assert not os.path.exists(dead)  # dead staging pruned by the commit


def test_dimension_crud_job_count(spark, tmp_path):
    """Shape of a small CRUD call on a 1,000-row dimension, counted by job
    group: an upsert runs one aggregate over the incoming batch (its
    duplicate check and row count) plus the anti-join write; a delete runs
    the anti-join write alone. Both take the dimension's schema and the
    new total from parquet footers, with no inference or count job."""
    from spring_cloud_kafka_streams_dbz_etl_spark.sources.sinks import (
        delete_from_dimension,
        load_dimension,
        upsert_dimension,
    )

    path = str(tmp_path / "dim")
    rows = [(k, f"n{k}", float(k)) for k in range(1000)]
    upsert_dimension(spark.createDataFrame(rows, "k long, name string, v double"), path, ["k"])
    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()
    batch = spark.createDataFrame(
        [(k, f"m{k}", -1.0) for k in range(995, 1005)], "k long, name string, v double"
    )
    dels = spark.createDataFrame([(0,), (1,)], "k long")
    try:
        sc.setJobGroup("dim-upsert", "dim-upsert")
        up = upsert_dimension(batch, path, ["k"])
        sc.setJobGroup("dim-delete", "dim-delete")
        rm = delete_from_dimension(spark, path, ["k"], dels)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert up == {"upserted": 10, "total": 1005, "path": path}
    assert rm == {"total": 1003, "path": path}
    assert load_dimension(spark, path).count() == 1003
    assert len(tracker.getJobIdsForGroup("dim-upsert")) <= 7
    assert len(tracker.getJobIdsForGroup("dim-delete")) <= 4


def test_dynamic_partition_pruning_from_dim_filter(spark, sf_smoke, tmp_path):
    """Dynamic partition pruning: a fact table PARTITIONED on the join
    key must be pruned at runtime by a FILTERED dimension — the filter
    sits on the dim, never literally on the fact, yet only matching
    partitions are scanned. This is the 100 TB star-join contract: the
    dim filter decides which fact partitions exist in the plan, without
    the user rewriting the predicate onto the fact side."""
    out = str(tmp_path / "events_by_type")
    ev = spark.read.parquet(f"{sf_smoke}/events.parquet")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)

    dim = spark.createDataFrame(
        [("click", 1.5), ("purchase", 3.0), ("view", 0.5),
         ("signup", 2.0), ("error", 0.0)],
        "etype string, weight double",
    ).filter(F.col("weight") >= 2.0)  # keeps purchase + signup only

    fact = spark.read.parquet(out)
    joined = fact.join(dim, fact.event_type == dim.etype).select(
        "event_id", "event_type", "weight"
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:3000]
    # and the pruning is semantically right: only the two kept types survive
    types = {r.event_type for r in joined.select("event_type").distinct().collect()}
    assert types == {"purchase", "signup"}
