"""Parquet table catalog for the driver test tables.

Tables (see TESTDATA.md / FIXTURES.md §B): region nation customer supplier
part orders lineitem events documents embeddings — one parquet per table
under ``{sf_dir}/``.

Reads go through ``spark.read.parquet`` so Catalyst gets full predicate
pushdown + column pruning into the scan; at cluster scale the same loaders
would point at partitioned/bucketed table roots instead of single files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # Fallback for readers that surface parquet TIMESTAMP(NANOS) as
        # long nanos (legacy nanosAsLong behavior). Spark 4.1 reads the
        # column natively as TIMESTAMP_NTZ truncated to micros, so this is
        # normally inert; cast to NTZ to match that native path exactly.
        from pyspark.sql import functions as F

        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


def local_rows(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Small driver-local relation via the Arrow/pandas path.

    ``spark.createDataFrame(list, schema)`` parallelizes the collection
    into ``defaultParallelism`` slices served to executors one socket
    round-trip each; any downstream ``coalesce(1)`` (the single-file
    commit idiom) then pays all 32 round-trips SEQUENTIALLY in one task —
    measured ~6 s for a 4-row relation on local[32] (r17 optimization
    round). The pandas path Arrow-serializes the same rows into
    ``min(len(rows), defaultParallelism)`` partitions (ADVICE r17: 2
    partitions/fetches for a 2-row frame, 1 only for 1-row sentinels) —
    for control-plane-sized relations that is a handful of fetches
    instead of 32, ~0.3 s including the write. Use for every
    control-plane-sized local relation on a hot path (txn range
    commits, per-batch rollup partials, knob grids).

    ``schema`` is a DDL string or StructType; rows are tuples in schema
    field order (the createDataFrame(list) convention, unchanged).
    """
    import pandas as pd

    from pyspark.sql import types as T

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    names = [f.name for f in schema.fields]
    pdf = pd.DataFrame.from_records(list(rows), columns=names)
    return spark.createDataFrame(pdf, schema=schema)


def fan_out(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Decouple compute parallelism from source layout.

    The driver testdata is one parquet file with ONE row group per table,
    so scans are inherently single-threaded no matter what
    maxPartitionBytes says — a round-robin repartition to cluster
    parallelism before a compute-heavy stage (md5 shingling, vector folds,
    JSON codec) trades one cheap shuffle of the base rows for N-way
    parallel compute. On a real 100 TB layout (thousands of row groups)
    the scan parallelizes naturally and callers should skip this.
    """
    try:
        par = spark.sparkContext.defaultParallelism
    except Exception:  # pragma: no cover
        par = 8
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par)


def fan_out_vectorized(
    df: DataFrame, spark: SparkSession, bytes_per_task: int = 8 << 20
) -> DataFrame:
    """Scale-adaptive fan-out for VECTORIZED Arrow kernels (~ns/row work:
    the ANN argmin/encode family). :func:`fan_out` spreads to cluster
    parallelism unconditionally — right for per-row-expensive kernels
    (md5 shingling, codecs), but a tiny relation shatters into
    per-task Python overhead that dwarfs the compute: at sf0.1 the
    2000-row embeddings table became 32 ~60-row Arrow batches, and every
    training/encode pass paid 32 worker round-trips for microseconds of
    numpy (r17 job profile: 0.5-1.4 s per 32-task stage). Partition
    count here derives from INPUT SIZE (guide §2: scale-adaptive, not a
    core-count constant): ~8 MB of parquet per task, floored at 1,
    capped at cluster parallelism. A 100 TB corpus saturates the cap (and
    its scan parallelizes naturally, making the repartition a no-op); a
    fixture-sized relation stays in one well-fed batch."""
    import os as _os

    try:
        par = spark.sparkContext.defaultParallelism
    except Exception:  # pragma: no cover
        par = 8
    try:
        nbytes = sum(
            _os.path.getsize(f.removeprefix("file:")) for f in df.inputFiles()
        )
    except Exception:
        return fan_out(df, spark)
    n = max(1, min(int(nbytes // bytes_per_task) + 1, par))
    cur = df.rdd.getNumPartitions()
    if cur == n or (1 < cur <= n):
        return df
    return df.repartition(n)


def driver_sized_bytes(df: DataFrame) -> int | None:
    """The optimized plan's size estimate of ``df`` when the driver can
    hold it, else None. "Can hold" means at most the session's
    ``spark.sql.autoBroadcastJoinThreshold`` — the size Spark already
    ships to every executor as a broadcast — with the stock 10 MB anchor
    when auto-broadcast is disabled (<= 0). A plan that reports no size
    (Spark's default estimate is ``Long.MaxValue``, e.g. a Kafka scan) or
    whose estimate cannot be read is not small. No job runs: the estimate
    comes from plan statistics (file sizes scaled by projection). The
    threshold is read typed from the session's SQLConf, so a byte string
    such as "10MB" (or the "10485760b" ``spark.conf.get`` returns for the
    default) means what Spark's own join selection takes it to mean."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        threshold = int(
            df.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        )
    except Exception:
        return None
    if threshold <= 0:
        threshold = 10 << 20
    return size if size <= threshold else None


def register_views(spark: SparkSession, sf_dir: str, suffix: str = "") -> None:
    """Register every table as a temp view for the SQL API — the same
    names the DuckDB oracles use, so any oracle SQL in this repo is also
    directly runnable here (modulo dialect)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name + suffix)
