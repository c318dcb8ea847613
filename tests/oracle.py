"""Local emulation of the driver's DuckDB-oracle comparison.

Mirrors the driver contract: run the Spark query and the oracle SQL on the
same parquet tables, then compare row count + column names + an
order-insensitive canonical value set. Stricter than the driver on values
(exact equality, with float diagnostics on mismatch) so anything passing
here should hash-match there.
"""

from __future__ import annotations

import datetime as _dt
import math

import duckdb

from spring_cloud_kafka_streams_dbz_etl_spark.catalog import TABLES


# DuckDB's default memory_limit is 80% of RAM, for every connection.
# Measured at sf0.1 (one process per oracle, 4 threads): the heaviest
# oracle, q_ann_nprobe_curve, peaks at 9.8 GB RSS and fails with an
# out-of-memory error under an 8 GB limit; every other oracle peaks
# under 3.1 GB. The limit is that peak plus headroom.
MEMORY_LIMIT = "11GB"


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB connection with every table as a view over
    ``sf_dir``'s parquet files. The caller closes it."""
    con = duckdb.connect(config={"memory_limit": MEMORY_LIMIT})
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, _dt.datetime):
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def canonical(rows, columns) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def compare(spark_df, oracle_sql: str, sf_dir: str, name: str = "query") -> None:
    # Driver contract: the external canonicalizer factorizes columns through
    # pandas, which cannot hash array/map/struct cells (CORRECTNESS_r02's one
    # red row). Oracled queries must emit scalar columns only — encode
    # nested values as canonical strings (array_join/to_json) on BOTH sides.
    from pyspark.sql import types as T

    for f in spark_df.schema.fields:
        assert not isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)), (
            f"{name}: column {f.name!r} is {f.dataType.simpleString()} — the driver's "
            "pandas canonicalizer cannot hash nested cells; emit a canonical string"
        )
    con = duck_connection(sf_dir)
    try:
        expected = con.execute(oracle_sql).fetchall()
        exp_cols = [d[0] for d in con.description]
    finally:
        con.close()
    got = [tuple(r) for r in spark_df.collect()]
    got_cols = spark_df.columns

    assert sorted(got_cols) == sorted(exp_cols), (
        f"{name}: column mismatch spark={sorted(got_cols)} oracle={sorted(exp_cols)}"
    )
    assert len(got) == len(expected), (
        f"{name}: row count mismatch spark={len(got)} oracle={len(expected)}"
    )
    c_got = canonical(got, got_cols)
    c_exp = canonical(expected, exp_cols)
    if c_got != c_exp:
        diffs = [
            (g, e) for g, e in zip(c_got, c_exp) if g != e
        ][:5]
        raise AssertionError(
            f"{name}: value mismatch on {sum(1 for g, e in zip(c_got, c_exp) if g != e)}"
            f"/{len(c_got)} rows; first diffs (spark vs oracle):\n"
            + "\n".join(f"  {g}\n  {e}\n" for g, e in diffs)
        )
