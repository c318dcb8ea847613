"""Pin the zero-norm (NULL-drop) contract of the blocked cosine pairs.

A zero-norm embedding makes the cosine undefined. The pair kernel
(``pair_dots_arrow``) emits the pair's dot and both norms, and the
JVM-side tail ``cosine_from_dot`` divides with ``safe_div``, which
yields NULL on a zero denominator; ``>= threshold`` then drops the pair,
which is exactly what the DuckDB oracle does, since ``x / 0.0`` is NULL
there and NULL fails the WHERE. Dropping is also the sane scale
semantics: a kept NaN (which Spark orders above every double) would
pair one zero embedding with its entire blocking cell.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from spring_cloud_kafka_streams_dbz_etl_spark.functions.vector import (
    cosine_from_dot,
    to_double,
)
from spring_cloud_kafka_streams_dbz_etl_spark.operators.similarity import (
    pair_dots_arrow,
)

ROWS = [
    # label 0: one zero vector among three normal ones
    (0, 0, [1.0, 0.0, 0.0]),
    (1, 0, [0.9, 0.1, 0.0]),
    (2, 0, [0.0, 0.0, 0.0]),
    (3, 0, [-1.0, 0.0, 0.0]),
    # label 1: ONLY a zero vector and one normal one — the cell would
    # vanish entirely if the drop path mishandled small cells
    (4, 1, [0.0, 0.0, 0.0]),
    (5, 1, [0.5, 0.5, 0.0]),
]


def _oracle_pairs(threshold: float) -> set[tuple[int, int]]:
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE e (vec_id BIGINT, label BIGINT, v DOUBLE[])"
    )
    con.executemany("INSERT INTO e VALUES (?, ?, ?)", [(i, l, v) for i, l, v in ROWS])
    got = con.execute(
        f"""
        SELECT a.vec_id, b.vec_id
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE ROUND(list_inner_product(a.v, b.v) /
              (sqrt(list_inner_product(a.v, a.v)) *
               sqrt(list_inner_product(b.v, b.v))), 6) >= {threshold}
        """
    ).fetchall()
    return {(a, b) for a, b in got}


def test_zero_norm_pairs_dropped_like_oracle(spark):
    df = spark.createDataFrame(
        ROWS, "vec_id long, label long, embedding array<double>"
    ).select("vec_id", "label", to_double(F.col("embedding")).alias("v"))
    for threshold in (-2.0, 0.5):
        out = (
            pair_dots_arrow(df)
            .select(
                F.col("vec_id_a").alias("vec_a"),
                F.col("vec_id_b").alias("vec_b"),
                cosine_from_dot(F.col("__dp"), F.col("__na"), F.col("__nb")).alias(
                    "cos_sim"
                ),
            )
            .filter(F.col("cos_sim") >= threshold)
        )
        got = {(r.vec_a, r.vec_b) for r in out.collect()}
        # no pair may involve the zero vectors, even at a threshold
        # below -1 that every defined cosine passes
        assert not any(2 in p or 4 in p for p in got), (threshold, got)
        assert got == _oracle_pairs(threshold), threshold
        # and the surviving scores are non-NULL
        assert out.filter(F.col("cos_sim").isNull()).count() == 0
