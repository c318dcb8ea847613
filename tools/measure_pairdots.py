#!/usr/bin/env python
"""Bit-parity fuzz + timing for pair_dots_arrow vs the join-HOF form.

VERDICT r17 #5 gate: before wiring the fold-order-preserving Arrow pair
kernel into q_triangle_count / q_knn_graph, prove bit-parity of the
ROUNDED COSINE (the decision value) against the JVM
``aggregate(zip_with(...))`` fold over >= 1e6 random pairs, including
the degenerate rows the dirty-data contract pins (NaN components,
zero vectors, NULL vectors, NULL elements, ragged lengths, empties) and
NULL ids / NULL cell keys, which pair with nothing in either form
(inner-join semantics).

Run:  python tools/measure_pairdots.py [--vectors 1500] [--dim 64]

1500 vectors in one cell = 1,124,250 unordered pairs. The comparison is
on repr() of the rounded cosine (None vs NaN vs float are all distinct),
i.e. bit-level for doubles since repr is shortest-roundtrip.
"""

from __future__ import annotations

import argparse
import os
import random
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--vectors", type=int, default=1500)
    ap.add_argument("--dim", type=int, default=64)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.functions.vector import (
        cosine_from_dot,
        cosine_pre,
        l2_norm,
    )
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.similarity import (
        pair_dots_arrow,
    )
    from spring_cloud_kafka_streams_dbz_etl_spark.session import get_spark

    spark = get_spark("scksde-pairdots-fuzz")
    spark.sparkContext.setLogLevel("WARN")

    rng = random.Random(18)
    rows = []
    for i in range(args.vectors):
        r = rng.random()
        if r < 0.005:
            v = None  # NULL vector
        elif r < 0.01:
            v = [0.0] * args.dim  # zero norm
        elif r < 0.015:
            v = [rng.uniform(-1, 1) for _ in range(args.dim)]
            v[rng.randrange(args.dim)] = float("nan")  # corrupt component
        elif r < 0.02:
            v = [rng.uniform(-1, 1) for _ in range(args.dim)]
            v[rng.randrange(args.dim)] = None  # NULL element
        elif r < 0.025:
            v = []  # empty
        elif r < 0.03:
            v = [rng.uniform(-1, 1) for _ in range(args.dim // 2)]  # ragged
        else:
            v = [rng.uniform(-1, 1) for _ in range(args.dim)]
        # NULL keys: a handful of each, drawn without touching rng so the
        # vector stream is unchanged
        rows.append((None if i % 331 == 7 else i, None if i % 317 == 11 else 0, v))
    df = spark.createDataFrame(rows, "vec_id long, label int, v array<double>")

    a = df.select(
        F.col("vec_id").alias("ia"), "label",
        F.col("v").alias("va"), l2_norm(F.col("v")).alias("na"),
    )
    b = df.select(
        F.col("vec_id").alias("ib"), "label",
        F.col("v").alias("vb"), l2_norm(F.col("v")).alias("nb"),
    )
    t0 = time.perf_counter()
    jvm = (
        a.join(b, "label")
        .filter(F.col("ia") < F.col("ib"))
        .select(
            "ia", "ib",
            cosine_pre(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ).alias("cos"),
        )
        .collect()
    )
    t_jvm = time.perf_counter() - t0
    t0 = time.perf_counter()
    arrow = (
        pair_dots_arrow(df, id_col="vec_id", cell_col="label", vec_col="v")
        .select(
            F.col("vec_id_a").alias("ia"), F.col("vec_id_b").alias("ib"),
            cosine_from_dot(
                F.col("__dp"), F.col("__na"), F.col("__nb")
            ).alias("cos"),
        )
        .collect()
    )
    t_arrow = time.perf_counter() - t0

    jm = {(r.ia, r.ib): repr(r.cos) for r in jvm}
    am = {(r.ia, r.ib): repr(r.cos) for r in arrow}
    assert set(jm) == set(am), (
        f"pair-set diff: jvm-only={len(set(jm)-set(am))} "
        f"arrow-only={len(set(am)-set(jm))}"
    )
    diffs = [(k, jm[k], am[k]) for k in jm if jm[k] != am[k]]
    print(f"pairs={len(jm)} diffs={len(diffs)}")
    if diffs:
        print("FIRST DIFFS:", diffs[:10])
        raise SystemExit(1)
    print(
        f"BIT-PARITY OK over {len(jm)} pairs; "
        f"jvm collect {t_jvm:.1f}s vs arrow collect {t_arrow:.1f}s"
    )


if __name__ == "__main__":
    main()
