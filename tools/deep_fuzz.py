#!/usr/bin/env python
"""Deep-fuzz session for the custom-operator invariants.

The committed hypothesis suites run 6-8 derandomized examples each so CI
stays affordable; this tool re-runs the highest-risk invariants with an
order of magnitude more examples and a fresh random seed — the
between-rounds confidence pass. Run on an idle machine; a failure prints
the shrunk counterexample.

Covered (operator → invariant):
- global_rank        == single-partition Window row_number (NULLs FIRST,
                        duplicates, any bucket count)
- simhash_bits_arrow == plain-Python nibble-vote model on random token
                        corpora (NULL/empty arrays, NULL tokens)
- interval_overlap   grid-cell join == quadratic bruteforce
- pq_encode/adc      == plain-Python ascending-d / ascending-m fold model
                        across random (subspaces, k, dim) with forced ties
- pair_dots_arrow    + JVM cosine tail == join-HOF form, incl. NULL ids,
                        NULL cell keys, NULL/NaN/zero/ragged vectors
                        (zero norms: NULL cosine, dropped by a threshold)
- kmeans_cells       == plain-Python Lloyd model (ascending-d folds,
                        smaller-cell ties via duplicate/grid vectors)
- event_pattern      registered conditional-last plan == per-user
                        ordered-history scan (random windows)
- ts_best_window     registered integer-HOF sliding-window plan ==
                        plain-python zero-filled horizon scan
- pq_train           single-pass all-subspace Lloyd == per-subspace
                        numpy model, random (subspaces, k, dim)
- epoch sinks        CDC epoch driver commit == Spark-path sink writes
                        (rows and read-back schema), events and orders
                        specs, on dirty batches from the one synthesizer
                        and parser: NULL keys, garbled payloads,
                        tombstones, duplicate
                        dimension keys, empty and all-DLQ batches; and a
                        pipeline's reused EpochState over 4 epochs with
                        dimension upsert/delete between them == fresh
                        single-epoch runs (rows, footer and read-back
                        schemas), both gate sides, append and idempotent
- connected_components driver union-find and Spark min-label loop (both
                        sides of the size gate) == plain-Python union-find
                        on dirty graphs: NULL endpoints and vertex ids,
                        self-loops, duplicate/reversed edges, near-int64 ids

Run: python tools/deep_fuzz.py [EXAMPLES]   (default 60 per invariant)
"""

from __future__ import annotations

import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from spring_cloud_kafka_streams_dbz_etl_spark.session import get_spark

N = int(sys.argv[1]) if len(sys.argv) > 1 else 60
rng = random.Random()
SEED = rng.randrange(1 << 30)
rng.seed(SEED)


def fuzz_global_rank(spark) -> None:
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.rank import global_rank

    for i in range(N):
        n = rng.randint(1, 400)
        vals = [
            None if rng.random() < 0.15 else rng.randint(-5, 5)
            if rng.random() < 0.5
            else rng.randint(-(10**9), 10**9)
            for _ in range(n)
        ]
        buckets = rng.choice([1, 2, 3, 8, 32, 64])
        df = spark.createDataFrame(
            [(j, v) for j, v in enumerate(vals)], "id long, v long"
        )
        got = {
            r["id"]: (r["rank"], r["total"])
            for r in global_rank(df, ["v", "id"], n_buckets=buckets).collect()
        }
        w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
        exp = {
            r["id"]: (r["rank"], n)
            for r in df.withColumn(
                "rank", F.row_number().over(w).cast("long")
            ).collect()
        }
        assert got == exp, (SEED, i, buckets, vals)
    print(f"global_rank: {N} cases OK")


def fuzz_simhash(spark) -> None:
    """simhash_bits_arrow == the plain-Python vote model: bit j votes bit
    (j % 4) of md5-hex nibble j // 4 per token occurrence, a NULL token
    votes -1 on every bit, NULL/empty token arrays are dropped, bit 63 is
    the BIGINT sign bit."""
    import hashlib

    from spring_cloud_kafka_streams_dbz_etl_spark.operators.dedup import (
        simhash_bits_arrow,
    )

    def model(toks, width):
        votes = [0] * width
        for t in toks:
            hx = hashlib.md5(t.encode()).hexdigest() if t is not None else "0" * 32
            for j in range(width):
                votes[j] += 1 if (int(hx[j // 4], 16) >> (j % 4)) & 1 else -1
        fp = sum(1 << j for j in range(min(width, 63)) if votes[j] > 0)
        return fp - (1 << 63) if width == 64 and votes[63] > 0 else fp

    vocab = [f"tok{c}" for c in range(50)]
    for i in range(N):
        docs = []
        for d in range(rng.randint(1, 60)):
            n = rng.randint(0, 30)
            toks = [
                None if rng.random() < 0.05 else rng.choice(vocab)
                for _ in range(n)
            ]
            if rng.random() < 0.05:
                toks = None
            docs.append((d, toks))
        df = spark.createDataFrame(docs, "doc_id long, toks array<string>")
        width = rng.choice([8, 40, 64])
        got = {
            r.doc_id: r.simhash
            for r in simhash_bits_arrow(df, "doc_id", "toks", width=width).collect()
        }
        want = {d: model(t, width) for d, t in docs if t}
        assert got == want, (SEED, i, width, docs)
    print(f"simhash model: {N} cases OK")


def fuzz_interval_overlap(spark) -> None:
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.temporal import (
        interval_overlap_pairs,
    )
    import datetime

    base = datetime.date(2024, 1, 1)
    for i in range(N // 3):  # each case is two Spark jobs; keep it sane
        rows = []
        for r in range(rng.randint(2, 40)):
            key = rng.randint(0, 2)
            s = rng.randint(0, 60)
            e = s + rng.randint(0, 20)
            rows.append(
                (
                    r,
                    key,
                    base + datetime.timedelta(days=s),
                    base + datetime.timedelta(days=e),
                )
            )
        df = spark.createDataFrame(
            rows, "iv_id long, key long, d_start date, d_end date"
        )
        got = {
            (r["a_id"], r["b_id"])
            for r in interval_overlap_pairs(
                df, key="key", id_col="iv_id",
                start="d_start", end="d_end",
                cell_days=rng.choice([3, 7, 30]),
            ).collect()
        }
        exp = set()
        for (ra, ka, sa, ea) in rows:
            for (rb, kb, sb, eb) in rows:
                if ra < rb and ka == kb and sa <= eb and sb <= ea:
                    exp.add((ra, rb))
        assert got == exp, (SEED, i, rows)
    print(f"interval_overlap: {N // 3} cases OK")


def _random_vec(dim: int) -> list[float]:
    """Corpus-shaped components in [-0.5, 0.5); occasionally degenerate
    (all-zero → zero norm, or tiny integer grid → exact distance ties)."""
    roll = rng.random()
    if roll < 0.08:
        return [0.0] * dim
    if roll < 0.30:
        return [rng.randint(-2, 2) / 4.0 for _ in range(dim)]
    return [rng.random() - 0.5 for _ in range(dim)]


def _fold_l2(x, c) -> float:
    """Squared L2 as an explicit ascending-d left fold from 0.0."""
    acc = 0.0
    for a, b in zip(x, c):
        acc = acc + (a - b) * (a - b)
    return acc


def _argmin_first(ds) -> int:
    return min(range(len(ds)), key=lambda j: (ds[j], j))


def _jvm_round(spark, rows, schema: str, col: str, places: int) -> list:
    """The model's raw doubles through the operators' own JVM ROUND
    (HALF_UP), so model and operator compare bit-for-bit."""
    df = spark.createDataFrame(rows, schema)
    return df.withColumn(col, F.round(F.col(col), places)).collect()


def fuzz_pq(spark) -> None:
    """pq_encode / pq_adc_topk == a plain-Python model written as explicit
    ascending-d (distance) and ascending-m (recon error, ADC sum) folds,
    on random corpora and random (subspaces, k, dim) — duplicate, grid
    and zero vectors force the argmin-first smaller-code tie-break and
    equal ADC distances (ranked by neighbor id)."""
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebook,
        pq_encode,
    )

    for i in range(max(1, N // 6)):
        subspaces = rng.choice([2, 4])
        dim = subspaces * rng.choice([2, 4])
        sub = dim // subspaces
        k_codes = rng.choice([4, 8])
        n = rng.randint(k_codes, 120)
        vecs = [_random_vec(dim) for _ in range(n)]
        for _ in range(rng.randint(0, n // 4)):  # exact duplicates → ties
            vecs[rng.randrange(n)] = list(rng.choice(vecs))
        rows = [(j, j % 3, v) for j, v in enumerate(vecs)]
        df = spark.createDataFrame(
            rows, "vec_id long, label long, embedding array<double>"
        )
        books = [
            [pq_codebook(m, kk, sub) for kk in range(k_codes)]
            for m in range(subspaces)
        ]
        model_codes, enc_rows = {}, []
        for j, lab, v in rows:
            codes, err = [], 0.0
            for m in range(subspaces):
                ds = [_fold_l2(v[m * sub : (m + 1) * sub], c) for c in books[m]]
                codes.append(_argmin_first(ds))
                err = err + ds[codes[-1]]
            model_codes[j] = codes
            enc_rows.append((j, lab, ",".join(map(str, codes)), err))
        want = _jvm_round(
            spark, enc_rows,
            "vec_id long, label long, pq_codes string, recon_err double",
            "recon_err", 6,
        )
        a = pq_encode(df, subspaces=subspaces, k=k_codes, dim=dim, keep_cols=("label",))
        assert sorted(a.collect()) == sorted(want), (
            SEED, i, "pq_encode", subspaces, k_codes, dim, n,
        )
        probes = df.filter(F.col("vec_id") < 3).toPandas()
        codes_df = a.select("vec_id", "label", "pq_codes")
        adc_kw = dict(k=5, subspaces=subspaces, n_codes=k_codes, dim=dim)
        for cell in (None, "label"):
            dist_rows = []
            for q in range(min(3, n)):
                qv = vecs[q]
                lut = [
                    [_fold_l2(qv[m * sub : (m + 1) * sub], c) for c in books[m]]
                    for m in range(subspaces)
                ]
                for j, lab, _ in rows:
                    if j == q or (cell is not None and lab != rows[q][1]):
                        continue
                    dist = 0.0
                    for m in range(subspaces):
                        dist = dist + lut[m][model_codes[j][m]]
                    dist_rows.append((q, j, dist))
            scored = _jvm_round(
                spark, dist_rows,
                "query_id long, neighbor_id long, adc_dist double", "adc_dist", 9,
            )
            want_adc = []
            for q in range(min(3, n)):
                mine = sorted(
                    (r.adc_dist, r.neighbor_id) for r in scored if r.query_id == q
                )[:5]
                want_adc += [(q, nid, d, rk + 1) for rk, (d, nid) in enumerate(mine)]
            got = pq_adc_topk(probes, codes_df, cell_col=cell, **adc_kw)
            assert sorted(tuple(r) for r in got.collect()) == sorted(want_adc), (
                SEED, i, "pq_adc", cell, subspaces, k_codes, dim, n,
            )
    print(f"pq model: {max(1, N // 6)} cases OK")


def fuzz_pair_dots(spark) -> None:
    """pair_dots_arrow + the JVM cosine_from_dot tail == the join-HOF form
    (cosine_pre over an equi-join on the cell key), pair-for-pair with
    bit-identical rounded cosines, on random cells with NULL ids, NULL
    cell keys and NULL/NaN/zero/ragged/NULL-element vectors — NULL keys
    pair with nothing (inner-join semantics)."""
    from spring_cloud_kafka_streams_dbz_etl_spark.functions.vector import (
        cosine_from_dot,
        cosine_pre,
        l2_norm,
    )
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.similarity import (
        pair_dots_arrow,
    )

    cases = max(1, N // 6)
    for i in range(cases):
        dim = rng.choice([2, 5])
        rows = []
        for j in range(rng.randint(2, 60)):
            v = _random_vec(dim)
            roll = rng.random()
            if roll < 0.05:
                v = None
            elif roll < 0.10:
                v[rng.randrange(dim)] = float("nan")
            elif roll < 0.15:
                v[rng.randrange(dim)] = None
            elif roll < 0.20:
                v = v[: rng.randrange(dim)]  # ragged, possibly empty
            vid = None if rng.random() < 0.1 else j
            lab = None if rng.random() < 0.1 else rng.randint(0, 2)
            rows.append((vid, lab, v))
        df = spark.createDataFrame(rows, "vec_id long, label long, v array<double>")
        directed = rng.random() < 0.5

        def side(s):
            return df.select(
                F.col("vec_id").alias(f"i{s}"), "label",
                F.col("v").alias(f"v{s}"), l2_norm(F.col("v")).alias(f"n{s}"),
            )

        keep = F.col("ia") != F.col("ib") if directed else F.col("ia") < F.col("ib")
        join_form = side("a").join(side("b"), "label").filter(keep).select(
            "ia", "ib", cosine_pre(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
        )
        arrow = pair_dots_arrow(df, directed=directed).select(
            "vec_id_a", "vec_id_b",
            cosine_from_dot(F.col("__dp"), F.col("__na"), F.col("__nb")),
        )
        want = sorted(repr(tuple(r)) for r in join_form.collect())
        got = sorted(repr(tuple(r)) for r in arrow.collect())
        assert got == want, (SEED, i, directed, rows)
    print(f"pair dots (NULL keys): {cases} cases OK")


def fuzz_kmeans(spark) -> None:
    """kmeans_cells == a plain-Python Lloyd model end-to-end (seeds in
    hash-spread order, both iterations, final assignment): integer
    vectors floor(x·1e6), explicit ascending-d distance folds,
    argmin-first smaller-cell ties (forced by duplicate, grid and zero
    vectors), centroids sum/(n·1e6), empty cells keep their centroid."""
    import math

    from spring_cloud_kafka_streams_dbz_etl_spark.operators.similarity import (
        kmeans_cells,
    )

    cases = max(1, N // 12)
    for i in range(cases):
        dim = rng.choice([4, 8])
        k = rng.choice([2, 4])
        n = rng.randint(k, 60)
        vecs = [_random_vec(dim) for _ in range(n)]
        for _ in range(rng.randint(0, n // 4)):  # exact duplicates → ties
            vecs[rng.randrange(n)] = list(rng.choice(vecs))
        df = spark.createDataFrame(
            list(enumerate(vecs)), "vec_id long, embedding array<double>"
        )
        IV = [[math.floor(x * 1e6) for x in v] for v in vecs]
        X = [[t / 1e6 for t in iv] for iv in IV]
        seeds = sorted(
            range(n),
            key=lambda j: (((j % 1_048_576) * 2_654_435_761) % 4_294_967_296, j),
        )[:k]
        cents = [list(X[j]) for j in seeds]

        def assign():
            out = []
            for x in X:
                ds = [_fold_l2(x, c) for c in cents]
                cell = _argmin_first(ds)
                out.append((cell, ds[cell]))
            return out

        for _ in range(2):
            cells = assign()
            for c in range(k):
                members = [IV[j] for j in range(n) if cells[j][0] == c]
                if members:
                    cents[c] = [
                        float(sum(col)) / (float(len(members)) * 1e6)
                        for col in zip(*members)
                    ]
        want = _jvm_round(
            spark, [(j, c, d) for j, (c, d) in enumerate(assign())],
            "vec_id long, cell int, dist double", "dist", 6,
        )
        got = kmeans_cells(df, k=k, iters=2, dim=dim)
        assert sorted(got.collect()) == sorted(want), (SEED, i, k, dim, n)
    print(f"kmeans model: {cases} cases OK")


def fuzz_pq_train(spark) -> None:
    """pq_train's one-pass all-subspaces Lloyd == an independent numpy
    per-subspace run, bit-exact on every centroid, across random
    (subspaces, k, dim, n) incl. duplicate/grid vectors forcing
    assignment ties and empty codes (keep-old-centroid rule)."""
    import numpy as np

    from spring_cloud_kafka_streams_dbz_etl_spark.operators.similarity import (
        pq_train,
    )

    cases = max(1, N // 12)
    for i in range(cases):
        subspaces = rng.choice([2, 4])
        sub = rng.choice([2, 4])
        dim = subspaces * sub
        kc = rng.choice([2, 4, 8])
        n = rng.randint(kc, 80)
        vecs = [_random_vec(dim) for _ in range(n)]
        for _ in range(rng.randint(0, n // 4)):  # duplicates -> ties
            vecs[rng.randrange(n)] = list(rng.choice(vecs))
        df = spark.createDataFrame(
            [(j, v) for j, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        got = pq_train(df, subspaces=subspaces, k=kc, dim=dim, iters=2)
        IV = np.floor(np.array(vecs) * 1e6).astype("int64")
        # seeds follow the r11 hash-spread order (operators.similarity.
        # _seed_hash: Knuth multiplicative on the low 20 id bits, ties
        # by raw id), distinct ids first — the pre-r11 first-k-by-row
        # model is what this harness used to encode, and re-running the
        # fuzz after the seeding change caught the stale model (r12)
        seed_ids = sorted(
            range(len(vecs)),
            key=lambda j: (((j % 1_048_576) * 2_654_435_761) % 4_294_967_296, j),
        )[:kc]
        for m in range(subspaces):
            IVm = IV[:, m * sub : (m + 1) * sub]
            Xm = IVm / 1e6
            cents = [Xm[j].copy() for j in seed_ids]
            for _ in range(2):
                d = np.array(
                    [[float(((x - c) ** 2).sum()) for c in cents] for x in Xm]
                )
                a = np.argmin(d, axis=1)
                for code in range(kc):
                    mask = a == code
                    if mask.any():
                        cents[code] = IVm[mask].sum(axis=0).astype(
                            "float64"
                        ) / (mask.sum() * 1e6)
            for code in range(kc):
                assert got[m][code] == list(cents[code]), (
                    SEED, i, subspaces, kc, dim, n, m, code,
                )
    print(f"pq_train twins: {cases} cases OK")


def fuzz_event_pattern(spark) -> None:
    """event_pattern_matches (q_event_pattern's registered plan) ==
    per-user ordered-history scan, random event soups with duplicate
    timestamps and random window sizes (VERDICT r9 #4)."""
    from datetime import datetime, timedelta

    from spring_cloud_kafka_streams_dbz_etl_spark.queries.analytic import (
        event_pattern_matches,
    )

    epoch = datetime(2024, 1, 1)
    cases = max(1, N // 6)
    for i in range(cases):
        t_min = rng.choice([1, 7, 30, 90])
        rows = []
        for eid in range(rng.randint(0, 120)):
            rows.append(
                (
                    rng.randint(0, 6),
                    eid,
                    epoch + timedelta(minutes=rng.randint(0, 200)),
                    rng.choice(["view", "purchase", "error", "click"]),
                )
            )
        if not rows:
            continue
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp_ntz, event_type string"
        )
        got = sorted(
            (r.user_id, r.event_id)
            for r in event_pattern_matches(
                df, window_us=t_min * 60 * 1_000_000
            ).collect()
        )
        expected = []
        by_user: dict = {}
        for uid, eid, ts, typ in rows:
            by_user.setdefault(uid, []).append((ts, eid, typ))
        for uid, evs in by_user.items():
            evs.sort()
            lv = le = None
            for ts, eid, typ in evs:
                if (
                    typ == "purchase"
                    and lv is not None
                    and (ts - lv) <= timedelta(minutes=t_min)
                    and (le is None or le < lv)
                ):
                    expected.append((uid, eid))
                if typ == "view":
                    lv = ts
                elif typ == "error":
                    le = ts
        assert got == sorted(expected), (SEED, i, t_min)
    print(f"event pattern: {cases} cases OK")


def fuzz_ts_windows(spark) -> None:
    """ts_best_window (q_ts_similarity's registered integer-HOF plan) ==
    plain-python sliding-window scan over the zero-filled global
    horizon, random sparse series and random patterns incl. horizons
    shorter than the pattern (VERDICT r9 #4)."""
    from spring_cloud_kafka_streams_dbz_etl_spark.queries.advanced import (
        ts_best_window,
    )

    cases = max(1, N // 6)
    for i in range(cases):
        L = rng.randint(2, 6)
        pattern = [rng.randint(0, 9) for _ in range(L)]
        horizon = rng.randint(1, 20)
        seen: dict[tuple[int, int], int] = {}
        for _ in range(rng.randint(1, 80)):
            seen[(rng.randint(0, 9), rng.randint(0, horizon - 1))] = rng.randint(0, 9)
        rows = [(sk, w, c) for (sk, w), c in seen.items()]
        wk = spark.createDataFrame(rows, "sk bigint, w int, c bigint")
        got = sorted(
            (r.l_suppkey, r.best_offset, r.best_dist)
            for r in ts_best_window(wk, pattern).collect()
        )
        n_weeks = max(w for (_, w) in seen) + 1
        expected = []
        if n_weeks >= L:
            for sk in sorted({s for (s, _) in seen}):
                series = [seen.get((sk, w), 0) for w in range(n_weeks)]
                d, o = min(
                    (
                        sum((series[o + d] - pattern[d]) ** 2 for d in range(L)),
                        o,
                    )
                    for o in range(n_weeks - L + 1)
                )
                expected.append((sk, o, d))
        assert got == sorted(expected), (SEED, i, pattern, n_weeks)
    print(f"ts windows: {cases} cases OK")


def fuzz_shard_assign(spark) -> None:
    """assign_shards (two-pass distributed prefix scan) == the naive
    per-source cumulative window on random corpora: skewed sources,
    zero-char docs, oversize docs that skip shard ids, and partition
    counts both above and below the row count (r15)."""
    from pyspark.sql import functions as F

    from spring_cloud_kafka_streams_dbz_etl_spark.operators.layout import (
        assign_shards_handle,
    )

    cases = max(1, N // 6)
    for _ in range(cases):
        n_rows = rng.randrange(1, 120)
        n_src = rng.randrange(1, 5)
        target = rng.choice([512, 4_096, 32_768])
        rows = [
            (i, f"s{rng.randrange(n_src)}", rng.randrange(0, target * 8))
            for i in range(n_rows)
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, source string, n_chars long"
        )
        n_parts = rng.randrange(1, 50)
        a, parted = assign_shards_handle(df, target, n_parts=n_parts)
        try:
            got = {r["doc_id"]: r["shard_id"] for r in a.collect()}
        finally:
            parted.unpersist()
        exp = {
            r["doc_id"]: r["shard_id"]
            for r in df.select(
                "doc_id",
                F.expr(
                    f"(sum(n_chars) OVER (PARTITION BY source ORDER BY "
                    f"doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT "
                    f"ROW) - n_chars) DIV {target}"
                ).alias("shard_id"),
            ).collect()
        }
        assert got == exp, (target, n_parts, rows[:5])
    print(f"shard assign twins: {cases} cases OK")


def _read_sink(spark, path: str, names: list, idempotent: bool):
    """(read-back schema, sorted row reprs of columns ``names``) of a sink
    dir; (None, []) when it holds no part (an empty side in idempotent
    mode writes none)."""
    import glob

    if not glob.glob(f"{path}/**/part-*.parquet", recursive=True):
        return None, []
    df = spark.read.parquet(path)
    rows = (df.drop("_batch_id") if idempotent else df).select(*names)
    return df.schema, sorted(repr(tuple(r)) for r in rows.collect())


# hand-written payloads the synthesizer never produces: garbled ones beside
# its own CORRUPT<< garbling, and an id=0 sentinel (key 0 is a tombstone
# under both specs' rules, so no synthesized record carries after.id=0)
_GARBLED = ["{", "", "null", "[1, 2]", '{"op": null}', '{"after": 3}']
_SENTINEL = '{"after": {"id": 0}, "op": "u"}'
_DIM_SCHEMA = "c_custkey long, c_name string, c_mktsegment string, c_acctbal double"
# string after-field values: both specs' delete and insert markers among them
_STRINGS = ["view", "click", "signup", "error", "O", "F", "P", None]


def _dirty_source(spec, kind: str) -> tuple:
    """One micro-batch's input for the entity ``spec``: (source rows,
    hand-written (kafka_key, payload) records, corrupt_every). Source rows
    carry NULL keys and after-fields, tombstone and id=0 keys, and both
    specs' delete markers; hand-written records are garbled payloads and
    id=0 sentinels. ``empty``: only records the parse drops, so the parsed
    epoch has no row."""
    from pyspark.sql import types as T

    def field(typ):
        if isinstance(typ, T.LongType):
            return None if rng.random() < 0.15 else rng.randint(0, 40)
        if isinstance(typ, T.DoubleType):
            return None if rng.random() < 0.2 else rng.uniform(-5, 5)
        return rng.choice(_STRINGS)

    rows, hand = [], []
    for j in range(rng.randint(1, 80)):
        roll = rng.random()
        if roll < 0.03:
            hand.append((j, _SENTINEL))
            continue
        if kind == "empty" or roll < 0.08:
            key = rng.choice([None, 0, 97 * rng.randint(1, 9)])
        elif roll < 0.23:
            hand.append((None if rng.random() < 0.05 else j, rng.choice(_GARBLED)))
            continue
        else:
            key = j + 1
        rows.append((key, *(field(typ) for _, _, typ in spec.after_cols)))
    return rows, hand, None if kind == "empty" else rng.choice([None, 3, 7])


def _parsed_batch(spark, spec, source: tuple):
    """``source`` (from :func:`_dirty_source`) through the one synthesizer
    and parser, as the stream parses an epoch. Local relations (the
    pandas path) carry a size estimate, as a stream's micro-batch does; a
    parallelized list reports none."""
    from spring_cloud_kafka_streams_dbz_etl_spark.catalog import local_rows
    from spring_cloud_kafka_streams_dbz_etl_spark.sources.cdc import (
        parse_envelopes,
        synthesize_envelopes,
    )

    rows, hand, corrupt_every = source
    raw = synthesize_envelopes(local_rows(spark, rows, spec.source_schema()), spec, corrupt_every)
    if hand:
        raw = raw.unionByName(local_rows(spark, hand, "kafka_key long, value string"))
    return parse_envelopes(raw, spec)


def _dirty_dim_rows(kind: str) -> list:
    """Customer dimension rows with duplicate and NULL keys; ``all_dlq``:
    no key a batch can match, so every row dead-letters."""
    rows = []
    if kind != "all_dlq":
        for key in rng.sample(range(0, 41), rng.randint(0, 41)):
            for _ in range(2 if rng.random() < 0.2 else 1):  # duplicate keys
                rows.append((key, rng.choice([f"n{key}", None]), rng.choice(["A", "B", None]),
                             rng.choice([None, key / 3])))
    return rows + [(None, "null-key", "A", 1.0)] * rng.randint(0, 2)


def _epoch_output(spark, files: list):
    """(read-back schema, footer schemas, sorted row reprs) of the parquet
    parts one epoch wrote to a sink; (None, [], []) when it wrote none."""
    import pyarrow.parquet as pq

    from spring_cloud_kafka_streams_dbz_etl_spark.sources.sinks import SPARK_ROW_METADATA

    if not files:
        return None, [], []
    footers = sorted({
        pq.read_metadata(f).metadata[SPARK_ROW_METADATA.encode()].decode() for f in files
    })
    df = spark.read.parquet(*files)
    return df.schema, footers, sorted(repr(tuple(r)) for r in df.collect())


def fuzz_epoch_sinks(spark) -> None:
    """The CDC epoch body's two paths — the one-collect driver commit an
    epoch takes under catalog.driver_sized_bytes, and the Spark path
    (persist + two sink writes) it takes above — write the same ok and
    DLQ rows with the same read-back schema, for the events and the
    orders entity specs, on dirty micro-batches drawn from the one
    synthesizer and parser: NULL keys and after-fields, garbled payloads
    (the synthesizer's corrupt_every and hand-garbled ones), tombstones,
    deletes, id=0 sentinels, duplicate and NULL dimension keys, and empty
    and all-DLQ batches, in append and idempotent (replayed) mode.

    Then the pipelines' reuse, for both specs: four epochs per pipeline
    through ONE EpochState and one dimension reader over a versioned
    dimension, with an upsert committing a new version after the first
    epoch and a delete after the second, write per epoch exactly the rows
    and the footer and read-back schemas of a fresh single-epoch run (new
    state, new reader, new sinks) over the same batch and dimension
    version — on the driver side of the gate, the Spark side, and both in
    turn, in append and idempotent (replayed) mode."""
    import tempfile

    from spring_cloud_kafka_streams_dbz_etl_spark import catalog
    from spring_cloud_kafka_streams_dbz_etl_spark.sources.cdc import (
        EVENTS_ENTITY,
        ORDERS_ENTITY,
    )
    from spring_cloud_kafka_streams_dbz_etl_spark.streaming.pipeline import (
        DLQ_SCHEMA,
        EpochState,
        _enrich_and_split,
    )

    specs = (EVENTS_ENTITY, ORDERS_ENTITY)
    cases = max(3, N // 6)
    diffs = compared = 0
    real_gate = catalog.driver_sized_bytes
    try:
        for i in range(cases):
            spec, kind = specs[i % 2], ("empty", "all_dlq", "mixed")[i % 3]
            source, dim_rows = _dirty_source(spec, kind), _dirty_dim_rows(kind)
            batch = _parsed_batch(spark, spec, source)
            dim = catalog.local_rows(spark, dim_rows, _DIM_SCHEMA)
            assert real_gate(batch) is not None, (SEED, i)  # the driver side is reachable
            idempotent = rng.random() < 0.5
            results = []
            for driver in (True, False):
                catalog.driver_sized_bytes = real_gate if driver else (lambda df: None)
                with tempfile.TemporaryDirectory() as d:
                    out, dlq = f"{d}/out", f"{d}/dlq"
                    state = EpochState(spark, spec)
                    for _ in range(2 if idempotent else 1):  # idempotent: a replay
                        _enrich_and_split(batch, dim, out, dlq, state, batch_id=i,
                                          idempotent=idempotent)
                    results.append([
                        _read_sink(spark, out, [a for a, _ in spec.output_cols], idempotent),
                        _read_sink(spark, dlq, DLQ_SCHEMA.fieldNames(), idempotent),
                    ])
            for (got_schema, got), (want_schema, want) in zip(*results):
                assert got_schema == want_schema, (SEED, i, got_schema, want_schema)
                diffs += len(set(got) ^ set(want)) + abs(len(got) - len(want))
                compared += len(want)
            assert diffs == 0, (SEED, i, spec.source_table, kind, idempotent, source, dim_rows)

        pipelines = 0
        for spec in specs:
            for idempotent in (False, True):
                for side in ("driver", "spark", "both"):
                    compared += _reused_pipeline(spark, spec, idempotent, side, real_gate)
                    pipelines += 1
    finally:
        catalog.driver_sized_bytes = real_gate
    print(
        f"epoch sinks (driver vs Spark path): {cases} cases OK; reused epoch state vs "
        f"fresh epochs: {pipelines} pipelines, {4 * pipelines} epochs OK; "
        f"{compared} rows compared, {diffs} row diffs"
    )


def _reused_pipeline(spark, spec, idempotent: bool, side: str, real_gate) -> int:
    """One pipeline of fuzz_epoch_sinks's reuse phase: four epochs of the
    entity ``spec`` through one EpochState and one dimension reader, each
    epoch's parts checked against a fresh single-epoch run; ``side`` picks
    the gate side (driver, spark, or both in turn). Returns the rows
    compared."""
    import glob
    import tempfile

    from spring_cloud_kafka_streams_dbz_etl_spark import catalog
    from spring_cloud_kafka_streams_dbz_etl_spark.sources.sinks import (
        _commit_version,
        delete_from_dimension,
        dimension_reader,
        upsert_dimension,
    )
    from spring_cloud_kafka_streams_dbz_etl_spark.streaming.pipeline import (
        EpochState,
        _enrich_and_split,
    )

    compared = 0
    with tempfile.TemporaryDirectory() as d:
        dim_path, out, dlq = f"{d}/customer", f"{d}/out", f"{d}/dlq"
        _commit_version(
            spark, catalog.local_rows(spark, _dirty_dim_rows("mixed"), _DIM_SCHEMA), dim_path
        )
        state, read_dim = EpochState(spark, spec), dimension_reader(spark, dim_path)
        for k in range(4):
            if k == 1:  # replace some names, add keys (NULL one too)
                keys = rng.sample(range(0, 50), rng.randint(1, 20))
                rows = [(key, f"u{key}", "U", 2.0) for key in keys]
                upsert_dimension(
                    catalog.local_rows(spark, rows + [(None, "u", "U", None)], _DIM_SCHEMA),
                    dim_path, keys=["c_custkey"],
                )
            if k == 2:
                keys = [(key,) for key in rng.sample(range(0, 50), 15)]
                delete_from_dimension(
                    spark, dim_path, ["c_custkey"],
                    catalog.local_rows(spark, keys, "c_custkey long"),
                )
            source = _dirty_source(spec, ("mixed", "all_dlq", "empty", "mixed")[k])
            driver = side == "driver" or (side == "both" and k % 2 == 0)
            catalog.driver_sized_bytes = real_gate if driver else (lambda df: None)
            before = {p: set(glob.glob(f"{p}/**/part-*.parquet", recursive=True))
                      for p in (out, dlq)}
            for _ in range(2 if idempotent else 1):  # idempotent: a replay
                _enrich_and_split(_parsed_batch(spark, spec, source), read_dim(), out, dlq,
                                  state, batch_id=k, idempotent=idempotent)
            diffs = 0
            with tempfile.TemporaryDirectory() as f:
                _enrich_and_split(
                    _parsed_batch(spark, spec, source), dimension_reader(spark, dim_path)(),
                    f"{f}/out", f"{f}/dlq", EpochState(spark, spec), batch_id=k,
                    idempotent=idempotent,
                )
                for got_dir, want_dir in ((out, f"{f}/out"), (dlq, f"{f}/dlq")):
                    part = f"/_batch_id={k}/" if idempotent else "/"
                    got = _epoch_output(spark, sorted(
                        p for p in glob.glob(f"{got_dir}/**/part-*.parquet", recursive=True)
                        if p not in before[got_dir] and part in p
                    ))
                    want = _epoch_output(spark, sorted(glob.glob(
                        f"{want_dir}/**/part-*.parquet", recursive=True
                    )))
                    assert got[:2] == want[:2], (
                        SEED, spec.source_table, idempotent, side, k, got, want
                    )
                    diffs += len(set(got[2]) ^ set(want[2])) + abs(len(got[2]) - len(want[2]))
                    compared += len(want[2])
            assert diffs == 0, (SEED, spec.source_table, idempotent, side, k, source)
    return compared


def fuzz_cc(spark) -> None:
    """connected_components on both sides of its size gate — the driver
    union-find every small graph takes, and the Spark min-label loop a
    1-byte autoBroadcastJoinThreshold forces — == a plain-Python
    union-find, on dirty graphs: NULL endpoints, self-loops, duplicate
    and reversed edges, endpoints outside the vertex set, NULL vertex ids,
    negative and near-int64-limit ids, long chains."""
    from spring_cloud_kafka_streams_dbz_etl_spark.operators.graph import (
        connected_components,
    )

    key = "spark.sql.autoBroadcastJoinThreshold"
    cases = max(3, N // 6)
    for i in range(cases):
        pool = rng.sample(
            [rng.randint(-50, 50) for _ in range(60)]
            + [rng.choice([-1, 1]) * ((1 << 62) + rng.randrange(1 << 20)) for _ in range(4)],
            rng.randint(1, 40),
        )
        edges = [
            (rng.choice(pool), rng.choice(pool)) for _ in range(rng.randint(0, 50))
        ]
        if rng.random() < 0.3:  # a chain through a random order of the pool
            edges += list(zip(pool, pool[1:]))
        edges += [(x, x) for x in rng.sample(pool, min(3, len(pool)))]  # self-loops
        edges += [(b, a) for a, b in rng.sample(edges, len(edges) // 4)]  # reversed
        edges += [(None, rng.choice(pool)), (rng.choice(pool), None), (None, None)][
            : rng.randint(0, 3)
        ]
        vertices = [v for v in pool if rng.random() < 0.9] + [None] * rng.randint(0, 2)
        vertices += [10**6 + j for j in range(rng.randint(0, 3))]  # isolated

        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            if a is not None and b is not None:
                ra, rb = find(a), find(b)
                parent[max(ra, rb)] = min(ra, rb)  # roots hold their set's min
        want = sorted(((v, None if v is None else find(v)) for v in vertices), key=repr)

        vdf = spark.createDataFrame([(v,) for v in vertices], "id long")
        edf = spark.createDataFrame(edges, "src long, dst long")
        before = spark.conf.get(key)
        for side in ("driver", "spark"):
            if side == "spark":
                spark.conf.set(key, "1")
            try:
                got = sorted(
                    map(tuple, connected_components(vdf, edf, max_iter=100).collect()),
                    key=repr,
                )
            finally:
                spark.conf.set(key, before)
            assert got == want, (SEED, i, side, edges, vertices)
    print(f"connected components (driver and Spark side): {cases} cases OK")


def main() -> None:
    spark = get_spark("deep-fuzz", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    print(f"seed {SEED}, {N} examples per invariant")
    fuzz_global_rank(spark)
    fuzz_simhash(spark)
    fuzz_interval_overlap(spark)
    fuzz_pq(spark)
    fuzz_pair_dots(spark)
    fuzz_kmeans(spark)
    fuzz_pq_train(spark)
    fuzz_event_pattern(spark)
    fuzz_ts_windows(spark)
    fuzz_shard_assign(spark)
    fuzz_epoch_sinks(spark)
    fuzz_cc(spark)
    print("deep fuzz: ALL OK")


if __name__ == "__main__":
    main()
