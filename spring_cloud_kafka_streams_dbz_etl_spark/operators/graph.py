"""Distributed connected components (iterative label propagation).

The dedup pipeline's final step: near-dup PAIRS (from MinHash/LSH or
blocked Jaccard) must become duplicate CLUSTERS so exactly one document
per cluster survives. Transitive closure is a graph problem — this is
the engine's iterative-algorithm surface (no driver-side union-find, no
collect; every step is a DataFrame join).

Algorithm: min-label propagation. label(v) starts as v; each round every
vertex takes the min of its own label and its neighbors' labels; stop at
fixpoint. Rounds needed = graph diameter — near-dup clusters are tiny
(pairs/triples), so 2-3 rounds in practice. For web-scale graphs with
long chains you'd switch to pointer-jumping (large-star/small-star,
Kiveris et al.), which converges in O(log d) rounds; the per-round
dataflow below is the same building block.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import driver_sized_bytes


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Return (id, component) where component = min vertex id reachable.

    `vertices`: one row per vertex (isolated vertices become their own
    component). `edges`: undirected pairs (each listed once is enough).

    Scale: each round is one shuffle join on the current labels plus a
    min-aggregate; labels are localCheckpointed per round so the plan
    doesn't grow with iteration count (lineage blowup is the classic
    iterative-Spark failure mode). Small graphs (cached edge list within
    the broadcast threshold) run the loop with AQE/auto-broadcast pinned
    off — per-job scheduling tax dominates at that size (r18; see the
    in-body comment) — while large graphs keep the caller's adaptive
    shape untouched. Crucially, the iterated label relation
    covers only EDGE ENDPOINTS, not all vertices: a vertex in no pair can
    never change label, and near-dup graphs are sparse — at corpus scale
    that's millions of endpoints iterated instead of billions of
    documents, with the full vertex set joined back exactly once at the
    end.
    """
    from pyspark import StorageLevel

    spark = edges.sparkSession

    # Materialize the edge list ONCE: `edges` usually carries an expensive
    # lineage (e.g. the whole MinHash/LSH candidate pipeline), and every
    # round's join would otherwise re-execute it from the scan.
    # MEMORY_AND_DISK persist, not an eager localCheckpoint (r18, guide
    # §1.2/§2.4 via VERDICT r17 #4 — the wall of the streaming CC
    # consumer is per-job overhead, so fewer jobs IS the optimization):
    # the cache fills inside the seed-label checkpoint job below instead
    # of costing its own materialization job, spills rather than
    # recomputes under pressure, and is released right after the loop —
    # the edge lineage is static, so nothing grows per round. Defined
    # BEFORE the conf pinning below ON PURPOSE: persist() captures the
    # cached plan under the session conf at call time, and the edge
    # pipeline belongs to the CALLER (a corpus-scale banded-candidate
    # pipeline in the batch dedup queries wants its AQE/broadcast shape;
    # the streaming consumer pins its own micro-batch-scoped conf around
    # this call instead — streaming/dedup_stream.py).
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    aqe_key = "spark.sql.adaptive.enabled"
    bcast_key = "spark.sql.autoBroadcastJoinThreshold"
    shuf_key = "spark.sql.shuffle.partitions"
    sc = spark.sparkContext
    desc_before = sc.getLocalProperty("spark.job.description")
    pinned = False
    try:
        # Seed labels with min(id, min neighbor id): identical to the
        # state after one propagation round from identity labels, but
        # computed as a bare groupBy on the edge list (no join against a
        # label relation) — one full join+checkpoint round saved on
        # every graph. Runs under the CALLER's conf (it also fills the
        # edge cache, whose plan is the caller's pipeline).
        sc.setJobDescription("cc: seed labels (+edge cache fill)")
        labels = (
            und.groupBy("a")  # both directions -> all endpoints
            .agg(F.least(F.min("b"), F.first("a")).alias("component"))
            .select(F.col("a").alias("id"), "component")
            .localCheckpoint(eager=True)
        )
        # SIZE-AWARE loop confs (r18, guide §1.2 — fix the job shape
        # first): for a SMALL graph (cached edge list within the
        # session's broadcast threshold — the micro-batch CC of the
        # streaming dedup, per-label blocks, test graphs) every AQE
        # stage materialization and broadcast build the loop plans is
        # its own Spark job, pure per-job scheduling tax at that size
        # (r18 census: ~20 jobs per micro-batch CC, nearly all AQE
        # sub-stages + per-round broadcast collects; 73 jobs/run on the
        # streaming consumer, whose wall is 5 s of jobs + 3.7 s of
        # inter-job gaps). Pinning AQE+broadcast off folds each round
        # into checkpoint + probe, two plain jobs, and statically
        # shuffling a <=10 MB relation costs microseconds. A LARGE
        # graph keeps the caller's adaptive shape unchanged — broadcast
        # demotion, skew splitting and partition coalescing are exactly
        # right when the label relation has millions of rows (the r18
        # first cut pinned unconditionally and regressed the
        # corpus-sized q_semantic_clusters CC 2.5x; reverted to this
        # gate). The measured cached size is read off the materialized
        # InMemoryRelation, so the decision is data-driven, not a
        # core-count constant. The gate is catalog.driver_sized_bytes,
        # which also falls back to the stock 10 MB anchor when the caller
        # disabled auto-broadcast (e.g. the streaming consumer's own
        # micro-batch pin), and keeps the caller's conf when no estimate
        # is available.
        und_bytes = driver_sized_bytes(und)
        if und_bytes is not None:
            aqe_before = spark.conf.get(aqe_key, "true")
            bcast_before = spark.conf.get(bcast_key, "10485760")
            shuf_before = spark.conf.get(shuf_key, None)
            pinned = True  # set BEFORE the flips: a mid-set failure
            # must still restore whatever landed (the finally keys off
            # this flag)
            spark.conf.set(aqe_key, "false")
            spark.conf.set(bcast_key, "-1")
            # Static partition count derived from the MEASURED edge
            # bytes (~32 MB/partition, so <=10 MB graphs run 1-partition
            # rounds) — the same tiny-shuffle shape AQE coalescing would
            # reach, minus its per-stage materialization jobs. This is
            # size-adaptive, not a core-count constant, and it revisits
            # r17's "partition narrowing harmful" negative result with
            # the cause removed: that measurement narrowed partitions
            # UNDER AQE, whose re-planning dominated; here AQE is off in
            # the same scope.
            spark.conf.set(
                shuf_key, str(max(1, -(-und_bytes // (32 << 20))))
            )
        changed = 0
        for i in range(max_iter):
            nbr_min = (
                und.join(labels, und.b == labels.id)
                .groupBy("a")
                .agg(F.min("component").alias("nbr_min"))
            )
            # The convergence flag rides along in the SAME join that
            # computes the new labels (nbr_min < component <=> this
            # vertex improves), so the per-round termination check is a
            # narrow scan of the checkpointed result — no extra join
            # job per iteration. Labels stay localCheckpointed per
            # round: a cached-chain variant (probe count doubling as
            # the materialization) measured one job less per round but
            # its nested-InMemoryRelation planning grew 0.5 -> 1.8 s
            # across 4 rounds on the corpus-sized CC — flat lineage
            # wins (r18).
            stepped = (
                labels.join(nbr_min, labels.id == nbr_min.a, "left")
                .select(
                    "id",
                    F.least(
                        F.col("component"), F.coalesce("nbr_min", "component")
                    ).alias("component"),
                    (F.coalesce("nbr_min", "component") < F.col("component")).alias(
                        "__improved"
                    ),
                )
                .localCheckpoint(eager=True)
            )
            sc.setJobDescription(f"cc: round {i} probe")
            changed = stepped.filter(F.col("__improved")).limit(1).count()
            labels = stepped.drop("__improved")
            if changed == 0:
                break
    finally:
        sc.setJobDescription(desc_before)
        if pinned:
            spark.conf.set(aqe_key, aqe_before)
            spark.conf.set(bcast_key, bcast_before)
            if shuf_before is None:
                spark.conf.unset(shuf_key)
            else:
                spark.conf.set(shuf_key, shuf_before)
        und.unpersist()
    if changed != 0:
        # min-label propagation needs diameter rounds; exiting via
        # max_iter means a chain longer than max_iter hops exists and the
        # labels are NOT a fixpoint — silently returning them would make
        # downstream dedup clusters wrong. Callers with genuinely deep
        # graphs should raise max_iter or switch to pointer-jumping
        # (large-star/small-star), which converges in O(log d) rounds.
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds (graph diameter exceeds max_iter)"
        )
    # Re-attach the full vertex set once: isolated vertices label themselves.
    ids = vertices.select(F.col(id_col).alias("id"))
    return ids.join(labels, "id", "left").select(
        "id", F.coalesce("component", "id").alias("component")
    )


def connected_components_pointer_jumping(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 40,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14): the O(log d)-round path for graphs whose diameter makes
    min-label propagation (one round per hop) too slow.

    large-star: every node links its LARGER neighbors to the minimum of
    its neighborhood; small-star: every node links its smaller-or-equal
    neighbors (and itself) to that minimum. Alternating the two contracts
    chains exponentially — a 10⁶-hop chain converges in ~20 rounds where
    min-label would need 10⁶.

    Same contract as :func:`connected_components`: (id, component) with
    component = min reachable vertex id; isolated vertices keep their own
    id. Each round is two groupBy shuffles over the CURRENT edge set
    (which only shrinks toward stars); edge sets are localCheckpointed so
    lineage stays O(1). Use for long-chain graphs; for shallow near-dup
    graphs min-label's single join per round is cheaper.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def large_star(cur: DataFrame) -> DataFrame:
        both = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = both.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            both.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def small_star(cur: DataFrame) -> DataFrame:
        down = cur.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m = down.groupBy("u").agg(F.min("v").alias("m"))  # all v < u here
        nbrs = down.join(m, "u").select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        selfs = m.select(F.col("u"), F.col("m").alias("v"))
        return nbrs.union(selfs).filter(F.col("u") != F.col("v")).distinct()

    for _ in range(max_iter):
        stepped = small_star(large_star(e)).localCheckpoint(eager=True)
        # Fixpoint = identical edge set. subtract is a narrow
        # anti-join over two checkpointed edge lists that SHRINK toward
        # star count; limit(1) short-circuits the scan.
        changed = (
            stepped.subtract(e).limit(1).count() + e.subtract(stepped).limit(1).count()
        )
        e = stepped
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"pointer-jumping did not converge within max_iter={max_iter} rounds"
        )
    # e is now a union of stars: u -> component root. Roots and isolated
    # vertices label themselves.
    membership = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    ids = vertices.select(F.col(id_col).alias("id"))
    return (
        ids.join(membership, "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )


def triangle_enumerate(pairs: DataFrame, src: str = "vec_a", dst: str = "vec_b") -> DataFrame:
    """Enumerate every triangle of an undirected graph exactly once,
    degree-oriented (Schank/Wagner): orient each edge from its
    lower-(degree, id) endpoint to the higher, so each triangle has
    exactly ONE vertex with two out-edges; wedges are generated per
    out-neighborhood and closed with a LEFT SEMI probe of the canonical
    edge set. Out-degrees are bounded near sqrt(|E|), so hub vertices
    (which explode an id-ordered wedge join — measured 250x shuffle
    volume at 270k edges, ``tools/measure_triangles.py``) never generate
    wedges.

    ``pairs`` must hold each undirected edge once with ``src < dst``.
    Returns the canonically sorted triple (tri_a < tri_b < tri_c); three
    key shuffles total (degrees, wedges, closing semi), no driver state.
    """
    a, b = F.col(src), F.col(dst)
    deg = (
        pairs.select(a.alias("node"))
        .unionAll(pairs.select(b.alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias(src), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias(dst), F.col("deg").alias("deg_b"))
    lower_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (a < b)
    )
    oriented = (
        pairs.join(da, src)
        .join(db, dst)
        .select(
            F.when(lower_first, a).otherwise(b).alias("src"),
            F.when(lower_first, b).otherwise(a).alias("dst"),
        )
    )
    o1 = oriented.select("src", F.col("dst").alias("d1"))
    o2 = oriented.select(F.col("src").alias("src2"), F.col("dst").alias("d2"))
    wedges = (
        o1.join(o2, F.col("src") == F.col("src2"))
        .filter(F.col("d1") < F.col("d2"))  # unordered out-neighbor pair, once
        .select("src", "d1", "d2")
    )
    canon = pairs.select(a.alias("ca"), b.alias("cb"))
    closed = wedges.join(
        canon,
        (F.least("d1", "d2") == F.col("ca")) & (F.greatest("d1", "d2") == F.col("cb")),
        "left_semi",
    )
    lo = F.least("src", "d1", "d2")
    hi = F.greatest("src", "d1", "d2")
    return closed.select(
        lo.alias("tri_a"),
        (F.col("src") + F.col("d1") + F.col("d2") - lo - hi).alias("tri_b"),
        hi.alias("tri_c"),
    )
