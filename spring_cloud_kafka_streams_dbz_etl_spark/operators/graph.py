"""Connected components: near-dup PAIRS become duplicate CLUSTERS.

The dedup pipeline's final step: near-dup pairs (from MinHash/LSH or
blocked Jaccard) must become clusters so exactly one document per
cluster survives. Transitive closure is a graph problem with two
regimes, split by one size gate (``catalog.driver_sized_bytes``) on the
materialized edge cache:

- A graph the driver can hold (every near-dup graph of the fixtures: a
  few KB of edges) is collected once and labeled by a vectorized numpy
  union-find — at that size each Spark round is pure per-job scheduling
  cost, and the driver finishes the closure in under a millisecond.
- A larger graph runs min-label propagation as DataFrame joins. label(v)
  starts as v; each round every vertex takes the min of its own label
  and its neighbors' labels; stop at fixpoint. Rounds needed = graph
  diameter — near-dup clusters are tiny (pairs/triples), so 2-3 rounds
  in practice.

Both regimes label a vertex with the minimum id of its component and run
under the caller's session conf, which neither touches.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
    component). `edges`: undirected pairs (each listed once is enough);
    an edge with a NULL endpoint joins nothing, and a NULL vertex id
    keeps a NULL component.

    Scale: the edge list is materialized once and measured. Within
    ``catalog.driver_sized_bytes`` (the broadcast threshold, 10 MB when
    auto-broadcast is off) it is collected and labeled on the driver
    (:func:`_min_labels`), and the labels come back as a local relation.
    Above it, each round is one shuffle join on the current labels plus
    a min-aggregate; labels are localCheckpointed per round so the plan
    doesn't grow with iteration count (lineage blowup is the classic
    iterative-Spark failure mode). Either way the label relation covers
    only EDGE ENDPOINTS, not all vertices: a vertex in no pair can never
    change label, and near-dup graphs are sparse — at corpus scale that's
    millions of endpoints labeled instead of billions of documents, with
    the full vertex set joined back exactly once at the end.
    """
    from pyspark import StorageLevel

    # Materialize the edge list ONCE: `edges` usually carries an expensive
    # lineage (e.g. the whole MinHash/LSH candidate pipeline), and the
    # collect or every round's join would otherwise re-execute it from
    # the scan. One direction only: a cached union of both directions
    # runs the edge lineage's AQE stages twice (22 jobs instead of 17 for
    # q_dup_clusters at local[4]). MEMORY_AND_DISK: spills rather than
    # recomputes under pressure, and is released right after the labels
    # are built. The gate reads the materialized InMemoryRelation's size.
    cached = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sc = edges.sparkSession.sparkContext
    desc_before = sc.getLocalProperty("spark.job.description")
    try:
        sc.setJobDescription("cc: edge cache fill")
        cached.count()
        if driver_sized_bytes(cached) is not None:
            sc.setJobDescription("cc: collect edges")
            labels = _driver_labels(cached)
        else:
            labels = _propagate_labels(cached, max_iter)
    finally:
        sc.setJobDescription(desc_before)
        cached.unpersist()
    # Re-attach the full vertex set once: isolated vertices label themselves.
    ids = vertices.select(F.col(id_col).alias("id"))
    return ids.join(labels, "id", "left").select(
        "id", F.coalesce("component", "id").alias("component")
    )


def _min_labels(u: np.ndarray, v: np.ndarray, n: int) -> np.ndarray:
    """Component label of each of ``n`` dense vertex indices: the minimum
    index in its component, for undirected edges ``u[i] -- v[i]``.

    Hook-and-shortcut union-find, vectorized: every round hooks each
    edge's two roots to the smaller one (``np.minimum.at``), then pointer
    jumping flattens the forest back to stars. Pointers only ever move
    to smaller indices, so no cycle forms; every tree with a cross edge
    merges each round, so rounds are O(log n) and no Python loop runs per
    edge. At the fixpoint no hook moves a root, so both endpoints of every
    edge share one root, and that root is the component minimum (it
    points to nothing smaller)."""
    lab = np.arange(n)
    while True:
        ru, rv = lab[u], lab[v]
        hooked = lab.copy()
        m = np.minimum(ru, rv)
        np.minimum.at(hooked, ru, m)
        np.minimum.at(hooked, rv, m)
        if np.array_equal(hooked, lab):
            return lab
        while True:
            jumped = hooked[hooked]
            if np.array_equal(jumped, hooked):
                break
            hooked = jumped
        lab = hooked


def _driver_labels(cached: DataFrame) -> DataFrame:
    """(id, component) for every endpoint of the cached (a, b) edge list,
    labeled on the driver: one collect (self-loops and edges with a NULL
    endpoint are dropped — they join nothing in the Spark loop either),
    ids factorized to dense sorted indices so the minimum index is the
    minimum id, and the labels shipped back as an Arrow local relation."""
    import pyarrow as pa

    t = cached.filter(F.col("a") != F.col("b")).toArrow()
    a, b = t.column("a").to_numpy(), t.column("b").to_numpy()
    ids, dense = np.unique(np.concatenate([a, b]), return_inverse=True)
    lab = _min_labels(dense[: len(a)], dense[len(a) :], len(ids))
    # the type a union of both directions widens the endpoints to
    typ = cached.select("a").union(cached.select("b")).schema[0].dataType
    return cached.sparkSession.createDataFrame(
        pa.table({"id": ids, "component": ids[lab]}),
        schema=T.StructType(
            [T.StructField("id", typ), T.StructField("component", typ)]
        ),
    )


def _propagate_labels(cached: DataFrame, max_iter: int) -> DataFrame:
    """(id, component) for every endpoint of the cached (a, b) edge list
    by min-label propagation, one shuffle join + checkpoint per round."""
    sc = cached.sparkSession.sparkContext
    und = cached.union(cached.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # Seed labels with min(id, min neighbor id): identical to the state
    # after one propagation round from identity labels, but computed as a
    # bare groupBy on the edge list (no join against a label relation) —
    # one full join+checkpoint round saved on every graph.
    sc.setJobDescription("cc: seed labels")
    labels = (
        und.groupBy("a")  # both directions -> all endpoints
        .agg(F.least(F.min("b"), F.first("a")).alias("component"))
        .select(F.col("a").alias("id"), "component")
        .localCheckpoint(eager=True)
    )
    for i in range(max_iter):
        nbr_min = (
            und.join(labels, und.b == labels.id)
            .groupBy("a")
            .agg(F.min("component").alias("nbr_min"))
        )
        # The convergence flag rides along in the SAME join that computes
        # the new labels (nbr_min < component <=> this vertex improves), so
        # the per-round termination check is a narrow scan of the
        # checkpointed result — no extra join job per iteration. Labels
        # stay localCheckpointed per round: a cached-chain variant (probe
        # count doubling as the materialization) measured one job less per
        # round but its nested-InMemoryRelation planning grew 0.5 -> 1.8 s
        # across 4 rounds on a corpus-sized CC — flat lineage wins.
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
        labels = stepped.drop("__improved")
        if stepped.filter(F.col("__improved")).limit(1).count() == 0:
            return labels
    # min-label propagation needs diameter rounds; exiting via max_iter
    # means a chain longer than max_iter hops exists and the labels are NOT
    # a fixpoint — silently returning them would make downstream dedup
    # clusters wrong. Callers with genuinely deep graphs should raise
    # max_iter.
    raise RuntimeError(
        f"connected_components did not converge within max_iter={max_iter} "
        "rounds (graph diameter exceeds max_iter)"
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
