"""Near-duplicate clustering: connected components over a similarity-pair
graph, and representative selection.

At training-data scale the dedup pipeline is: shingle → MinHash/LSH →
candidate pairs → exact-similarity filter → **connected components** →
keep one representative per component. The reference has no graph stage (its
dedup is consecutive-identical only, transforms/stream/dedupe.py:6-15);
this is the 100 TB-posture extension.

Algorithm: alternating min-label propagation over the undirected edge list
(the standard join-based CC on Spark; cf. the large-star/small-star
formulation of Kiveris et al., "Connected Components in MapReduce and
Beyond"). Each round is one join + one groupBy-min; rounds needed =
O(component diameter). Near-dup components are shallow (cliques or short
chains from transitive similarity), so 3-6 rounds converge in practice;
`localCheckpoint` truncates the growing lineage each round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: symmetric edge count up to which components are resolved on the driver
DRIVER_EDGE_THRESHOLD = 200_000


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """(id, component) for every vertex in `pairs`; component = min vertex id
    reachable. Raises if the distributed loop has not converged within
    `max_iterations` rounds.

    Scale-adaptive (the AQE-broadcast idea applied to graph iteration):
    after the edge list materializes, if it holds at most
    DRIVER_EDGE_THRESHOLD edges (a bounded few MB) the components are
    resolved DRIVER-SIDE by union-find — identical min-label output,
    microseconds instead of one multi-job Spark round per log(diameter).
    Verified near-dup graphs are usually tiny (the expensive part was
    finding the pairs); the distributed pointer-jumping loop remains the
    path for genuinely large match graphs, where per-round job overhead
    amortizes."""
    # both directions IN-ROW (one explode): the old two-select union
    # consumed the (often expensive: LSH / verification) pair subtree
    # twice before the checkpoint could help. Deliberately NOT
    # operators/graph._undirected: that helper drops self-loops, while a
    # degenerate (x, x) pair must still surface vertex x in the output
    # ("every vertex in pairs").
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            ).alias("__e__")
        )
        .select("__e__.a", "__e__.b")
        .distinct()
    )
    # the loop runs actions every round — without a checkpoint here, the
    # (often expensive: LSH / O(n²) cosine) pair generation upstream would
    # be recomputed every round. LAZY: the driver-path probe materializes
    # it; partitions the early-exiting probe never touched are computed
    # and stored at their first consumer, never twice. (Round-7 idle-host
    # A/B on near_dup_clusters @ sf0.1, min-of-3 alternating: lazy 2.81 s
    # vs eager 3.02 s — the r6 driver-bench swing was ambient drift, the
    # whole LSH family moved together; lazy stays.)
    edges = edges.localCheckpoint(eager=False)
    n_edges = edges.limit(DRIVER_EDGE_THRESHOLD + 1).count()
    if n_edges <= DRIVER_EDGE_THRESHOLD:
        return _driver_union_find(pairs.sparkSession, edges)
    return _distributed_components(edges, max_iterations)


def _distributed_components(edges: DataFrame, max_iterations: int) -> DataFrame:
    """Pointer-jumping min-label propagation over the symmetric edge list
    (a, b) — the path for edge lists above DRIVER_EDGE_THRESHOLD. Returns
    (id, component), identical to `_driver_union_find` on the same edges;
    raises RuntimeError if not converged within `max_iterations` rounds."""
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    for _ in range(max_iterations):
        # each vertex proposes its label to every neighbor; take the min of
        # own label and all proposals
        proposals = (
            edges.join(labels, edges.a == labels.id)
            .select(F.col("b").alias("id"), "component")
        )
        new_labels = (
            labels.select("id", "component")
            .union(proposals)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # pointer jumping: adopt the label of one's label. Neighbor
        # propagation alone needs O(diameter) rounds (path graphs are the
        # worst case); the jump halves the remaining distance every round,
        # so convergence is O(log diameter) joins total.
        jump = new_labels.select(
            F.col("id").alias("jid"), F.col("component").alias("jcomp")
        )
        new_labels = (
            new_labels.join(jump, new_labels.component == jump.jid, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("jcomp", "component")
                ).alias("component"),
            )
        )
        # carry the previous label INTO the round's result so the
        # convergence probe reads the (about-to-be) checkpointed data
        # instead of running a separate new-vs-old join job — the probe is
        # then the round's ONE materializing action (a lazy checkpoint's
        # partitions not touched by the early-exiting limit are computed by
        # the next round's join; in the terminal round the probe scans
        # everything, so the returned frame is fully materialized)
        new_labels = new_labels.join(
            labels.select("id", F.col("component").alias("__prev__")), "id"
        )
        new_labels = new_labels.localCheckpoint(eager=False)
        changed = (
            new_labels.filter(F.col("component") != F.col("__prev__"))
            .limit(1)
            .count()
        )
        labels = new_labels.drop("__prev__")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds"
    )


def _driver_union_find(spark, edges: DataFrame) -> DataFrame:
    """Union-find over a BOUNDED collected edge list (caller enforces the
    bound). Min-label semantics: component = min vertex id reachable —
    bit-identical to the distributed loop's fixpoint."""
    rows = edges.collect()
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for r in rows:
        a, b = r["a"], r["b"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN root so the final root IS the component label
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    out = [(x, find(x)) for x in parent]
    id_type = edges.schema["a"].dataType
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField("id", id_type, False), StructField("component", id_type, False)]
    )
    return spark.createDataFrame(out, schema)


def dedup_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Keep one document per near-dup component (the min id) plus every
    unpaired document — the standard corpus-dedup reduction."""
    comp = connected_components(pairs, src, dst)
    keep_clustered = comp.filter(F.col("id") == F.col("component")).select(
        F.col("id").alias(id_col)
    )
    unpaired = docs.select(id_col).join(
        comp.select(F.col("id").alias(id_col)), id_col, "left_anti"
    )
    keepers = keep_clustered.union(unpaired)
    return docs.join(keepers, id_col, "leftsemi")
