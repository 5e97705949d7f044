"""Iterative graph analytics on DataFrames (beyond-reference: the
reference's linear generator pipeline cannot express iteration at all; cf.
its one-pass alignment operators, src/datapipeline/alignment/).

Determinism contract: ranks are exact integers (micro-units) — every
per-edge contribution is an integer division, every aggregate an exact
bigint sum, damping is integer multiply-then-divide — so results are
independent of partitioning, join order, and accumulation order, and an
unrolled SQL transcription hash-matches bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: initial rank per node, in micro-units
RANK_ONE = 1_000_000
#: damping factor 0.85 expressed as an integer ratio
DAMP_NUM, DAMP_DEN = 85, 100
#: fixed-round loops (sssp, label propagation, bfs) lazily checkpoint their
#: state every this many rounds, so long horizons keep a bounded plan
ROUND_CHECKPOINT_EVERY = 4
#: k-core peel rounds between lineage checkpoints / convergence probes
KCORE_CHECKPOINT_EVERY, KCORE_PROBE_EVERY = 2, 4


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration damped PageRank over a directed edge list.

    Returns (node, rank) with rank in integer micro-units
    (RANK_ONE = 1.0). Nodes are those with out-edges; with a symmetric
    edge list (the co-occurrence construction) that is every connected
    node, so no dangling-mass redistribution is needed — callers with
    asymmetric graphs should symmetrize or handle dangling nodes first.

    Adjacency-list execution (the GraphX shape): ONE groupBy(src)
    collect_set(dst) builds (src, out-neighbors, outdeg) — the set
    semantics dedup the edge stream for free, so callers may pass a
    NON-deduplicated pair stream (cooccurrence_pairs) and skip the
    distinct exchange entirely. The static adjacency is materialized once
    at its first consumer (a lazy localCheckpoint, as in
    connected_components) — AQE exchange reuse alone is
    canonicalization-fragile and silently re-derives the (often expensive)
    edge construction per iteration when plans drift; a localCheckpoint
    makes the once-only guarantee structural. Each iteration then joins
    RANKS to the node-count-sized adjacency (not the edge-count-sized pair
    list — ~100x less join mass on dense graphs), explodes contributions
    in-row, and aggregates per destination. A/B at the sf0.1 co-purchase
    graph: 2.7 s -> 1.6 s end-to-end vs the (already window-based)
    edge-relation form, bit-identical ranks.

    Degree bound: one node's out-list must fit in a row — the bound every
    collect_set in this repo carries (basket pairs, LSH buckets). Graphs
    with unbounded hub degree should cap or split hubs upstream (the
    standard production cut, cf. link_prediction's max_degree) before the
    adjacency build.
    """
    adj = edges.groupBy(src).agg(F.collect_set(dst).alias("__dsts__"))
    # LAZY: the once-only guarantee is structural either way (every
    # iteration scans the same checkpoint); lazy defers the materializing
    # job to the caller's first action instead of paying it at build time.
    # The returned plan holds no edge-construction subtree at all, only
    # checkpoint scans.
    adj = adj.withColumn("outdeg", F.size("__dsts__")).localCheckpoint(
        eager=False
    )
    ranks = adj.select(F.col(src).alias("node")).withColumn(
        "rank", F.lit(RANK_ONE).cast("long")
    )
    for _ in range(iterations):
        contrib = adj.join(ranks, F.col(src) == F.col("node")).select(
            F.explode("__dsts__").alias("__dst__"),
            F.expr("rank DIV outdeg").alias("c"),
        )
        base = RANK_ONE - RANK_ONE * DAMP_NUM // DAMP_DEN  # 150000
        ranks = contrib.groupBy(F.col("__dst__").alias("node")).agg(
            (F.lit(base) + F.expr(f"({DAMP_NUM} * sum(c)) DIV {DAMP_DEN}")).alias(
                "rank"
            )
        )
    return ranks


def cooccurrence_edges(df: DataFrame, group_col: str, item_col: str) -> DataFrame:
    """Distinct directed item-item edges for items sharing a group (both
    directions, no self-loops): ``cooccurrence_pairs`` plus one dedup hash
    aggregate. Pair volume is bounded by items-per-group, so it cannot
    degenerate at corpus scale.

    One collect_set per group + in-row pair explode — the basket-pair
    pattern (operators/basket.py). One exchange feeds the pair stream
    instead of a group-keyed self-join's sort-merge, and the pairs are
    generated by two streaming Generates with no sort. A/B at sf0.1 on the
    lineitem co-purchase graph: 2.67 s (self-join) -> 1.40 s for the
    identical 2.39M-edge output. Requires each group's item set to fit in
    one row (the bound any collect_set carries)."""
    return cooccurrence_pairs(df, group_col, item_col).distinct()


def cooccurrence_pairs(
    df: DataFrame, group_col: str, item_col: str
) -> DataFrame:
    """NON-deduplicated directed item-item pair stream for items sharing a
    group (both directions; within one group each unordered pair appears
    once per direction, but pairs repeat ACROSS groups). For consumers
    whose first aggregate is set-semantic (pagerank's collect_set
    adjacency), this skips cooccurrence_edges' distinct exchange — the
    dedup rides the consumer's own aggregation for free."""
    sets = df.groupBy(group_col).agg(F.collect_set(item_col).alias("__items__"))
    return (
        sets.select(F.explode("__items__").alias("src"), "__items__")
        .select("src", F.explode("__items__").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct undirected edge set (a, b) with both directions present,
    derived from ONE pass over ``edges``: both directions are generated
    IN-ROW by a single explode, not a union of two selects — the union
    form consumes the (often expensive) edge-construction subtree twice,
    and exchange reuse rescuing that is canonicalization-fragile; one
    consumer is structural. Self-loops are dropped from both directions
    (the old union form filtered only one branch)."""
    return (
        edges.filter(F.col(src) != F.col(dst))
        .select(
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


def oriented_edges(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> tuple[DataFrame, DataFrame]:
    """The shared degree-orientation prefix of the triangle family:
    returns (deg, ranked) where `deg` is the undirected degree table
    (a, d) and `ranked` orients every undirected edge a -> b iff
    (deg(a), a) < (deg(b), b). Exposed separately so a query needing BOTH
    degrees and triangles (clustering coefficient) derives them from ONE
    undirected-edge subtree instead of rebuilding it inside each operator
    (the multi-consumer-subtree rule). The deduped undirected edge set is
    lazily checkpointed: it is consumed by both the degree aggregate and
    the orientation join."""
    und = _undirected(edges, src, dst).localCheckpoint(eager=False)
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    ranked = (
        und.join(deg.withColumnsRenamed({"a": "a", "d": "da"}), "a")
        .join(deg.withColumnsRenamed({"a": "b", "d": "db"}), "b")
        .filter(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
        )
        .select("a", "b")
    )
    return deg, ranked


def triangle_counts_from_oriented(ranked: DataFrame) -> DataFrame:
    """Wedge-closure triangle counting over an ALREADY degree-oriented
    edge set (`oriented_edges`' `ranked`): each wedge is generated at its
    lowest-degree vertex, every triangle found exactly once, credited to
    its three corners. `ranked` is consumed three times (two wedge arms +
    the closing-edge probe) — callers composing larger plans should pass
    a checkpointed frame."""
    # wedges at the low vertex: a -> b1, a -> b2 (b1 < b2 to emit once)
    w1 = ranked.select(F.col("a").alias("w"), F.col("b").alias("u"))
    w2 = ranked.select(F.col("a").alias("w"), F.col("b").alias("v"))
    wedges = w1.join(w2, "w").filter(F.col("u") < F.col("v"))
    # close the wedge with an oriented edge u->v or v->u
    closing = ranked.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).distinct()
    tris = wedges.join(closing, ["u", "v"]).select("w", "u", "v")
    # credit all three corners IN-ROW (one explode) — the old three-way
    # union consumed the wedge-closure join three times (2.0 s -> 1.5 s at
    # the sf0.1 scoped co-purchase graph; exchange reuse across the three
    # branches is canonicalization-fragile, one consumer is structural)
    credited = tris.select(F.explode(F.array("w", "u", "v")).alias("node"))
    return credited.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts over an undirected graph (edges may be
    given in either or both directions; deduped internally).

    Algorithm: degree orientation + wedge closure (the MapReduce-standard
    scheme, cf. Suri & Vassilvitskii, "Counting Triangles and the Curse of
    the Last Reducer"): orient every edge from the (degree, id)-smaller
    endpoint to the larger, so each wedge is generated at its LOWEST-degree
    vertex — intermediate wedge volume is bounded by Σ min-degree per edge
    (O(m^1.5) worst case, tiny on real skewed graphs) instead of Σ deg² of
    the hub nodes. Two equi-joins + one aggregate; every triangle found
    exactly once, then credited to its three corners. Integer-exact,
    order-independent — SQL-transcribable for an exact oracle.
    """
    # oriented_edges checkpoints only the undirected edge set: materializing
    # `ranked` too was measured SLOWER (it hides the small build sides from
    # AQE's broadcast planning for the wedge joins) — A/B at sf0.1:
    # und-only 1.43 s vs both 1.77 s vs ranked-only 2.91 s vs none 1.65 s
    _, ranked = oriented_edges(edges, src, dst)
    return triangle_counts_from_oriented(ranked)


def kcore_nodes(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
) -> DataFrame:
    """Nodes of the k-core (maximal subgraph where every node has degree
    >= k), by iterative FRONTIER peeling over a static adjacency table —
    the same adjacency-list structure as pagerank/bfs/sssp, replacing the
    old edge-relation loop (degree aggregate + two joins over the full
    edge set EVERY round, one checkpoint + one count job per round).

    The adjacency (node, neighbors[], deg) is built by ONE collect_set
    groupBy; each round then touches work proportional to the PEELED
    frontier, not the surviving graph: dead = nodes with current deg < k,
    their neighbor lists explode in-row into per-neighbor decrements (one
    node-keyed aggregate), and the survivors left-join the decrements.
    deg is maintained exactly as |N(v) ∩ alive| — simultaneous batch peel,
    the identical fixpoint as the edge form (monotone, never resurrects),
    so an oracle that unrolls AT LEAST as many rounds as convergence takes
    matches bit-for-bit. A round at the fixpoint is a no-op (empty
    frontier ⇒ empty decrement), which makes sparse probing sound: the
    convergence probe `filter(deg < k).limit(1).count()` runs every
    KCORE_PROBE_EVERY rounds (and at `max_rounds`) — finding nothing
    proves the LAST peel dropped nothing, i.e. the fixpoint. Lineage is
    truncated by a lazy localCheckpoint of the adjacency and then every
    KCORE_CHECKPOINT_EVERY rounds; each round consumes `nodes` three
    times, so unbounded cadences grow the plan 3^rounds (A/B: unrolling 8
    rounds uncheckpointed 17-23 s vs 1.5-1.9 s at ckpt=2/probe=4; the old
    per-round edge loop was 2.7-2.8 s in the same harness). Raises if not
    converged within `max_rounds` (real graphs peel in a handful of
    rounds; a path graph peels one layer per round).
    """
    und = _undirected(edges, src, dst)
    nodes = (
        und.groupBy("a")
        .agg(F.collect_set("b").alias("__nb__"))
        .select(
            F.col("a").alias("node"), "__nb__", F.size("__nb__").alias("deg")
        )
        .localCheckpoint(eager=False)
    )
    for r in range(1, max_rounds + 1):
        dead = nodes.filter(F.col("deg") < k)
        dec = (
            dead.select(F.explode("__nb__").alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("__dec__"))
        )
        nodes = (
            nodes.filter(F.col("deg") >= k)
            .join(dec, "node", "left")
            .select(
                "node",
                "__nb__",
                (
                    F.col("deg") - F.coalesce(F.col("__dec__"), F.lit(0))
                ).alias("deg"),
            )
        )
        last = r == max_rounds
        if r % KCORE_CHECKPOINT_EVERY == 0 or last:
            nodes = nodes.localCheckpoint(eager=False)
        if r % KCORE_PROBE_EVERY == 0 or last:
            if nodes.filter(F.col("deg") < k).limit(1).count() == 0:
                return nodes.select("node")
    raise RuntimeError(f"kcore did not converge in {max_rounds} rounds")


def sssp_distances(
    edges: DataFrame,
    sources: DataFrame | None,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    initial: DataFrame | None = None,
    initial_rounds: int = 0,
) -> DataFrame:
    """Single/multi-source shortest paths with non-negative INTEGER edge
    weights (Bellman-Ford relaxation, fixed rounds) — the weighted
    companion to bfs_distances. Returns (node, dist); nodes not reached
    within ``rounds`` relaxations are excluded, and a path using more than
    ``rounds`` edges may report a longer-than-optimal distance (the capped
    horizon is the documented semantics, same as BFS — an oracle that
    unrolls the same number of rounds matches exactly).

    Each round relaxes EVERY settled node's out-edges: one join keyed on
    the edge source + one min aggregate, then a min-merge with the current
    distances — exact integer arithmetic throughout, monotone
    non-increasing, so the result is partition- and order-independent.
    Adjacency-list execution like pagerank: the static (src,
    [(dst, w)...]) out-lists are built by ONE groupBy; rounds join the
    node-count-sized distance table (AQE broadcasts it when small) to the
    adjacency and explode relaxations in-row. ``edges`` may be a RAW (duplicated) pair
    stream: duplicate (src, dst, w) rows collapse in the collect_set, and
    parallel edges with different weights are subsumed by the round's
    min-merge — pre-aggregate per-(src,dst) mins upstream only when
    parallel-edge multiplicity would bloat the adjacency lists.

    Round-tax discipline (round-7 A/B, idle host, bit-identical outputs):
    every lazy localCheckpoint costs one AQE stage-materialization pass at
    `.rdd` time, so for small fixed round counts NOTHING is checkpointed —
    the adjacency is consumed once per round through same-object exchange
    reuse (one DataFrame object -> one canonical exchange, reliably
    reused), and dist lineage is truncated only every
    ROUND_CHECKPOINT_EVERY rounds (sf0.1: per-round checkpoints 1.85 s ->
    none 1.59 s).

    ``initial``/``initial_rounds``: callers that can compute the first
    relaxation(s) WITHOUT the adjacency (e.g. sources defined by a
    predicate over the pair stream — the first relaxation is then a filter
    riding the d1 min-merge, and AQE materializes it in parallel with the
    adjacency build) pass the precomputed distance table here; the loop
    runs the remaining ``rounds - initial_rounds`` relaxations
    (sf0.1 sssp_parts: 1.59 s -> 1.37 s).
    """
    adj = (
        edges.select(
            F.col(src).alias("__src__"),
            F.struct(F.col(dst).alias("d"), F.col(weight).alias("w")).alias("e"),
        )
        .groupBy("__src__")
        .agg(F.collect_set("e").alias("__es__"))
    )
    if initial is not None:
        dist = initial.select("node", "dist")
        done = initial_rounds
    else:
        dist = sources.select(F.col("node")).distinct().withColumn(
            "dist", F.lit(0).cast("long")
        )
        done = 0
    for r in range(1, rounds - done + 1):
        relaxed = (
            dist.join(adj, dist["node"] == adj["__src__"])
            .select(F.col("dist").alias("__d0__"), F.explode("__es__").alias("e"))
            .select(
                F.col("e.d").alias("node"),
                (F.col("__d0__") + F.col("e.w")).alias("dist"),
            )
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        if r % ROUND_CHECKPOINT_EVERY == 0 and r < rounds - done:
            # LAZY, sparse, never terminal: rounds are fixed (no probe
            # reads an intermediate); the truncation exists to bound plan
            # growth on LONG horizons — a terminal-round checkpoint buys
            # nothing and costs an AQE materialization pass at build
            dist = dist.localCheckpoint(eager=False)
    return dist


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (fixed rounds).

    Returns (node, community). Init: every node labels itself with its own
    id. Each round, every edge (src, dst) delivers label(src) to dst, and
    dst adopts the most frequent incoming label, ties broken by the
    SMALLEST label — making the synchronous update fully deterministic
    (the classic async LPA is order-dependent; the sync+min-tie variant is
    the one an exact oracle can replay). ``edges`` must contain both
    directions (the cooccurrence construction does).

    Adjacency-list execution, like pagerank: ONE groupBy(src)
    collect_set(dst) builds the out-neighbor lists (set semantics dedup
    the edge stream — duplicate input edges cast one vote, and callers
    may pass the NON-deduplicated cooccurrence_pairs stream and skip the
    distinct exchange). Each round joins the LABELS to the
    node-count-sized adjacency (not the edge-count-sized pair list),
    explodes deliveries in-row, and resolves each node's vote with ONE
    deterministic-mode aggregate: ``mode(lab, deterministic=true)``
    returns the most frequent label with ties broken by the SMALLEST
    value — exactly the sync+min-tie rule. The partial mode buffers are
    per-node label→count maps, bounded by in-degree — the same mass the
    old (node, label) count shuffle carried. A/B at the sf0.1 co-purchase
    graph: 6.6 s -> 2.6 s for 4 rounds, bit-identical labels.

    Round 1 is FREE (in-row): with self-labels, every incoming vote is a
    singleton, so the most-frequent-min-tie winner is simply the SMALLEST
    neighbor id — ``array_min`` over the adjacency list, no join, no
    shuffle. The loop then runs ``rounds - 1`` joined rounds. The
    registry query runs 4 rounds; tests run 1-2 to pin single synchronous
    updates on small graphs.

    Round-tax discipline (round-7 A/B, bit-identical labels): no lazy
    checkpoint for small fixed round counts — each checkpoint's `.rdd`
    call costs an AQE stage-materialization pass, the adjacency is reused
    through same-object exchange reuse, and label lineage only needs
    truncation on LONG horizons (every ROUND_CHECKPOINT_EVERY rounds).
    sf0.1 communities_parts: r6 form 1.94 s -> 1.62 s.
    """
    if rounds < 1:
        raise ValueError("label_propagation needs rounds >= 1")
    adj = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .groupBy("a")
        .agg(F.collect_set("b").alias("__bs__"))
    )
    labels = adj.select(
        F.col("a").alias("node"), F.array_min("__bs__").alias("lab")
    )
    for r in range(2, rounds + 1):
        labels = (
            adj.join(labels, F.col("a") == F.col("node"))
            .select(F.explode("__bs__").alias("b"), "lab")
            .groupBy(F.col("b").alias("node"))
            .agg(F.mode(F.col("lab"), True).alias("lab"))
        )
        # truncate only when further rounds will CONSUME the frame — a
        # terminal-round checkpoint buys nothing and costs a full AQE
        # stage-materialization pass at build time (observed as a 1.6 s
        # construction phase on the 4-round query)
        if r % ROUND_CHECKPOINT_EVERY == 0 and r < rounds:
            labels = labels.localCheckpoint(eager=False)
    return labels.select("node", F.col("lab").alias("community"))


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame | None,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    initial: DataFrame | None = None,
    initial_hops: int = 0,
) -> DataFrame:
    """Multi-source BFS hop distances, capped at ``max_hops`` (nodes
    unreached within the horizon are excluded) — (node, dist) with dist =
    min hops from any source. Completes the traversal member of the graph
    family (pagerank / components / triangles / k-core).

    Min-merge relaxation, the oracle's own shape: d_{k+1} = min(d_k,
    neighbors(d_k)+1) — per hop ONE join of the node-count-sized distance
    table to the adjacency + one min aggregate; no per-hop distinct,
    anti-join or isEmpty probe (each of those cost a separate AQE job —
    the dominant tax at small horizons: sf0.1 bfs_parts 1.29 s -> 1.07 s
    against a level-synchronous frontier loop, bit-identical). Every hop
    re-relaxes every settled node; the distance lineage is lazily
    checkpointed every ROUND_CHECKPOINT_EVERY hops, so long horizons keep a
    bounded plan.

    The capped-horizon semantics make the oracle a fixed
    ``max_hops``-deep unrolled min-merge, which equals BFS by the
    standard level-induction argument. ``sources`` must be a (node)
    DataFrame; ``edges`` must already contain both directions (the
    cooccurrence construction does — cooccurrence_pairs works too: the
    adjacency collect_set dedups duplicates). ``initial``/``initial_hops``:
    callers that compute the first hop(s) without the adjacency (sources
    defined by a predicate over the pair stream — hop 1 is then a filter
    riding the d1 aggregate, materialized by AQE in parallel with the
    adjacency build) pass the distance table here instead of ``sources``.
    """
    adj = edges.groupBy(F.col(src).alias("__src__")).agg(
        F.collect_set(dst).alias("__dsts__")
    )
    if initial is not None:
        dist = initial.select("node", "dist")
        done = initial_hops
    else:
        dist = sources.select(F.col("node")).distinct().withColumn(
            "dist", F.lit(0).cast("int")
        )
        done = 0
    for h in range(1, max_hops - done + 1):
        relaxed = (
            dist.join(adj, dist["node"] == adj["__src__"])
            .select(F.col("dist").alias("__d0__"), F.explode("__dsts__").alias("node"))
            .select("node", (F.col("__d0__") + F.lit(1)).cast("int").alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        if h % ROUND_CHECKPOINT_EVERY == 0 and h < max_hops - done:
            dist = dist.localCheckpoint(eager=False)
    return dist


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int = 200,
) -> DataFrame:
    """Common-neighbor link prediction over an undirected graph: for every
    UNCONNECTED node pair sharing at least one neighbor, the number of
    common neighbors and the Resource-Allocation index (Zhou, Lü & Zhang
    2009: Σ_z 1/deg(z) over common neighbors z — the field-standard local
    predictor that, unlike Adamic-Adar's 1/ln deg, needs no libm call, so
    the score is exact cross-engine as Σ 1000000 DIV deg(z) micro-units).

    Scale posture: wedge generation is the whole cost, and it is bounded
    two ways — (a) hub centers with deg > ``max_degree`` are excluded from
    CENTERING wedges (a node of degree d generates d² pairs; RA weights
    them 1/d each, so high-degree hubs contribute near-zero score at
    quadratic cost — the standard cut, disclosed in the output semantics),
    and (b) each wedge is emitted once (u < v). One neighbor-keyed
    self-join, one anti-join against the existing edge set, one aggregate.
    Never materializes candidate pairs beyond Σ_z min(deg_z, cap)².

    Edges may be given in either or both directions; deduped internally.
    Integer-exact and order-independent — SQL-transcribable oracle.
    """
    # four consumers (degrees, both wedge legs, the existing-edge anti-join
    # side) read this subtree — materialize it once (at the first consumer;
    # lazy) instead of trusting AQE exchange reuse across differently-
    # filtered branches (same treatment as pagerank/connected_components)
    und = _undirected(edges, src, dst).localCheckpoint(eager=False)
    deg = und.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("d"))
    centers = deg.filter(F.col("d") <= F.lit(max_degree))
    # neighbors of an eligible center z, carrying deg(z) for the RA term
    nz = und.join(centers, "a").select(
        F.col("a").alias("z"), F.col("b").alias("n"), "d"
    )
    w1 = nz.select("z", F.col("n").alias("u"), "d")
    w2 = nz.select("z", F.col("n").alias("v"))
    wedges = w1.join(w2, "z").filter(F.col("u") < F.col("v"))
    existing = und.filter(F.col("a") < F.col("b")).select(
        F.col("a").alias("u"), F.col("b").alias("v")
    )
    return (
        wedges.join(existing, ["u", "v"], "left_anti")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_neighbors"),
            F.sum(F.expr("1000000 DIV d")).cast("long").alias("ra_micros"),
        )
    )
