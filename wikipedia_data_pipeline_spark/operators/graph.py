"""Graph operators expressed as DataFrame programs.

PageRank here is the *fixed-point integer* formulation: ranks live in
scaled integer units (1.0 == ``SCALE``), per-edge contributions use
integer floor division, and the damping step is integer multiply-then-
divide. Two reasons, both scale-motivated:

* **Reproducibility.** Float PageRank is order-dependent (the incoming
  contributions are summed in shuffle arrival order), so two runs of the
  same job on different cluster sizes disagree in the low bits — and a
  task retry can disagree with its first attempt. Integer sums are
  associative: the result is bit-identical under any partitioning, which
  also makes it exactly checkable against a SQL oracle.
* **No precision cliff.** At web-graph scale the float variant needs
  Kahan-style compensation for high-in-degree nodes; scaled-integer
  arithmetic has a fixed, known quantization (1e-6 at ``SCALE``)
  everywhere.

The iteration itself is the classic Spark shape (cf. the PageRank
examples shipped with Spark since the RDD era, re-expressed on
DataFrames): a static edge relation joined per iteration against a
node-sized rank relation. Edges dominate the cost and are shuffled on
``src`` ONCE (repartition + persist); each iteration then reuses that
layout for its join and pays one shuffle on ``dst`` for the aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators.ranks import pin

SCALE = 1_000_000  # rank 1.0 in fixed-point units
DAMPING_PCT = 85  # 0.85 damping as an integer percentage


def pagerank_fixed_point(
    edges: DataFrame,
    iterations: int = 3,
    weight: str | None = None,
) -> DataFrame:
    """Fixed-point PageRank over a directed ``(src, dst)`` edge list.

    Semantics (exact, engine-portable):
      rank_0(v)   = SCALE                       (i.e. 1.0)
      contrib(u→v) = rank_t(u) div outdeg(u)    (integer floor division)
      rank_{t+1}(v) = base + (DAMPING_PCT * Σ contrib) div 100
    where base = SCALE*(100-DAMPING_PCT) div 100. Nodes with no
    in-edges hold the base rank; dangling nodes (no out-edges) simply
    contribute nothing (their mass is not redistributed — the bounded
    "leaky" variant, standard when ranks need not sum to N).

    With ``weight`` (an integer edge-weight column), the contribution
    becomes (rank_t(u) · w_uv) div Σ_u w — mass splits proportionally
    to weight instead of uniformly, still in exact integer arithmetic
    (multiply BEFORE the floor division, so precision loss is one unit
    per edge, not per weight share).

    Cost model: iterations × (1 join shuffle on ``src`` side reuse +
    1 aggregate shuffle on ``dst``); the rank relation is node-sized,
    orders of magnitude smaller than the edge relation it joins. For
    many-iteration runs, checkpoint ``ranks`` every ~5 rounds to cut
    lineage — at 3 iterations the plan is shallow enough not to bother.
    """
    base = SCALE * (100 - DAMPING_PCT) // 100

    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    w_expr = (
        F.col(weight).cast("long") if weight is not None else F.lit(1).cast("long")
    )
    outdeg = edges.groupBy("src").agg(F.sum(w_expr).alias("outdeg"))
    # One shuffle up front: co-locate edges with their out-degree and
    # keep them partitioned by src so every iteration's rank join is a
    # local (no re-shuffle of the big side) hash join under AQE.
    e = pin(
        edges.join(outdeg, "src")
        .select(
            F.col("src").alias("src"),
            F.col("dst").alias("dst"),
            w_expr.alias("w"),
            "outdeg",
        )
        .repartition("src")
    )

    ranks = nodes.select("node", F.lit(SCALE).cast("long").alias("rank"))
    for _ in range(iterations):
        contrib = e.join(
            ranks, e["src"] == ranks["node"]
        ).select(
            F.col("dst").alias("node"),
            F.expr("(rank * w) div outdeg").alias("contrib"),
        )
        incoming = contrib.groupBy("node").agg(
            F.sum("contrib").alias("mass")
        )
        ranks = nodes.join(incoming, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.coalesce(
                    F.expr(f"({DAMPING_PCT} * mass) div 100"), F.lit(0)
                )
            ).cast("long").alias("rank"),
        )
    return ranks


def degree_profile(edges: DataFrame) -> DataFrame:
    """Per-node (out_degree, in_degree) of a ``(src, dst)`` edge list —
    the first diagnostic run on any new graph (skew in either column
    predicts shuffle hot spots in every downstream graph op). One
    aggregate per direction, full outer merged on the node id."""
    out_d = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_d = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        out_d.join(in_d, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def label_propagation(edges: DataFrame, iterations: int = 2) -> DataFrame:
    """Synchronous majority-label propagation (community detection) on
    the undirected view of a ``(src, dst)`` edge list, with a fully
    deterministic spec: every node starts labeled with its own id; each round it
    adopts the most frequent label among its neighbors, ties broken by
    the smallest label. Deterministic tie-breaks are what make a graph
    heuristic exactly reproducible (and SQL-checkable) — the classic
    async LPA is run-order-dependent by construction.

    Per round: one join of the node-sized label relation onto the
    (undirected, so 2×) edge relation, one count aggregate on
    (node, label), one per-node top-1 window. The edge relation is
    shuffled on the neighbor key once and persisted; rounds reuse it.
    Fixed iteration counts (not convergence loops) are the production
    norm — synchronous LPA can oscillate on bipartite structure, so
    you bound rounds and take the snapshot.
    """
    from pyspark.sql import Window

    und = pin(
        edges.select(F.col("src").alias("node"), F.col("dst").alias("nbr"))
        .union(edges.select(F.col("dst").alias("node"), F.col("src").alias("nbr")))
        .distinct()
        .repartition("nbr")
    )
    nodes = und.select("node").distinct()
    labels = nodes.select("node", F.col("node").alias("label"))
    w = Window.partitionBy("node").orderBy(F.desc("n"), F.asc("label"))
    for _ in range(iterations):
        nbr_labels = und.join(
            labels.withColumnRenamed("node", "nbr"), "nbr"
        ).select("node", "label")
        counted = nbr_labels.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("n")
        )
        labels = (
            counted.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
    return labels


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Global triangle census of an undirected graph given as oriented
    ``(src, dst)`` edges (src < dst, deduplicated): one row with
    node/edge/triangle/wedge counts and the global clustering coefficient
    3·triangles / wedges.

    Triangle enumeration is the oriented two-hop join — e₁(a,b) ⋈
    e₂(b,c) builds wedges, e₃(a,c) closes them — which counts each
    triangle exactly once because a < b < c by construction. The edge
    relation is persisted (three join references). At web scale the
    orientation should be by DEGREE (low-degree endpoint first) rather
    than id: that bounds per-vertex wedge fan-out by O(√m) arboricity
    instead of hot-vertex degree² — same plan, different orientation
    key. Wedges come from the degree aggregate alone (Σ d·(d−1)/2),
    never enumerated.
    """
    e = pin(
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    counts = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges"),
    )
    e1 = e.select(F.col("a"), F.col("b"))
    e2 = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    tri = (
        e1.join(e2, "b")
        .join(e3, (F.col("a") == F.col("ta")) & (F.col("c") == F.col("tc")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        counts.crossJoin(tri)
        .crossJoin(n_edges)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            (
                3 * F.col("n_triangles").cast("double")
                / F.col("n_wedges")
            ).alias("clustering_coeff"),
        )
    )


def kcore_peel(edges: DataFrame, k: int, rounds: int = 3) -> DataFrame:
    """Fixed-round k-core peeling on the undirected view of a
    ``(src, dst)`` edge list: each round drops every node whose CURRENT
    degree is below k, along with its incident edges (which lowers its
    neighbors' degrees — the cascade that defines the k-core). After
    enough rounds the edge set is the exact k-core; a bounded round
    count is the production form (full convergence is a loop-until-fixpoint over the
    same plan, checkpointing every few rounds).

    Per round: one degree aggregate + two semi-joins of the surviving
    edge list against the (node-sized) survivor set. Returns the
    surviving nodes with their end-of-peel degrees.

    EAGER: building the result executes Spark jobs (one ``.count()``
    per round caps recomputation at linear; lazy chaining would cost
    2^rounds). The returned node-sized aggregate is persisted and
    materialized so every intermediate (the undirected edge view and
    each round's survivor edges) can be released before returning —
    repeated calls do not accumulate executor storage. Callers may
    ``unpersist()`` the result when done.
    """
    und = (
        edges.select(F.col("src").alias("node"), F.col("dst").alias("nbr"))
        .union(edges.select(F.col("dst").alias("node"), F.col("src").alias("nbr")))
        .distinct()
        .persist()
    )
    alive = und
    prev = None
    prev_cnt = None
    for _ in range(rounds):
        deg = alive.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("node")
        # Each round references `alive` TWICE (degree agg + join base):
        # left lazy, round r recomputes round r-1 twice — 2^rounds cost.
        # Persist + materialize caps every round at one real evaluation
        # (the distributed analogue of the textbook loop's "new array
        # per pass"; at many-round scale, localCheckpoint instead).
        nxt = (
            alive.join(keep, "node", "left_semi")
            .join(keep.withColumnRenamed("node", "nbr"), "nbr", "left_semi")
            .persist()
        )
        cnt = nxt.count()
        if prev is not None:
            prev.unpersist()
        prev = nxt
        alive = nxt
        # Peeling only ever removes rows, so an unchanged edge count
        # means nxt == alive exactly — every remaining round is the
        # identity. Stopping here returns the same relation the full
        # fixed-round unrolling (and its CTE oracle) would.
        if cnt == prev_cnt:
            break
        prev_cnt = cnt
    out = pin(alive.groupBy("node").agg(F.count(F.lit(1)).alias("degree")))
    out.count()
    # The result is materialized from the cached chain; release it all
    # so nothing but the node-sized answer stays pinned.
    if prev is not None:
        prev.unpersist()
    und.unpersist()
    return out


def bfs_hops(edges: DataFrame, seeds: list, max_hops: int = 3) -> DataFrame:
    """Fixed-depth BFS on the undirected view of a ``(src, dst)`` edge
    list: (node, hops) with the
    MINIMUM hop distance from any seed, for hops ≤ max_hops.

    Each level is one join of the (node-sized) frontier against the
    edge relation plus an anti-join against the visited set — the
    standard distributed BFS level-step. The edge relation is shuffled
    on the join key once and persisted; levels reuse it. Fixed depth is
    the production form for neighborhood queries (fraud rings, related
    items, blast-radius analysis); full-graph shortest paths would
    iterate the same step to fixpoint with checkpointing.

    EAGER: building the result executes Spark jobs (one ``.count()``
    per level keeps the recursion linear instead of 2^depth). The
    returned (node, hops) relation is persisted and materialized so
    the edge view and every level frontier can be released before
    returning. Callers may ``unpersist()`` the result when done.
    """
    spark = edges.sparkSession
    und = (
        edges.select(F.col("src").alias("node"), F.col("dst").alias("nbr"))
        .union(edges.select(F.col("dst").alias("node"), F.col("src").alias("nbr")))
        .distinct()
        .repartition("node")
        .persist()
    )
    visited = spark.createDataFrame(
        [(s, 0) for s in seeds], ["node", "hops"]
    )
    frontier = visited.select("node")
    frontiers: list[DataFrame] = []
    for level in range(1, max_hops + 1):
        # `visited` is referenced twice per level (anti-join + union):
        # persisting each level's frontier keeps the recursion linear
        # instead of 2^depth recomputation of earlier levels.
        nxt = (
            und.join(frontier, "node", "left_semi")
            .select(F.col("nbr").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .persist()
        )
        cnt = nxt.count()
        frontiers.append(nxt)
        if cnt == 0:
            # Empty frontier: every later level is empty too — the
            # traversal has reached its fixpoint before max_hops.
            break
        visited = visited.union(
            nxt.select("node", F.lit(level).alias("hops"))
        )
        frontier = nxt
    out = pin(visited)
    out.count()
    # Materialized: release the edge view and every level frontier so
    # deep traversals / repeated calls don't pin executor storage.
    for fr in frontiers:
        fr.unpersist()
    und.unpersist()
    return out


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Hash-min connected components on the undirected view: every
    node's label converges to the MINIMUM node id in its component —
    the canonical cluster-canonicalization step (duplicate clusters
    from near-dup pairs, identity resolution from linkage pairs,
    fraud rings from shared-attribute edges).

    Iteration: label(v) <- min(label(v), min over neighbors' labels) —
    pure min-propagation, exact after diameter(G) rounds and detected
    by an unchanged-label count. Dedup/linkage graphs have tiny
    diameters (clusters are near-cliques), so the loop terminates in
    2-3 rounds (15 at most); for adversarial long-path graphs the same loop takes
    the large-star/small-star (Kiveris et al.) pointer-doubling form —
    documented here as the scale escape hatch, not implemented because
    every consumer graph in this engine is short-diameter.

    Per round: one join of the static (once-shuffled, persisted) edge
    relation against the node-sized label relation + one min aggregate
    + one changed-count. Labels are exact min-reductions — associative,
    partitioning-independent, bit-identical to the oracle's closure.

    EAGER: executes one Spark job per round (the count that caps
    recomputation and detects the fixpoint). The returned (node, comp)
    relation is persisted and materialized; intermediates are released
    before returning. Callers may ``unpersist()`` the result; it is
    also pinned (``ranks.pin``), so ``unpersist_all()`` releases it.
    """
    und = (
        edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr"))
        .union(edges.select(F.col(dst).alias("node"), F.col(src).alias("nbr")))
        .distinct()
        .repartition("nbr")
        .persist()
    )
    labels = (
        und.select("node")
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .persist()
    )
    labels.count()
    for _ in range(15):
        nbr_min = (
            und.join(
                labels.select(
                    F.col("node").alias("nbr"), F.col("comp").alias("nbr_comp")
                ),
                "nbr",
            )
            .groupBy("node")
            .agg(F.min("nbr_comp").alias("m"))
        )
        nxt = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("m"), F.col("comp"))
                ).alias("comp"),
            )
            .persist()
        )
        changed = (
            nxt.join(labels.withColumnRenamed("comp", "old"), "node")
            .filter(F.col("comp") != F.col("old"))
            .count()
        )
        labels.unpersist()
        labels = nxt
        if changed == 0:
            break
    # `labels` is already cached by the loop; pin registers it (a
    # repeat persist at the same level is a no-op in Spark).
    out = pin(labels)
    und.unpersist()
    return out
