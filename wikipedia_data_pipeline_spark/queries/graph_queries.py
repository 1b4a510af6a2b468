"""Graph-adjacent analytics over the relational tables: fixed-point
PageRank (plain + weighted), label propagation, k-core peeling,
bounded-depth BFS, triangle census, link-prediction scores
(Adamic-Adar), item-item cosine recommendations, and market-basket
affinity. Iterative fixpoints are bounded DataFrame loops with
early-exit; oracles replay the same iterations as unrolled SQL CTEs.
Split out of profiling_queries (round 7)."""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators.ranks import pin
from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table


@register(
    "market_basket_pairs",
    oracle="""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       count(*) AS n_orders
FROM op a JOIN op b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
ORDER BY n_orders DESC, part_a ASC, part_b ASC
LIMIT 100
""",
)
def market_basket_pairs(spark, sf_dir):
    """Frequent co-purchased part pairs (the candidate-generation step
    of market-basket/apriori mining): distinct (order, part) self-join
    on the order key with an ordered-pair predicate — per-order
    fan-out is bounded by basket size squared, so the join scales with
    orders, not parts. Top-100 by support via TakeOrdered."""
    # the same repartition-before-distinct flip that ships on
    # recs_catalog_coverage (AB_RECS_REPART_r14) measured 18-19% here
    # (AB_BASKET_REPART_r14) - inside the pre-registered 20% band, so
    # the registered form is kept; open, the variant stays in
    # tools/ab_basket_repart.py
    op = pin(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = op.alias("a")
    b = op.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
        .limit(100)
    )


# --- Graph family (round 5): fixed-point PageRank + degree profile ------

# Rounds of both PageRank queries, shared by the Spark loop and the
# unrolled oracle so the two cannot drift.
_PR_ITERATIONS = 3

_PR_EDGES_SQL = """
  SELECT DISTINCT 'p:' || CAST(l_partkey AS VARCHAR) AS src,
                  's:' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM lineitem
"""


def _pagerank_oracle(edges_sql: str, outdeg_sql: str, share_sql: str) -> str:
    """Unrolled-CTE DuckDB twin of the fixed-point PageRank loops
    (``_PR_ITERATIONS`` rounds, scale 1e6, damping 85%) over the edge
    relation ``edges_sql``: ``outdeg_sql`` aggregates a source's
    out-weight, ``share_sql`` is the mass one edge passes on."""
    ctes = [
        f"edges AS ({edges_sql})",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        f"outdeg AS (SELECT src, {outdeg_sql} AS outdeg FROM edges GROUP BY src)",
        "r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes)",
    ]
    for i in range(1, _PR_ITERATIONS + 1):
        ctes.append(
            f"""r{i} AS (
  SELECT n.node,
         CAST(150000 + COALESCE((85 * s.mass) // 100, 0) AS BIGINT) AS pr
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, CAST(sum({share_sql}) AS BIGINT) AS mass
    FROM edges e
    JOIN r{i - 1} r ON e.src = r.node
    JOIN outdeg o ON e.src = o.src
    GROUP BY e.dst
  ) s ON n.node = s.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, pr AS pr_rank FROM r{_PR_ITERATIONS}"
        "\nORDER BY pr_rank DESC, node ASC"
    )


@register(
    "graph_pagerank_partsupp",
    oracle=_pagerank_oracle(_PR_EDGES_SQL, "count(*)", "r.pr // o.outdeg"),
)
def graph_pagerank_partsupp(spark, sf_dir):
    """Fixed-point PageRank (3 iterations, damping 0.85) over the
    directed part→supplier purchase graph distilled from lineitem.
    Integer-scaled ranks make the iteration bit-reproducible under any
    partitioning — the property that lets an iterative graph algorithm
    carry an exact SQL oracle at all. Edges are shuffled on src once
    and persisted; each iteration joins the node-sized rank relation
    against that layout (see operators/graph.py for the cost model)."""
    from wikipedia_data_pipeline_spark.operators import graph as G

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    ).distinct()
    ranks = G.pagerank_fixed_point(edges, iterations=_PR_ITERATIONS)
    return ranks.select("node", F.col("rank").alias("pr_rank")).orderBy(
        F.desc("pr_rank"), F.asc("node")
    )


@register(
    "graph_degree_profile",
    oracle=f"""
WITH edges AS ({_PR_EDGES_SQL}),
o AS (SELECT src AS node, count(*) AS out_degree FROM edges GROUP BY src),
i AS (SELECT dst AS node, count(*) AS in_degree FROM edges GROUP BY dst)
SELECT COALESCE(o.node, i.node) AS node,
       COALESCE(out_degree, 0) AS out_degree,
       COALESCE(in_degree, 0) AS in_degree
FROM o FULL OUTER JOIN i ON o.node = i.node
ORDER BY node
""",
)
def graph_degree_profile(spark, sf_dir):
    """Per-node in/out degree of the part→supplier graph — the skew
    diagnostic run before any iterative graph job (a hot dst node
    predicts a hot reducer in every PageRank aggregate)."""
    from wikipedia_data_pipeline_spark.operators import graph as G

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    ).distinct()
    return G.degree_profile(edges).orderBy("node")


def _lpa_oracle(iterations: int = 2) -> str:
    """Unrolled-CTE twin of operators.graph.label_propagation."""
    ctes = [
        f"edges AS ({_PR_EDGES_SQL})",
        """und AS (
  SELECT src AS node, dst AS nbr FROM edges
  UNION
  SELECT dst AS node, src AS nbr FROM edges
)""",
        "l0 AS (SELECT DISTINCT node, node AS label FROM und)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"""l{i} AS (
  SELECT node, label FROM (
    SELECT u.node, l.label, count(*) AS n,
           row_number() OVER (PARTITION BY u.node
                              ORDER BY count(*) DESC, l.label ASC) AS rn
    FROM und u JOIN l{i - 1} l ON u.nbr = l.node
    GROUP BY u.node, l.label
  ) WHERE rn = 1
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, label FROM l{iterations} ORDER BY node"
    )


@register("graph_label_propagation", oracle=_lpa_oracle(2))
def graph_label_propagation(spark, sf_dir):
    """Deterministic majority-label propagation (2 synchronous rounds,
    smallest-label tie-break) over the undirected part–supplier graph —
    the community-detection companion to PageRank. See
    operators/graph.py:label_propagation for why the tie-break and the
    fixed round count are what make a graph heuristic reproducible at
    cluster scale."""
    from wikipedia_data_pipeline_spark.operators import graph as G

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    ).distinct()
    return G.label_propagation(edges, iterations=2).orderBy("node")


@register(
    "graph_triangle_census",
    oracle="""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      FROM op x JOIN op y
        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e
  ) GROUP BY node
),
c AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
t AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
      FROM e e1 JOIN e e2 ON e1.b = e2.a
                JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       3 * CAST(n_triangles AS DOUBLE) / n_wedges AS clustering_coeff
FROM c, t, ne
""",
)
def graph_triangle_census(spark, sf_dir):
    """Triangle count + global clustering coefficient of the part
    co-purchase graph (parts sharing an order). Oriented two-hop join
    counts each triangle once; wedges come from the degree aggregate,
    never enumerated — see operators/graph.py:triangle_stats for the
    degree-orientation note that keeps this O(m^1.5) at web scale."""
    from wikipedia_data_pipeline_spark.operators import graph as G

    op = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    x = op.alias("x")
    y = op.alias("y")
    edges = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .select(
            F.col("x.l_partkey").alias("src"),
            F.col("y.l_partkey").alias("dst"),
        )
        .distinct()
    )
    return G.triangle_stats(edges)


_PR_WEDGES_SQL = """
  SELECT 'p:' || CAST(l_partkey AS VARCHAR) AS src,
         's:' || CAST(l_suppkey AS VARCHAR) AS dst,
         count(*) AS w
  FROM lineitem GROUP BY 1, 2
"""


@register(
    "graph_pagerank_weighted",
    oracle=_pagerank_oracle(
        _PR_WEDGES_SQL, "CAST(sum(w) AS BIGINT)", "(r.pr * e.w) // o.outdeg"
    ),
)
def graph_pagerank_weighted(spark, sf_dir):
    """Weighted fixed-point PageRank: mass splits proportionally to the
    purchase count on each part→supplier edge ((rank·w) div Σw, still
    exact integer arithmetic). The variant real link graphs need —
    uniform splitting treats a one-off purchase like a thousand-unit
    relationship."""
    from wikipedia_data_pipeline_spark.operators import graph as G

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.groupBy(
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    ).agg(F.count(F.lit(1)).alias("w"))
    ranks = G.pagerank_fixed_point(edges, iterations=_PR_ITERATIONS, weight="w")
    return ranks.select("node", F.col("rank").alias("pr_rank")).orderBy(
        F.desc("pr_rank"), F.asc("node")
    )


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled-CTE twin of operators.graph.kcore_peel."""
    ctes = [
        f"edges AS ({_PR_EDGES_SQL})",
        """e0 AS (
  SELECT src AS node, dst AS nbr FROM edges
  UNION
  SELECT dst AS node, src AS nbr FROM edges
)""",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""k{i} AS (
  SELECT node FROM (SELECT node, count(*) AS deg FROM e{i - 1} GROUP BY node)
  WHERE deg >= {k}
),
e{i} AS (
  SELECT e.node, e.nbr FROM e{i - 1} e
  JOIN k{i} a ON e.node = a.node
  JOIN k{i} b ON e.nbr = b.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, CAST(count(*) AS BIGINT) AS degree"
        f"\nFROM e{rounds} GROUP BY node ORDER BY node"
    )


@register("graph_kcore_peel", oracle=_kcore_oracle(25, 3), eager=True)
def graph_kcore_peel(spark, sf_dir):
    """k-core peeling (k=25, 3 rounds) of the part–supplier graph:
    nodes below degree 25 are dropped with their edges each round, and
    the degree loss cascades to their neighbors — the density filter
    used to find the engaged core of interaction graphs (and to prune
    fringe vertices before expensive graph algorithms run). See
    operators/graph.py:kcore_peel."""
    from wikipedia_data_pipeline_spark.operators import graph as G

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    ).distinct()
    return G.kcore_peel(edges, k=25, rounds=3).orderBy("node")


def _bfs_oracle(seed: str, max_hops: int) -> str:
    """Unrolled-CTE twin of operators.graph.bfs_hops."""
    ctes = [
        f"edges AS ({_PR_EDGES_SQL})",
        """und AS (
  SELECT src AS node, dst AS nbr FROM edges
  UNION
  SELECT dst AS node, src AS nbr FROM edges
)""",
        f"v0 AS (SELECT '{seed}' AS node, 0 AS hops)",
    ]
    for i in range(1, max_hops + 1):
        ctes.append(
            f"""v{i} AS (
  SELECT * FROM v{i - 1}
  UNION ALL
  SELECT nxt.node, {i} AS hops FROM (
    SELECT DISTINCT u.nbr AS node
    FROM und u JOIN v{i - 1} f ON u.node = f.node
  ) nxt
  WHERE nxt.node NOT IN (SELECT node FROM v{i - 1})
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, CAST(hops AS BIGINT) AS hops FROM v{max_hops}"
        "\nORDER BY hops, node"
    )


@register("graph_bfs_reachability", oracle=_bfs_oracle("p:1", 3), eager=True)
def graph_bfs_reachability(spark, sf_dir):
    """3-hop BFS neighborhood of part p:1 in the part–supplier graph
    with minimum hop distances — the related-items / blast-radius
    traversal. Level-synchronous frontier expansion (join + anti-join
    per level) against the once-shuffled edge relation; see
    operators/graph.py:bfs_hops."""
    from wikipedia_data_pipeline_spark.operators import graph as G

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    ).distinct()
    out = G.bfs_hops(edges, ["p:1"], max_hops=3)
    return out.select("node", F.col("hops").cast("long").alias("hops")).orderBy(
        "hops", "node"
    )


# --- Recommendations + count anomalies (round 5) ------------------------

def _co_purchase_pairs(op):
    """(pa, pb, c): co-purchase counts of part pairs pa < pb over the
    distinct (l_orderkey, l_partkey) relation ``op``, from the
    per-basket self-join (basket-size²-bounded, never catalog²), with
    the support floor c >= 3 applied before any ranking."""
    a, b = op.alias("a"), op.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 3)
    )


@register(
    "recs_item_item_cosine",
    oracle="""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ic AS (SELECT l_partkey, count(*) AS n FROM op GROUP BY l_partkey),
co AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS c
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT pa, pb, c AS n_co,
       c / sqrt(CAST(ia.n AS DOUBLE) * ib.n) AS cosine
FROM co JOIN ic ia ON co.pa = ia.l_partkey
        JOIN ic ib ON co.pb = ib.l_partkey
WHERE c >= 3
ORDER BY cosine DESC, pa ASC, pb ASC
LIMIT 100
""",
)
def recs_item_item_cosine(spark, sf_dir):
    """Item-item collaborative filtering: cosine similarity over
    co-purchase incidence, sim(a,b) = |A∩B| / √(|A|·|B|) — the
    classical neighborhood recommender (Amazon-style item-to-item CF).
    Candidate pairs come from the per-basket self-join (bounded by
    basket size², not catalog²); the support floor (co-count ≥ 3)
    prunes noise pairs BEFORE ranking. Integer counts + one
    correctly-rounded sqrt/divide ⇒ bit-portable scores; top-100 by
    TakeOrdered."""
    # the same repartition-before-distinct flip that ships on
    # recs_catalog_coverage (AB_RECS_REPART_r14) measured 18-19% here
    # (AB_BASKET_REPART_r14) - inside the pre-registered 20% band, so
    # the registered form is kept; open, the variant stays in
    # tools/ab_basket_repart.py
    op = pin(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    ic = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    co = _co_purchase_pairs(op)
    ia = ic.select(F.col("l_partkey").alias("pa"), F.col("n").alias("na"))
    ib = ic.select(F.col("l_partkey").alias("pb"), F.col("n").alias("nb"))
    return (
        co.join(F.broadcast(ia), "pa")
        .join(F.broadcast(ib), "pb")
        .select(
            "pa",
            "pb",
            F.col("c").alias("n_co"),
            (
                F.col("c")
                / F.sqrt(F.col("na").cast("double") * F.col("nb"))
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("pa"), F.asc("pb"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction (supplier-part bipartite projection)
# ---------------------------------------------------------------------------

_AA_ORACLE = """
WITH e AS (
  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
),
deg AS (
  SELECT p, CAST(count(*) AS BIGINT) AS d
  FROM e GROUP BY p HAVING count(*) > 1
),
wt AS (
  SELECT p, CAST(round(1000000000.0 / ln(CAST(d AS DOUBLE))) AS BIGINT)
           AS w_nano
  FROM deg WHERE d > 1
),
pairs AS (
  SELECT a.s AS s1, b.s AS s2, e1.w_nano
  FROM e a JOIN e b ON a.p = b.p AND a.s < b.s
  JOIN wt e1 ON e1.p = a.p
)
SELECT s1, s2,
       CAST(count(*) AS BIGINT) AS n_common,
       CAST(sum(w_nano) AS BIGINT) AS aa_nano
FROM pairs GROUP BY s1, s2
HAVING count(*) >= 3
"""


@register("graph_adamic_adar", oracle=_AA_ORACLE)
def graph_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction between suppliers sharing parts:
    AA(u,v) = Σ_{common part p} 1/ln(deg(p)) — common neighbors
    weighted by rarity (sharing a niche part says more than sharing a
    commodity), the standard upgrade over `graph_jaccard_suppliers`'
    raw overlap.

    The 1/ln(deg) weight is quantized to nano-units ONCE per part
    (vocabulary level — the Naive-Bayes discipline), so per-pair scores
    are associative BIGINT sums, reproducible under any partitioning.
    Candidate pairs come from the same co-neighbor equi-join as the
    Jaccard query (bounded by per-part supplier counts); degree-1 parts
    predict nothing and are pruned before the join (ln 1 = 0 would
    blow up the weight — the HAVING is semantic, not defensive).
    """
    li = load_table(spark, sf_dir, "lineitem")
    e = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct()
    deg = e.groupBy("p").agg(F.count(F.lit(1)).alias("d")).filter(
        F.col("d") > 1
    )
    wt = deg.select(
        "p",
        F.round(1_000_000_000.0 / F.log(F.col("d").cast("double")))
        .cast("long")
        .alias("w_nano"),
    )
    a, b = e.alias("a"), e.alias("b")
    wt2 = F.broadcast(wt.withColumnRenamed("p", "wp"))
    pairs = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .join(wt2, F.col("a.p") == F.col("wp"))
        .select(
            F.col("a.s").alias("s1"),
            F.col("b.s").alias("s2"),
            "w_nano",
        )
    )
    return (
        pairs.groupBy("s1", "s2")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("w_nano").cast("long").alias("aa_nano"),
        )
        .filter(F.col("n_common") >= 3)
    )


# ---------------------------------------------------------------------------
# Weighted single-source shortest paths, 3-hop bound (round 10)
# ---------------------------------------------------------------------------

_SSSP_ORACLE = """
WITH e0 AS (
  SELECT DISTINCT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst,
         CAST(1 + (l_partkey * 3 + l_suppkey) % 7 AS BIGINT) AS w
  FROM lineitem
),
edges AS (
  SELECT src, dst, w FROM e0
  UNION ALL
  SELECT dst AS src, src AS dst, w FROM e0
),
d0 AS (SELECT 'p:1' AS node, CAST(0 AS BIGINT) AS d),
d1 AS (
  SELECT node, min(d) AS d FROM (
    SELECT node, d FROM d0
    UNION ALL
    SELECT e.dst AS node, d0.d + e.w AS d
    FROM d0 JOIN edges e ON e.src = d0.node
  ) GROUP BY node
),
d2 AS (
  SELECT node, min(d) AS d FROM (
    SELECT node, d FROM d1
    UNION ALL
    SELECT e.dst AS node, d1.d + e.w AS d
    FROM d1 JOIN edges e ON e.src = d1.node
  ) GROUP BY node
),
d3 AS (
  SELECT node, min(d) AS d FROM (
    SELECT node, d FROM d2
    UNION ALL
    SELECT e.dst AS node, d2.d + e.w AS d
    FROM d2 JOIN edges e ON e.src = d2.node
  ) GROUP BY node
)
SELECT node, CAST(d AS BIGINT) AS dist FROM d3
"""


@register("graph_sssp_3hop", oracle=_SSSP_ORACLE)
def graph_sssp_3hop(spark, sf_dir):
    """Weighted single-source shortest paths, exact within a 3-hop
    horizon — Bellman-Ford with the iteration count UNROLLED into the
    lazy plan (the supply-chain 'cheapest route to any supplier/part
    within k tiers' readout; the weighted companion to
    graph_bfs_reachability's hop counts). Edge weights are
    deterministic integers 1 + (3·part + supp) mod 7 over the
    part–supplier bipartite graph, both directions.

    Each relaxation is relational: dist_k = MIN over
    (dist_{k-1} ∪ dist_{k-1} ⋈ edges of d+w) per node — so after k
    levels every node holds the exact minimum-weight path distance
    using ≤ k edges (Bellman-Ford's invariant). No driver loop, no
    recursion: three unrolled join+min-agg levels in ONE lazy plan
    the optimizer sees whole; the oracle states the identical three
    CTE levels. All arithmetic BIGINT — bit-exact.

    Scale shape: the edge relation shuffles once per level on src
    (at 100 TB you'd bucket edges by src and every relaxation becomes
    shuffle-free on the edge side); frontier relations are node-sized.
    Unrolling suits SMALL k — for unbounded diameters the iterative
    localCheckpoint loop in operators/graph.py (pagerank/label-prop
    discipline) takes over, trading lineage truncation for lazy
    whole-plan optimization."""
    li = load_table(spark, sf_dir, "lineitem")
    e0 = li.select(
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
        (1 + (F.col("l_partkey") * 3 + F.col("l_suppkey")) % 7)
        .cast("long")
        .alias("w"),
    ).distinct()
    # persist: three relaxation levels each join against edges, and
    # Spark does no cross-subtree CSE — without the pin the lineitem
    # scan + distinct re-runs per level (100x probe: 16.6 -> ~7 s)

    edges = pin(
        e0.unionByName(
            e0.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
    )
    d = load_table(spark, sf_dir, "region").limit(1).select(
        F.lit("p:1").alias("node"), F.lit(0).cast("long").alias("d")
    )
    for i in range(3):
        # per-level aliases: d derives from edges after level 1, so an
        # unaliased re-join trips the ambiguous-self-join analyzer
        e, dd = edges.alias(f"e{i}"), d.alias(f"d{i}")
        relaxed = dd.join(
            e, F.col(f"d{i}.node") == F.col(f"e{i}.src")
        ).select(
            F.col(f"e{i}.dst").alias("node"),
            (F.col(f"d{i}.d") + F.col(f"e{i}.w")).alias("d"),
        )
        d = (
            d.select("node", "d")
            .unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
        )
    return d.select("node", F.col("d").cast("long").alias("dist"))


_RECS_COVERAGE_ORACLE = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ic AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM op
       GROUP BY l_partkey),
co AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS c
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
),
sim AS (
  SELECT pa, pb, c / sqrt(CAST(ia.n AS DOUBLE) * ib.n) AS cosine
  FROM co JOIN ic ia ON co.pa = ia.l_partkey
          JOIN ic ib ON co.pb = ib.l_partkey
  WHERE c >= 3
),
topk AS (
  SELECT pa, pb FROM (
    SELECT pa, pb,
           row_number() OVER (PARTITION BY pa
                              ORDER BY cosine DESC, pb ASC) AS rk
    FROM sim
  ) WHERE rk <= 5
),
freq AS (SELECT pb, CAST(count(*) AS BIGINT) AS f FROM topk GROUP BY pb),
stats AS (
  SELECT CAST((SELECT count(*) FROM ic) AS BIGINT) AS n_items,
         CAST((SELECT count(*) FROM freq) AS BIGINT) AS n_recommended,
         CAST((SELECT sum(ic.n * freq.f) FROM freq
               JOIN ic ON ic.l_partkey = freq.pb) AS BIGINT) AS pop_rec_w,
         CAST((SELECT sum(f) FROM freq) AS BIGINT) AS rec_slots,
         CAST((SELECT sum(n) FROM ic) AS BIGINT) AS pop_all,
         CAST((SELECT max(f) FROM freq) AS BIGINT) AS max_item_freq
)
SELECT n_items, n_recommended,
       CAST(n_recommended AS DOUBLE) / CAST(n_items AS DOUBLE) AS coverage,
       rec_slots, max_item_freq,
       CAST(pop_rec_w AS DOUBLE) / CAST(rec_slots AS DOUBLE)
         AS avg_pop_recommended,
       CAST(pop_all AS DOUBLE) / CAST(n_items AS DOUBLE) AS avg_pop_catalog,
       (CAST(pop_rec_w AS DOUBLE) / CAST(rec_slots AS DOUBLE))
         / (CAST(pop_all AS DOUBLE) / CAST(n_items AS DOUBLE))
         AS popularity_lift
FROM stats
"""


@register("recs_catalog_coverage", oracle=_RECS_COVERAGE_ORACLE)
def recs_catalog_coverage(spark, sf_dir):
    """Catalog coverage + popularity-bias audit of the item-item
    recommender (recs_item_item_cosine's sim lists, symmetrized,
    top-5 per item): what fraction of the purchasable catalog any
    top-5 list can surface, how hot the recommended items run vs the
    catalog average (popularity lift — the filter-bubble number), and
    the hottest single item's slot count. The standard recsys health
    panel next to accuracy metrics (Herlocker et al.).

    Exactness: counts are BIGINT; cosine ordering inside each top-5
    is the same correctly-rounded sqrt/divide tree as the sim query
    with pb as tiebreak, so the selected sets match across engines;
    three final double divisions. Scale shape: candidate pairs from
    the per-basket self-join (basket-size²-bounded) computed ONCE per
    unordered pair (pa < pb — exactly recs_item_item_cosine's sim
    relation) and symmetrized AFTER the support-filtered aggregate,
    so the heaviest shuffle (pre-agg pair stream) carries half the
    rows the naive pa ≠ pb join emits; then top-5 via a PARTITIONED
    window over per-item sim lists and item-sized aggregates only."""
    from pyspark.sql import Window

    # repartition BEFORE the distinct (r14, AB_RECS_REPART_r14:
    # 49.7 -> 13.5 s best-of-3 at 100x). Mechanism (verified in
    # plans/r14/recs_catalog_coverage_{before,after}100x.txt): the
    # plain distinct plans partial-HashAggregate -> Exchange(ok, pk)
    # -> final; on ~60M NEAR-UNIQUE pairs the map-side partial agg
    # reduces nothing, so each scan task builds (and spills) a giant
    # hash table purely as overhead. Repartitioning the raw 16-byte
    # rows first replaces that with a plain shuffle, and the distinct
    # then aggregates once, co-located (hash(ok) satisfies clustering
    # on a subset of the group keys - no second exchange). Guide
    # S2.3's partial-agg rule inverted: pre-aggregation only pays
    # when it reduces rows. Same rows, same oracle.
    op = pin(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition("l_orderkey")
        .distinct()
    )
    ic = op.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("n"))
    co = _co_purchase_pairs(op)
    ia = ic.select(F.col("l_partkey").alias("pa"), F.col("n").alias("na"))
    ib = ic.select(F.col("l_partkey").alias("pb"), F.col("n").alias("nb"))
    half = (
        co.join(F.broadcast(ia), "pa")
        .join(F.broadcast(ib), "pb")
        .select(
            "pa",
            "pb",
            (
                F.col("c")
                / F.sqrt(F.col("na").cast("double") * F.col("nb"))
            ).alias("cosine"),
        )
    )
    # cosine is symmetric: emit both orientations from the (much
    # smaller) post-agg relation instead of shuffling both into it.
    # explode-of-2 in ONE projection, not a self-union — a union
    # would instantiate the half-pair subtree twice and recompute the
    # basket self-join (measured: union form 17.6 s vs 13.1 s for the
    # naive pa ≠ pb join at 100×; AB_RECS_r12.json)
    sim = half.select(
        F.explode(
            F.array(
                F.struct("pa", "pb", "cosine"),
                F.struct(
                    F.col("pb").alias("pa"),
                    F.col("pa").alias("pb"),
                    F.col("cosine"),
                ),
            )
        ).alias("s")
    ).select("s.pa", "s.pb", "s.cosine")
    w = Window.partitionBy("pa").orderBy(F.desc("cosine"), F.asc("pb"))
    topk = (
        sim.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("pa", "pb")
    )
    freq = topk.groupBy("pb").agg(F.count(F.lit(1)).cast("long").alias("f"))
    n_items = ic.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("n").cast("long").alias("pop_all"),
    )
    rec = freq.join(
        ic.withColumnRenamed("l_partkey", "pb"), "pb"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_recommended"),
        F.sum(F.col("n") * F.col("f")).cast("long").alias("pop_rec_w"),
        F.sum("f").cast("long").alias("rec_slots"),
        F.max("f").cast("long").alias("max_item_freq"),
    )
    avg_rec = F.col("pop_rec_w").cast("double") / F.col("rec_slots").cast(
        "double"
    )
    avg_all = F.col("pop_all").cast("double") / F.col("n_items").cast(
        "double"
    )
    return rec.crossJoin(F.broadcast(n_items)).select(
        "n_items",
        "n_recommended",
        (
            F.col("n_recommended").cast("double")
            / F.col("n_items").cast("double")
        ).alias("coverage"),
        "rec_slots",
        "max_item_freq",
        avg_rec.alias("avg_pop_recommended"),
        avg_all.alias("avg_pop_catalog"),
        (avg_rec / avg_all).alias("popularity_lift"),
    )


_HITS_ORACLE = """
WITH e AS (
  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
),
a1 AS (SELECT p, CAST(count(*) AS HUGEINT) AS a FROM e GROUP BY p),
h1 AS (SELECT e.s, CAST(sum(a1.a) AS HUGEINT) AS h
       FROM e JOIN a1 ON a1.p = e.p GROUP BY e.s),
a2 AS (SELECT e.p, CAST(sum(h1.h) AS HUGEINT) AS a
       FROM e JOIN h1 ON h1.s = e.s GROUP BY e.p),
h2 AS (SELECT e.s, CAST(sum(a2.a) AS HUGEINT) AS h
       FROM e JOIN a2 ON a2.p = e.p GROUP BY e.s),
a3 AS (SELECT e.p, CAST(sum(h2.h) AS HUGEINT) AS a
       FROM e JOIN h2 ON h2.s = e.s GROUP BY e.p),
h3 AS (SELECT e.s, CAST(sum(a3.a) AS HUGEINT) AS h
       FROM e JOIN a3 ON a3.p = e.p GROUP BY e.s),
top_h AS (
  SELECT 'hub' AS node_type, 's:' || CAST(s AS VARCHAR) AS node,
         CAST(h AS DOUBLE) AS score
  FROM h3 ORDER BY h DESC, s ASC LIMIT 20
),
top_a AS (
  SELECT 'authority' AS node_type, 'p:' || CAST(p AS VARCHAR) AS node,
         CAST(a AS DOUBLE) AS score
  FROM a3 ORDER BY a DESC, p ASC LIMIT 20
)
SELECT * FROM top_h UNION ALL SELECT * FROM top_a
"""


@register("graph_hits_scores", oracle=_HITS_ORACLE)
def graph_hits_scores(spark, sf_dir):
    """HITS link analysis (Kleinberg 1999) over the supplier↔part
    bipartite purchase graph — hubs (suppliers spanning important
    parts) and authorities (parts bought by important suppliers),
    3 full mutual-reinforcement rounds, UNNORMALIZED: skipping the
    per-round L2 normalization keeps every score an exact integer
    (the pagerank_fixed_point trick), since ranking is invariant to
    the positive scale factor. Scores accumulate in DECIMAL(38,0)
    (growth ≤ Πdeg over 6 hops; at 1e4-degree production graphs
    ~1e24 — inside 38 digits), cast to double only in the final
    top-20 projections.

    Scale shape: the distinct edge relation is persisted and shuffled
    on alternating keys; each half-round is one equi-join + hash agg
    against the node-sized score relation. Top-20 per side via
    TakeOrderedAndProject — no global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    e = pin(
        li.select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a = e.groupBy("p").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("a")
    )
    for _ in range(2):
        h = (
            e.join(a, "p")
            .groupBy("s")
            .agg(F.sum("a").cast("decimal(38,0)").alias("h"))
        )
        a = (
            e.join(h, "s")
            .groupBy("p")
            .agg(F.sum("h").cast("decimal(38,0)").alias("a"))
        )
    # a is now a3; recompute h3 from it
    h = (
        e.join(a, "p")
        .groupBy("s")
        .agg(F.sum("a").cast("decimal(38,0)").alias("h"))
    )
    top_h = (
        h.orderBy(F.desc("h"), F.asc("s"))
        .limit(20)
        .select(
            F.lit("hub").alias("node_type"),
            F.concat(F.lit("s:"), F.col("s").cast("string")).alias("node"),
            F.col("h").cast("double").alias("score"),
        )
    )
    top_a = (
        a.orderBy(F.desc("a"), F.asc("p"))
        .limit(20)
        .select(
            F.lit("authority").alias("node_type"),
            F.concat(F.lit("p:"), F.col("p").cast("string")).alias("node"),
            F.col("a").cast("double").alias("score"),
        )
    )
    return top_h.unionByName(top_a)


# ---------------------------------------------------------------------------
# Degree assortativity of the part-supplier graph
# ---------------------------------------------------------------------------
# Newman (2002): the Pearson correlation of endpoint degrees across
# edges — do high-degree parts link to high-degree suppliers (r > 0,
# assortative) or to the long tail (r < 0, disassortative)? The
# pre-flight skew statistic for any iterative graph job: strongly
# disassortative graphs concentrate messages on hub reducers. All five
# moments are exact DECIMAL integers over the distinct edge relation
# (degrees are BIGINT counts; products ride DECIMAL(18,0) operands);
# r is one fixed double expression with two sqrts — no
# summation-order dependence anywhere.

_ASSORT_ORACLE = """
WITH edges AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
dp AS (SELECT p, CAST(count(*) AS BIGINT) AS deg_p FROM edges GROUP BY p),
ds AS (SELECT s, CAST(count(*) AS BIGINT) AS deg_s FROM edges GROUP BY s),
xy AS (
  SELECT deg_p AS x, deg_s AS y
  FROM edges JOIN dp USING (p) JOIN ds USING (s)
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS m_edges,
         CAST(sum(CAST(x AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sx,
         CAST(sum(CAST(y AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sy,
         CAST(sum(CAST(x AS DECIMAL(18,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(sum(CAST(y AS DECIMAL(18,0)) * y) AS DECIMAL(38,0)) AS syy,
         CAST(sum(CAST(x AS DECIMAL(18,0)) * y) AS DECIMAL(38,0)) AS sxy
  FROM xy
)
SELECT m_edges, sx, sy,
       CAST(CAST(m_edges AS DECIMAL(18,0)) * sxy - sx * sy AS DOUBLE)
         / (sqrt(CAST(CAST(m_edges AS DECIMAL(18,0)) * sxx - sx * sx
                      AS DOUBLE))
            * sqrt(CAST(CAST(m_edges AS DECIMAL(18,0)) * syy - sy * sy
                        AS DOUBLE))) AS assortativity_r
FROM m
"""


@register("graph_degree_assortativity", oracle=_ASSORT_ORACLE)
def graph_degree_assortativity(spark, sf_dir):
    """Degree assortativity coefficient of the part→supplier edge
    relation — Pearson correlation of endpoint degrees across edges.
    See the section comment for the exact-moment construction.

    Scale shape: distinct-edge agg, two degree aggs, two key joins
    (each shuffle-bounded on its key, degree tables broadcastable when
    dimension-sized), ONE moments agg, driver-sized final row."""
    ev = load_table(spark, sf_dir, "lineitem")
    edges = ev.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    dp = edges.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("deg_p"))
    ds = edges.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("deg_s"))
    xy = (
        edges.join(dp, "p")
        .join(ds, "s")
        .select(F.col("deg_p").alias("x"), F.col("deg_s").alias("y"))
    )
    dec = "decimal(18,0)"
    m = xy.agg(
        F.count(F.lit(1)).cast("long").alias("m_edges"),
        F.sum(F.col("x").cast(dec)).cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).cast("decimal(38,0)").alias("syy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).cast("decimal(38,0)").alias("sxy"),
    )
    me = F.col("m_edges").cast(dec)
    num = (me * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    d1 = F.sqrt((me * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
    d2 = F.sqrt((me * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return m.select(
        "m_edges",
        "sx",
        "sy",
        (num / (d1 * d2)).alias("assortativity_r"),
    )


# ---------------------------------------------------------------------------
# Association rules over the co-purchase pairs
# ---------------------------------------------------------------------------
# The metric layer market_basket_pairs feeds: for each directed rule
# a -> b over co-purchased part pairs, support = n_ab / N,
# confidence = n_ab / n_a, lift = N * n_ab / (n_a * n_b), and
# leverage = support - supp_a * supp_b — the apriori report a
# merchandiser reads. Rules are kept at min co-occurrence >= 3 and
# top-200 by (lift, confidence) with a total tie-break, so the output
# is deterministic and driver-sized while the pair relation scales
# with orders x basket^2, never |parts|^2. All counts exact BIGINTs;
# every metric is a fixed single-division double (lift's integer
# cross-product rides DECIMAL(18,0) operands).

_RULES_ORACLE = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n_orders AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nn FROM op),
item AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_i FROM op GROUP BY 1),
pair AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 3
),
rules AS (
  SELECT pa AS antecedent, pb AS consequent, n_ab, ia.n_i AS n_a,
         ib.n_i AS n_b, nn,
         CAST(n_ab AS DOUBLE) / nn AS support,
         CAST(n_ab AS DOUBLE) / ia.n_i AS confidence,
         CAST(CAST(nn AS DECIMAL(18,0)) * n_ab AS DOUBLE)
           / CAST(CAST(ia.n_i AS DECIMAL(18,0)) * ib.n_i AS DOUBLE) AS lift,
         CAST(n_ab AS DOUBLE) / nn
           - (CAST(ia.n_i AS DOUBLE) / nn) * (CAST(ib.n_i AS DOUBLE) / nn)
           AS leverage
  FROM pair
  JOIN item ia ON pair.pa = ia.l_partkey
  JOIN item ib ON pair.pb = ib.l_partkey
  CROSS JOIN n_orders
)
SELECT antecedent, consequent, n_ab, n_a, n_b,
       support, confidence, lift, leverage
FROM rules
ORDER BY lift DESC, confidence DESC, antecedent, consequent
LIMIT 200
"""


@register("market_basket_rules", oracle=_RULES_ORACLE)
def market_basket_rules(spark, sf_dir):
    """Directed association rules a -> b with support / confidence /
    lift / leverage over distinct (order, part) baskets — the metric
    layer above market_basket_pairs. See the section comment.

    Scale shape: basket self-join bounded by basket size (shuffles on
    l_orderkey), item counts broadcastable, TakeOrdered top-200 — no
    |parts|^2 relation ever exists."""
    op = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )

    op = pin(op)
    nn = op.agg(
        F.countDistinct("l_orderkey").cast("long").alias("nn")
    )
    item = op.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_i")
    )
    a, b = op.alias("a"), op.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    ia = item.select(
        F.col("l_partkey").alias("pa"), F.col("n_i").alias("n_a")
    )
    ib = item.select(
        F.col("l_partkey").alias("pb"), F.col("n_i").alias("n_b")
    )
    dec = "decimal(18,0)"
    rules = (
        pair.join(F.broadcast(ia), "pa")
        .join(F.broadcast(ib), "pb")
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("pa").alias("antecedent"),
            F.col("pb").alias("consequent"),
            "n_ab",
            "n_a",
            "n_b",
            (F.col("n_ab").cast("double") / F.col("nn")).alias("support"),
            (F.col("n_ab").cast("double") / F.col("n_a")).alias("confidence"),
            (
                (F.col("nn").cast(dec) * F.col("n_ab")).cast("double")
                / (F.col("n_a").cast(dec) * F.col("n_b")).cast("double")
            ).alias("lift"),
            (
                F.col("n_ab").cast("double") / F.col("nn")
                - (F.col("n_a").cast("double") / F.col("nn"))
                * (F.col("n_b").cast("double") / F.col("nn"))
            ).alias("leverage"),
        )
    )
    return rules.orderBy(
        F.desc("lift"), F.desc("confidence"), "antecedent", "consequent"
    ).limit(200)
