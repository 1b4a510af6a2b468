"""Interleaved A/B: registered dedup_connected_components (group-linear
"star" edges, the r13 flip) vs its pre-flip quadratic form (guide §1.2
— fix the algorithm).

The quadratic form feeds ``G.connected_components`` the FULL pair
contract from ``minhash_lsh_pairs``: a byte-identical duplicate group
of k docs contributes C(k,2) within-group pairs, and a verified
rep-level pair between groups of sizes k_a, k_b expands to k_a*k_b
member pairs. Components only need CONNECTIVITY, so the registered
form builds

  edges = verified rep-level pairs  UNION  per-group stars
          (rep=min(members) -> member, for groups with >= 2 members
           and a non-empty shingle set)

which is group-LINEAR: k-1 star edges instead of C(k,2), one rep-level
edge instead of k_a*k_b, with bit-identical output. The decision is
row AB_CC_STAR_r13 of artifacts/ab/DECISIONS.md.

The quadratic arm stays as the repo's known super-linear case: a
detector of operators that grow faster than n log n must flag it and
not the registered form (ROADMAP item 13).

Usage: python tools/ab.py cc_star [rounds]
"""

from __future__ import annotations

from pyspark.sql import functions as F

_THRESHOLD = 0.5


def cc_quadratic(spark, sf_dir):
    """The pre-flip registered body (r12): connected components over
    the full quadratic pair contract. Self-contained here because the
    registry entry now carries the star form."""
    from wikipedia_data_pipeline_spark.operators import dedup as D
    from wikipedia_data_pipeline_spark.operators import graph as G
    from wikipedia_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, _THRESHOLD).select("doc_a", "doc_b")
    cc = G.connected_components(pairs, src="doc_a", dst="doc_b")
    sizes = cc.groupBy("comp").agg(F.count(F.lit(1)).alias("comp_size"))
    return cc.join(sizes, "comp").select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("comp_id"),
        F.col("comp_size").cast("long").alias("comp_size"),
    )


ARTIFACT = "AB_CC_STAR_r13.json"
PAIRS = [("dedup_connected_components", cc_quadratic)]
