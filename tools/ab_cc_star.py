"""Interleaved A/B: registered dedup_connected_components vs a
group-linear "star" edge generation (guide §1.2 — fix the algorithm).

The registered form feeds ``G.connected_components`` the FULL
quadratic pair contract from ``minhash_lsh_pairs``: a byte-identical
duplicate group of k docs contributes C(k,2) within-group pairs, and a
verified rep-level pair between groups of sizes k_a, k_b expands to
k_a*k_b member pairs. Components only need CONNECTIVITY, so the same
node set and the same components are produced by

  edges = verified rep-level pairs  UNION  per-group stars
          (rep=min(members) -> member, for groups with >= 2 members
           and a non-empty shingle set — exactly the registered
           within-group filter jaccard(hsh, hsh) >= threshold)

which is group-LINEAR: k-1 star edges instead of C(k,2), one rep-level
edge instead of k_a*k_b. Node-set equality: members of a group appear
in the quadratic pair relation iff (size >= 2 and shingles non-empty)
or their rep has a verified cross pair — both cases covered by the
star/rep edges under identical filters (jaccard(empty, empty) = 0
drops both forms). comp_id = min over the same component, comp_size =
count over the same node set => bit-identical output.

The candidate also materializes the edge relation (persist + count)
before connected_components' undirected union, so the LSH verify
lineage runs once, not once per union branch.

Usage: python tools/ab.py cc_star [rounds]
Flip iff >20% at the 100x replica.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators.ranks import pin

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


def cc_star_variant(spark, sf_dir):
    from wikipedia_data_pipeline_spark.operators import dedup as D
    from wikipedia_data_pipeline_spark.operators import graph as G
    from wikipedia_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    groups = pin(
        docs.groupBy("text")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.sort_array(F.collect_list("doc_id")).alias("members"),
        )
    )
    reps = groups.select("doc_id", "text")
    sh = pin(D.hashed_shingles(reps))
    cands = D.lsh_candidate_pairs(sh)
    rep_pairs = D.verify_pairs_jaccard(cands, sh, _THRESHOLD).select(
        "doc_a", "doc_b"
    )
    stars = (
        groups.filter(F.size("members") >= 2)
        .join(sh, "doc_id")
        .withColumn("j", D.jaccard(F.col("hsh"), F.col("hsh")))
        .filter(F.col("j") >= _THRESHOLD)
        .select(
            F.col("doc_id").alias("doc_a"),
            F.explode("members").alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
    )
    # groups/sh are pinned like the registered operator's, so the
    # timing loop releases both arms' caches alike between runs.
    edges = rep_pairs.unionByName(stars).persist()
    edges.count()  # materialize once: CC's undirected union reads cache
    cc = G.connected_components(edges, src="doc_a", dst="doc_b")
    edges.unpersist()
    sizes = cc.groupBy("comp").agg(F.count(F.lit(1)).alias("comp_size"))
    return cc.join(sizes, "comp").select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("comp_id"),
        F.col("comp_size").cast("long").alias("comp_size"),
    )


ARTIFACT = "AB_CC_STAR_r13.json"
PAIRS = [
    ("dedup_connected_components", cc_quadratic),
    ("dedup_connected_components", cc_star_variant),
]
