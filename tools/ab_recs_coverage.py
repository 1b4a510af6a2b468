"""Interleaved A/B: recs_catalog_coverage half-pair + symmetrize
(registered, round 12) vs the round-11 pa ≠ pb self-join form (r11
verdict item #4 — the 21.4 s probe row). The DuckDB twin of this query
is timed by tools/scale_probe.py.

Cosine is symmetric, so the r12 form aggregates per-basket pairs once
per UNORDERED pair (pa < pb) and emits both orientations from the
support-filtered post-agg relation — halving the heaviest shuffle.
Interleaved N,O,N,O,N,O in one process after warming both, per the
AB_KMV_r11 discipline; decision rule: keep iff best-of-3 beats the old
form by more than the 20% noise band.

Both forms end in the same one-row coverage / popularity-lift tail
(ab_recs_repart.coverage_panel), so they return the same rows.

Usage: python tools/ab.py recs_coverage [rounds]
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tools.ab_recs_repart import coverage_panel
from wikipedia_data_pipeline_spark.operators.ranks import pin


def coverage_unordered_baseline(spark, sf_dir):
    """Round-11 registered form (pa ≠ pb basket self-join; both
    orientations shuffled into the pair agg) — A/B baseline only."""
    from pyspark.sql import Window

    from wikipedia_data_pipeline_spark.sources.tables import load_table

    op = pin(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    ic = op.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a, b = op.alias("a"), op.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 3)
    )
    ia = ic.select(F.col("l_partkey").alias("pa"), F.col("n").alias("na"))
    ib = ic.select(F.col("l_partkey").alias("pb"), F.col("n").alias("nb"))
    sim = (
        co.join(F.broadcast(ia), "pa")
        .join(F.broadcast(ib), "pb")
        .select(
            "pa",
            "pb",
            (F.col("c") / F.sqrt(F.col("na").cast("double") * F.col("nb"))).alias(
                "cosine"
            ),
        )
    )
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
    rec = freq.join(ic.withColumnRenamed("l_partkey", "pb"), "pb").agg(
        F.count(F.lit(1)).cast("long").alias("n_recommended"),
        F.sum(F.col("n") * F.col("f")).cast("long").alias("pop_rec_w"),
        F.sum("f").cast("long").alias("rec_slots"),
        F.max("f").cast("long").alias("max_item_freq"),
    )
    return coverage_panel(rec, n_items)


ARTIFACT = "AB_RECS_r12.json"
PAIRS = [("recs_catalog_coverage", coverage_unordered_baseline)]
