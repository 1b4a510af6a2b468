"""Companion to ab_recs_repart.py: the SAME repartition-before-distinct
flip applies to the other two consumers of the basket `op` relation
(market_basket_pairs, recs_item_item_cosine — identical distinct +
self-join head). This times the pre-flip form (reconstructed inline:
no repartition, distinct exchanges on both columns) against the
flipped registered form, with exact-equality assertions, so each
touched query has its own before/after numbers.

Usage: python tools/ab.py basket_repart [rounds]
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators.ranks import pin


def _op_old(spark, sf_dir):
    from wikipedia_data_pipeline_spark.sources.tables import load_table

    return pin(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )


def market_basket_pairs_old(spark, sf_dir):
    op = _op_old(spark, sf_dir)
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


def recs_item_item_cosine_old(spark, sf_dir):
    op = _op_old(spark, sf_dir)
    ic = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    a = op.alias("a")
    b = op.alias("b")
    co = (
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


ARTIFACT = "AB_BASKET_REPART_r14.json"
PAIRS = [
    ("market_basket_pairs", market_basket_pairs_old),
    ("recs_item_item_cosine", recs_item_item_cosine_old),
]
