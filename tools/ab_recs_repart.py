"""Interleaved A/B: registered recs_catalog_coverage vs an
orderkey-pre-partitioned form (guide §2.4, r13 verdict #3).

Registered shape: op = distinct (l_orderkey, l_partkey) persisted; the
distinct exchanges on BOTH columns, so the cached relation is hash
(ok, pk)-partitioned — the basket self-join on l_orderkey then
re-exchanges the 60M-row relation (one physical exchange + reuse).

Candidate: repartition("l_orderkey") BEFORE the distinct. Hash
partitioning on a subset of the grouping keys satisfies the distinct's
clustering requirement, so the distinct aggregates ONCE, co-located,
instead of partial-agg -> Exchange(ok,pk) -> final-agg. On ~60M
near-unique pairs the map-side partial aggregation reduces nothing —
each scan task builds (and spills) a giant hash table purely as
overhead — so replacing it with a plain shuffle of the raw 16-byte
rows is the whole win (measured mechanism; the executed plans show
the join exchanges above the cache are UNCHANGED — Spark 4 applies
AQE inside cached plans and does not expose their partitioning to the
outer join). Same relation, same rows.

Usage: python tools/ab.py recs_repart [rounds]
Flip iff >20% at the 100x replica.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators.ranks import pin


def recs_repart_variant(spark, sf_dir):
    from pyspark.sql import Window

    from wikipedia_data_pipeline_spark.sources.tables import load_table

    op = pin(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition("l_orderkey")
        .distinct()
    )
    ic = op.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a, b = op.alias("a"), op.alias("b")
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
    return coverage_panel(rec, n_items)


def coverage_panel(rec, n_items):
    """The registered tail: one row of coverage and popularity-bias
    ratios from the recommended-item and catalog aggregates."""
    avg_rec = F.col("pop_rec_w").cast("double") / F.col("rec_slots").cast(
        "double"
    )
    avg_cat = F.col("pop_all").cast("double") / F.col("n_items").cast(
        "double"
    )
    return (
        n_items.crossJoin(F.broadcast(rec))
        .select(
            "n_items",
            "n_recommended",
            (
                F.col("n_recommended").cast("double")
                / F.col("n_items").cast("double")
            ).alias("coverage"),
            "rec_slots",
            "max_item_freq",
            avg_rec.alias("avg_pop_recommended"),
            avg_cat.alias("avg_pop_catalog"),
            (avg_rec / avg_cat).alias("popularity_lift"),
        )
    )


ARTIFACT = "AB_RECS_REPART_r14.json"
PAIRS = [("recs_catalog_coverage", recs_repart_variant)]
