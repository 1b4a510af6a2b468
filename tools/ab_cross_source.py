"""Interleaved A/B: registered dedup_cross_source_matrix vs a
pinned-intermediates form (guide §5 — the multiply-referenced-
intermediate rule).

The honest r14 probe (post persist-tracking) read 18.1 s at 100× —
the r13 4.15 s row was almost entirely cache-served. Reference
counting in the registered DAG: `tmap` (reps ⋈ ts — BOTH are full
groupBys over 500k full texts) feeds FOUR subtrees (a, b, tsa, tsb),
and `lab` (the union of cross-text and within-text weights) is
evaluated TWICE (the n_total aggregate + the final group-by), so the
text-collapse work runs up to 8 times per execution (Spark does no
cross-subtree CSE).

Candidate:
1. pin `tmap` — text-count-sized, no text payload;
2. pin the GROUPED matrix (≤ |sources|² rows) and
   derive n_total = Σ n_pairs from it (the quantile-summary N trick),
   so `lab` — and the prefix-filter pair join under it — runs once.

Same integers, same output (Σ of per-group sums == the global sum).

Usage: python tools/ab.py cross_source [rounds]
Flip iff >20% at the 100x replica.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators.ranks import pin

_J = 0.5


def cross_source_pinned(spark, sf_dir):
    from wikipedia_data_pipeline_spark.operators import dedup as D
    from wikipedia_data_pipeline_spark.queries.dedup_queries import (
        JACCARD_THRESHOLD,
    )
    from wikipedia_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    ts = docs.groupBy("text", "source").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    reps = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    has_sh = F.size(F.split("text", " ")) >= 3
    pairs = D.prefix_filter_pairs(
        reps.select("doc_id", "text"), JACCARD_THRESHOLD
    )
    tmap = pin(
        reps.join(ts, "text")
        .select(
            F.col("doc_id").alias("t_id"), "source", "cnt",
            has_sh.alias("ok"),
        )
    )
    a = tmap.select(
        F.col("t_id").alias("doc_a"),
        F.col("source").alias("src_a"),
        F.col("cnt").alias("cnt_a"),
    )
    b = tmap.select(
        F.col("t_id").alias("doc_b"),
        F.col("source").alias("src_b"),
        F.col("cnt").alias("cnt_b"),
    )
    cross_text = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_lo"),
            F.greatest("src_a", "src_b").alias("source_hi"),
            (F.col("src_a") != F.col("src_b")).alias("cross_source"),
            (F.col("cnt_a") * F.col("cnt_b")).alias("w"),
            F.round(F.col("jaccard") * 1_000_000_000)
            .cast("long")
            .alias("j_nano"),
        )
    )
    tsa = tmap.filter("ok").select(
        "t_id", F.col("source").alias("src_a"), F.col("cnt").alias("cnt_a")
    )
    tsb = tmap.filter("ok").select(
        "t_id", F.col("source").alias("src_b"), F.col("cnt").alias("cnt_b")
    )
    within = (
        tsa.join(tsb, "t_id")
        .filter(F.col("src_a") <= F.col("src_b"))
        .select(
            F.col("src_a").alias("source_lo"),
            F.col("src_b").alias("source_hi"),
            (F.col("src_a") != F.col("src_b")).alias("cross_source"),
            F.when(
                F.col("src_a") == F.col("src_b"),
                F.col("cnt_a") * (F.col("cnt_a") - 1) / 2,
            )
            .otherwise(F.col("cnt_a") * F.col("cnt_b"))
            .cast("long")
            .alias("w"),
            F.lit(1_000_000_000).cast("long").alias("j_nano"),
        )
        .filter(F.col("w") > 0)
    )
    lab = cross_text.unionByName(within)
    grouped = pin(
        lab.groupBy("source_lo", "source_hi", "cross_source")
        .agg(
            F.sum("w").cast("long").alias("n_pairs"),
            F.sum(F.col("w") * F.col("j_nano"))
            .cast("long")
            .alias("j_nano_sum"),
        )
    )
    tot = grouped.agg(F.sum("n_pairs").cast("long").alias("n_total"))
    return (
        grouped.crossJoin(F.broadcast(tot))
        .select(
            "source_lo",
            "source_hi",
            "cross_source",
            "n_pairs",
            (
                F.col("j_nano_sum").cast("double")
                / (F.col("n_pairs") * F.lit(1_000_000_000.0))
            ).alias("mean_jaccard"),
            (
                F.col("n_pairs").cast("double")
                / F.col("n_total").cast("double")
            ).alias("pair_share"),
        )
        .orderBy(F.desc("n_pairs"), F.asc("source_lo"), F.asc("source_hi"))
    )


ARTIFACT = "AB_CROSS_SOURCE_r14.json"
PAIRS = [("dedup_cross_source_matrix", cross_source_pinned)]
