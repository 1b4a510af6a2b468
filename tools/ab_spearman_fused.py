"""Interleaved A/B: ml_eval_spearman_rho registered (two independent
rank scans + event_id join) vs a FUSED form that chains the second
ordered_scan over the first scan's output, carrying r1 through — no
rank join at all (r11 verdict perf-weak list: 9.6 s / 3.2x at 100x,
"worth one fused-block attempt").

Same output, same oracle. Decision rule: flip iff the fused best-of-3
beats the registered best-of-3 by more than the 20% noise band.

Usage: python tools/ab.py spearman_fused [rounds]
"""

from __future__ import annotations

from pyspark.sql import functions as F


def spearman_fused(spark, sf_dir):
    """Candidate: r2's scan rides r1's output — join-free."""
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan
    from wikipedia_data_pipeline_spark.sources.tables import load_table

    s = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("value").alias("x"),
        F.length("props").cast("long").alias("y"),
    )
    rx = ordered_scan(s, ["x", "event_id"], rank_col="r1")
    rxy = ordered_scan(rx, ["y", "event_id"], rank_col="r2")
    d = rxy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            (F.col("r1") - F.col("r2")).cast("decimal(38,0)")
            * (F.col("r1") - F.col("r2"))
        )
        .cast("decimal(38,0)")
        .alias("sum_d2"),
    )
    n_d = F.col("n").cast("double")
    rho = F.when(
        F.col("n") > 1,
        F.lit(1.0)
        - (F.lit(6).cast("decimal(38,0)") * F.col("sum_d2")).cast("double")
        / (n_d * (n_d * n_d - F.lit(1.0))),
    ).otherwise(F.lit(0.0))
    return d.select(
        "n",
        F.col("sum_d2").cast("double").alias("sum_d2"),
        rho.alias("spearman_rho"),
    )


ARTIFACT = "AB_SPEARMAN_r12.json"
PAIRS = [("ml_eval_spearman_rho", spearman_fused)]
