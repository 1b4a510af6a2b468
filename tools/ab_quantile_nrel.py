"""Interleaved A/B: registered sketch_quantile_summary_events vs the
summary-derived-N form (r13 verdict #7 — carried two rounds "on
watch" at 6.49 s / 3.17x).

Registered shape makes THREE passes over the 10M-row fact: (1) the
per-block sort + stride that builds the summary, (2) nrel =
ev.count() for the target ranks, (3) the true-rank audit BNLJ. But
the summary's weights sum to the EXACT row count by construction
(every stride row carries s, the block's last row carries m % s), so
nrel can be read off the summary for free. Candidate: pin the
summary and derive n = sum(weight) from it — 3 fact passes
become 2; the per-block sort (the irreducible, result-pinned cost:
any change to blocking/striding changes the registered rows) and the
audit scan remain.

A GK/KLL merge-tree was considered for the "on watch" item and is
structurally ruled out rather than timed: the oracle replays THIS
summary construction (block striding) bit-for-bit, and the output's
est_value/est_id rows are whichever summary points straddle the
target ranks — a different compaction keeps different points and
returns different estimates. Not an optimization, a different query.

Usage: python tools/ab.py quantile_nrel [rounds]
Flip iff >20% at the 100x replica.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators.ranks import pin


def quantile_nrel_variant(spark, sf_dir):
    from wikipedia_data_pipeline_spark.operators import profiling as P
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan
    from wikipedia_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    summary = pin(P.quantile_summary(ev, "value", "event_id", blocks=32, eps=0.02))
    scan = ordered_scan(
        summary, ["value", "event_id"], running=[("cum", "weight", "sum")]
    )
    # weights sum to the exact row count by construction — no second
    # fact scan for N
    nrel = summary.agg(F.sum("weight").cast("long").alias("n"))
    tgt = (
        spark.range(1)
        .select(
            F.explode(
                F.array(*[F.lit(p) for p in
                          (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)])
            ).alias("p")
        )
        .crossJoin(F.broadcast(nrel))
        .withColumn(
            "target_rank", F.ceil(F.col("p") * F.col("n")).cast("long")
        )
    )
    ecum = (
        scan.join(F.broadcast(tgt), F.col("cum") >= F.col("target_rank"))
        .groupBy("p", "target_rank", "n")
        .agg(F.min("cum").alias("cum"))
    )
    est = scan.join(F.broadcast(ecum), "cum").select(
        "p",
        "target_rank",
        "n",
        F.col("value").alias("est_value"),
        F.col("event_id").alias("est_id"),
    )
    tr = (
        ev.join(
            F.broadcast(est),
            (F.col("value") < F.col("est_value"))
            | (
                (F.col("value") == F.col("est_value"))
                & (F.col("event_id") <= F.col("est_id"))
            ),
        )
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("true_rank"))
    )
    return est.join(tr, "p").select(
        "p",
        "est_value",
        "target_rank",
        "true_rank",
        F.abs(F.col("true_rank") - F.col("target_rank")).alias("rank_err"),
        F.col("n").alias("n_rows"),
    )


ARTIFACT = "AB_QUANTILE_NREL_r14.json"
PAIRS = [("sketch_quantile_summary_events", quantile_nrel_variant)]
