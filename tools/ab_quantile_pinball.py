"""Interleaved A/Bs for the two rank-striding probe-watch items
(r11 verdict item #8): sketch_quantile_summary_events (6.5 s, 3.17x at
100x) and ml_eval_pinball_loss (3.16x).

Candidates, one each per the AB_KMV_r11 discipline:
  * quantile summary: the registered form counts N with a SECOND full
    fact scan (ev.count). The summary's weights sum to exactly N by
    construction, so the candidate reads N from the (persisted,
    ~1.6k-row) scan relation instead — one fact scan removed.
  * pinball: the registered form scans events three times (t0 min,
    train selection, test join). The candidate persists the projected
    4-column ev relation so train+test share one scan — the classic
    materialize-vs-rescan trade; expected to lose on a pruned parquet
    scan, measured rather than assumed.

Decision rule per query: flip iff candidate best-of-3 beats the
registered best-of-3 by more than the 20% noise band.

Usage: python tools/ab.py quantile_pinball [rounds]
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators.ranks import pin


_US_PER_DAY = 86_400_000_000


def quantile_summary_shared_n(spark, sf_dir):
    """Candidate: N from the summary's total weight, not a 2nd scan."""
    from wikipedia_data_pipeline_spark.operators import profiling as P
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan
    from wikipedia_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    summary = P.quantile_summary(ev, "value", "event_id", blocks=32, eps=0.02)
    scan = ordered_scan(
        summary, ["value", "event_id"], running=[("cum", "weight", "sum")]
    )
    nrel = scan.agg(F.max("cum").cast("long").alias("n"))
    tgt = (
        spark.range(1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.lit(p)
                        for p in (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
                    ]
                )
            ).alias("p")
        )
        .crossJoin(F.broadcast(nrel))
        .withColumn("target_rank", F.ceil(F.col("p") * F.col("n")).cast("long"))
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


def pinball_persisted_ev(spark, sf_dir):
    """Candidate: persist the projected ev so train+test share a scan."""
    from wikipedia_data_pipeline_spark.operators.ranks import grouped_exact_quantiles
    from wikipedia_data_pipeline_spark.sources.tables import load_table

    ev0 = load_table(spark, sf_dir, "events")
    t0 = ev0.agg(F.min("ts").alias("ts0"))
    ev = pin(
        ev0.crossJoin(F.broadcast(t0))
        .select(
            "event_type",
            "event_id",
            F.round(F.col("value") * 1_000_000).cast("long").alias("v_u"),
            (F.expr(f"(ts - ts0) div {_US_PER_DAY}") < 24).alias("is_train"),
        )
    )
    trn = ev.filter(F.col("is_train")).select("event_type", "v_u", "event_id")
    fc = grouped_exact_quantiles(
        trn,
        ["event_type"],
        ["v_u", "event_id"],
        [("p90", 9, 10)],
        tag_col="qtag",
    ).select("event_type", F.col("v_u").alias("q90_u"))
    tst = ev.filter(~F.col("is_train")).join(F.broadcast(fc), "event_type")
    loss = F.when(
        F.col("v_u") >= F.col("q90_u"), 9 * (F.col("v_u") - F.col("q90_u"))
    ).otherwise(F.col("q90_u") - F.col("v_u"))
    return (
        tst.select("event_type", "q90_u", loss.alias("loss_du"))
        .groupBy("event_type")
        .agg(
            F.max("q90_u").cast("long").alias("q90_u"),
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum("loss_du").cast("long").alias("pinball_deci_micro_total"),
            (
                F.sum("loss_du").cast("double")
                / F.count(F.lit(1))
                / 10_000_000.0
            ).alias("mean_pinball_loss"),
        )
    )


ARTIFACT = "AB_QP_r12.json"
PAIRS = [
    ("sketch_quantile_summary_events", quantile_summary_shared_n),
    ("ml_eval_pinball_loss", pinball_persisted_ev),
]
