"""Interleaved A/B pricing the DECIMAL exactness tax on the Welch t
moments (r13; floor_adjusted adjudicated the row plan_bound at 2.5 s
data-dependent cost on the 100x replica).

Registered form: per-row c*c products summed as DECIMAL(38,0) — the
scale-safe convention (at 100 TB row counts an int64 sum of c^2 <=
3.6e9-sized products overflows). Variant: identical plan with the
moment sums in BIGINT, exact AT THIS REPLICA's scale (10M rows x
3.6e9 <= 3.6e16 << 2^63; under ANSI mode an overflow raises instead
of wrapping) — so any timing gap is purely the
decimal arithmetic, and the outputs must be bit-identical.

Usage: python tools/ab.py welch_decimal [rounds]
"""

from __future__ import annotations

from pyspark.sql import functions as F


def welch_int64_variant(spark, sf_dir):
    from wikipedia_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    g = (
        ev.select(
            (F.col("user_id") % 2).alias("arm"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c").cast("long").alias("s"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("q"),
        )
    )

    def pick(col, arm):
        return F.max(F.when(F.col("arm") == arm, F.col(col))).alias(
            f"{col}{arm + 1}"
        )

    w = g.agg(
        pick("n", 0), pick("s", 0), pick("q", 0),
        pick("n", 1), pick("s", 1), pick("q", 1),
    )

    def var_over_n(n, s, q):
        # the cross-multiplied terms still ride DECIMAL (n*q can pass
        # int64); only the per-row product/aggregate is int64 here
        return (
            (
                F.col(n).cast("decimal(38,0)") * F.col(q).cast("decimal(38,0)")
                - F.col(s).cast("decimal(38,0)") * F.col(s)
            ).cast("double")
            / (F.col(n).cast("double") * (F.col(n) - 1))
            / F.col(n)
        )

    v = w.select(
        "n1",
        "n2",
        (F.col("s1").cast("double") / F.col("n1")).alias("m1"),
        (F.col("s2").cast("double") / F.col("n2")).alias("m2"),
        var_over_n("n1", "s1", "q1").alias("v1n"),
        var_over_n("n2", "s2", "q2").alias("v2n"),
    )
    vsum = F.col("v1n") + F.col("v2n")
    return v.select(
        F.col("n1").alias("n_a"),
        F.col("n2").alias("n_b"),
        F.col("m1").alias("mean_a_cents"),
        F.col("m2").alias("mean_b_cents"),
        ((F.col("m1") - F.col("m2")) / F.sqrt(vsum)).alias("t_welch"),
        (
            vsum * vsum
            / (
                F.col("v1n") * F.col("v1n") / (F.col("n1") - 1)
                + F.col("v2n") * F.col("v2n") / (F.col("n2") - 1)
            )
        ).alias("df_welch"),
    )


ARTIFACT = "AB_WELCH_r13.json"
PAIRS = [("stats_welch_ttest", welch_int64_variant)]
