"""Interleaved A/B: registered events_hourly_rollup (countDistinct →
Spark's Expand-based two-phase distinct, which doubles the map-side
row stream) vs a two-step aggregation — pre-aggregate per (bucket,
event_type, user_id) with map-side combine, then re-aggregate to
(bucket, event_type) where n_users = count(*) of the groups and
n_events / total_value are exact integer re-sums (cent micro-units
are associative, so the double result is bit-identical).

Rationale: SCALE_PROBE_r13 has the registered form at 1.22 s / 8.71x
at the 100x replica, and it is a HEADLINE query. The Expand node emits
2 rows per input row before the first partial agg; the two-step shape
shuffles at most one row per distinct (bucket, type, user) triple and
never widens the stream.

Usage: python tools/ab.py hourly_twostep [rounds]
Flip iff best-of-N beats the registered best-of-N by >20% at the 100x
replica (the pre-registered noise band) and sf0.1 does not regress.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def hourly_twostep(spark, sf_dir):
    from wikipedia_data_pipeline_spark.functions import (
        UNIT,
        cents_units,
        ts_us,
    )
    from wikipedia_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    bucket = (
        ts_us().cast("long") - (ts_us().cast("long") % 3_600_000_000)
    ) / 1_000_000
    per_user = (
        ev.withColumn("bucket_s", bucket.cast("long"))
        .groupBy("bucket_s", "event_type", "user_id")
        .agg(
            F.count("*").alias("c"),
            F.sum(cents_units("value")).alias("vu"),
        )
    )
    return per_user.groupBy("bucket_s", "event_type").agg(
        F.sum("c").alias("n_events"),
        (F.sum("vu").cast("double") / UNIT).alias("total_value"),
        F.count("*").cast("long").alias("n_users"),
    )


ARTIFACT = "AB_HOURLY_TWOSTEP_r13.json"
PAIRS = [("events_hourly_rollup", hourly_twostep)]
