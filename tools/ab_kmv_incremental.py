"""Interleaved A/B: incremental_distinct_users_kmv registered two-slice
form (scans events twice, one kmv_min_hashes per slice) vs a
single-scan variant (ONE distinct over (slice, day, h), composite-group
two-phase min-k, identical per-slice sketch semantics and identical
result relation).

SCALE_PROBE_r12 has the registered form at 5.13 s / 13.9x vs DuckDB at
the 100x replica — the largest ratio in the sketch family after the r11
KMV flip. The candidate removes one full fact scan and one distinct
shuffle. Same discipline as tools/ab_kmv_shared.py: warm both, then
interleave R,V,R,V,R,V in one process; flip iff the variant's best-of-3
beats the registered best-of-3 by more than the 20% noise band.

Usage: python tools/ab.py kmv_incremental [rounds]
"""

from __future__ import annotations


SPLIT_US = 1_705_276_800_000_000


def incremental_kmv_singlescan(spark, sf_dir):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from wikipedia_data_pipeline_spark.operators import profiling as P
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash
    from wikipedia_data_pipeline_spark.sources.tables import load_table

    K, MOD = 32, (1 << 31) - 1
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("ts") >= SPLIT_US).cast("int").alias("slice"),
        F.date_trunc("day", F.timestamp_micros(F.col("ts")))
        .cast("date")
        .alias("day"),
        det_hash("user_id").alias("h"),
    )
    sk_slices = P.kmv_min_hashes(ev, ["slice", "day"], "h", k=K)
    merged = sk_slices.select("day", "h").distinct()
    w = Window.partitionBy("day").orderBy("h")
    sk = (
        merged.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= K)
    )
    agg = sk.groupBy("day").agg(
        F.count(F.lit(1)).alias("cnt"), F.max("h").alias("hk")
    )
    return agg.select(
        "day",
        F.when(F.col("cnt") < K, F.col("cnt").cast("double"))
        .otherwise(F.lit((K - 1) * MOD) / F.col("hk"))
        .alias("est_kmv"),
        F.col("cnt").cast("long").alias("sketch_rows"),
    )


ARTIFACT = "AB_KMV_INCR_r12.json"
PAIRS = [("incremental_distinct_users_kmv", incremental_kmv_singlescan)]
