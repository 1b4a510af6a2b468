"""Incremental materialized-view maintenance: algebraic partial
aggregates that merge with new data WITHOUT rescanning the base facts.

The point at 100 TB: a daily rollup over an append-only fact table
should cost O(delta), not O(history). sum/count/min/max are algebraic
— their per-key partial states combine associatively — so the engine
keeps the state table (one row per key), aggregates only the new
partition into the same state shape, and merges the two small state
tables. avg and other derived measures are finalized from the merged
state. This is the same partial/final split Catalyst performs inside
one job (partial_sum -> shuffle -> final_sum), lifted across jobs.

Double measures are carried as DECIMAL(18,6) partial sums so the merge
is order-independent (bit-exact under any partitioning), matching the
engine-wide dec_sum convention.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEC = "decimal(18,6)"


def partial_aggregate(
    df: DataFrame, keys: list[str], measure: Column
) -> DataFrame:
    """Fold a fact slice into the algebraic state shape: per key,
    (n, sum_dec, min_m, max_m). One hash aggregation with map-side
    partials; the output is |distinct keys| rows."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(measure.cast(DEC)).alias("sum_dec"),
        F.min(measure).alias("min_m"),
        F.max(measure).alias("max_m"),
    )


def merge_partials(states: list[DataFrame], keys: list[str]) -> DataFrame:
    """Combine state tables: union + one re-aggregation over the small
    states (sum of counts, sum of sums, min of mins, max of maxes).
    Never touches the base facts."""
    unioned = states[0]
    for s in states[1:]:
        unioned = unioned.unionByName(s)
    return unioned.groupBy(*keys).agg(
        F.sum("n").alias("n"),
        F.sum("sum_dec").cast(DEC).alias("sum_dec"),
        F.min("min_m").alias("min_m"),
        F.max("max_m").alias("max_m"),
    )


def finalize(state: DataFrame, keys: list[str]) -> DataFrame:
    """Derive the served view from the merged state: total as DOUBLE,
    avg as exact-sum / count (one IEEE division per row)."""
    return state.select(
        *keys,
        "n",
        F.col("sum_dec").cast("double").alias("total"),
        (F.col("sum_dec").cast("double") / F.col("n")).alias("avg"),
        F.col("min_m").alias("min_v"),
        F.col("max_m").alias("max_v"),
    )


def distinct_state(df: DataFrame, keys: list[str], member: str) -> DataFrame:
    """State for EXACT incremental count-distinct: the distinct
    (keys, member) pairs of a slice. count-distinct is NOT algebraic
    over raw counts, but it IS over membership sets — and the set
    union is just a distinct over unioned states. One shuffle on
    (keys, member)."""
    return df.select(*keys, member).distinct()


def merge_distinct_states(
    states: list[DataFrame], keys: list[str], member: str
) -> DataFrame:
    """Set-union of membership states (union + distinct), then the
    per-key cardinality. The merge shuffles only state rows (already
    deduplicated per slice), not base facts. At 100 TB the state can
    be bucketed by member hash so the merge distinct is
    shuffle-free on matching layouts; swap in HLL sketches
    (approx_count_distinct) when a bounded error is acceptable and
    the state itself is too large."""
    unioned = states[0]
    for s in states[1:]:
        unioned = unioned.unionByName(s)
    return (
        unioned.distinct()
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )


def hll_distinct_state(df: DataFrame, keys: list[str], member: str) -> DataFrame:
    """Mergeable approximate-distinct state: a DataSketches HLL sketch
    per key (hll_sketch_agg). Unlike the exact membership-set state,
    the lg_k = 14 sketch is O(2^14) bytes per key REGARDLESS of cardinality —
    the representation that keeps incremental count-distinct viable at
    100 TB when the exact state itself would be the big table."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(member, F.lit(14)).alias("hll_state")
    )


def merge_hll_states(states: list[DataFrame], keys: list[str]) -> DataFrame:
    """Union sketches across slices (hll_union_agg) and serve the
    estimate — the O(slices x keys x sketch_size) merge, never
    touching base facts."""
    unioned = states[0]
    for s in states[1:]:
        unioned = unioned.unionByName(s)
    return unioned.groupBy(*keys).agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll_state")).alias(
            "n_distinct_approx"
        )
    )
