"""Relational breadth on the star schema (SURVEY.md §7 step 2).

Covers the operator categories the reference lacks but a general engine
needs (SURVEY.md §2.3-2.7 "absent but in-scope"): join variants
(broadcast/semi/anti/outer/theta), aggregation suite (incl. rollup/cube,
filtered aggs, percentiles), window functions (rank/lag/lead/frames),
set operations, and the scalar function families (string/math/datetime/
JSON). All pure DataFrame built-ins — Catalyst plans them; nothing here
needs custom execution code.

Determinism rules (see registry docstring): decimal-routed sums, int64
time arithmetic for events, total sort orders on every top-k.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.functions import (
    EVENT_WINDOW_US,
    cents_sum,
    dec_avg,
    dec_sum,
    sql_cents_sum,
    sql_dec_avg,
    sql_dec_sum,
    ts_us,
)
from wikipedia_data_pipeline_spark.operators.sampling import SQL_DET_HASH
from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# aggregation suite
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {sql_dec_sum('l_quantity', 'sum_qty')},
       {sql_dec_sum('l_extendedprice', 'sum_base_price')},
       {sql_dec_sum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
       {sql_dec_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
       {sql_dec_avg('l_quantity', 'avg_qty')},
       {sql_dec_avg('l_extendedprice', 'avg_price')},
       {sql_dec_avg('l_discount', 'avg_disc')},
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: filter → partial+final hash agg, no join.

    ``fan_out`` first: 8 exact decimal aggregates are CPU-heavy per
    row, and an under-split local scan would run the whole partial agg
    on one core. The round-robin exchange costs a fraction of the agg
    and no-ops when the scan already arrives wide (the cluster case)."""
    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    li = fan_out(load_table(spark, sf_dir, "lineitem"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity", "sum_qty"),
            dec_sum("l_extendedprice", "sum_base_price"),
            dec_sum(disc_price, "sum_disc_price"),
            dec_sum(disc_price * (1 + F.col("l_tax")), "sum_charge"),
            dec_avg("l_quantity", "avg_qty"),
            dec_avg("l_extendedprice", "avg_price"),
            dec_avg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q1_pricing_summary_cents",
    oracle="""
WITH c AS (
  SELECT l_returnflag, l_linestatus,
         CAST(l_quantity AS BIGINT) AS qty,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
         CAST(round(l_discount * 100) AS BIGINT) AS disc_b,
         CAST(round(l_tax * 100) AS BIGINT) AS tax_b
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02'
)
SELECT l_returnflag, l_linestatus,
       CAST(CAST(sum(qty) AS BIGINT) AS DOUBLE) AS sum_qty,
       CAST(CAST(sum(price_c) AS BIGINT) AS DOUBLE) / 100 AS sum_base_price,
       CAST(CAST(sum(price_c * (100 - disc_b)) AS BIGINT) AS DOUBLE) / 10000
         AS sum_disc_price,
       CAST(CAST(sum(price_c * (100 - disc_b) * (100 + tax_b)) AS BIGINT)
            AS DOUBLE) / 1000000 AS sum_charge,
       CAST(CAST(sum(qty) AS BIGINT) AS DOUBLE) / count(*) AS avg_qty,
       CAST(CAST(sum(price_c) AS BIGINT) AS DOUBLE) / 100 / count(*)
         AS avg_price,
       CAST(CAST(sum(disc_b) AS BIGINT) AS DOUBLE) / 100 / count(*)
         AS avg_disc,
       count(*) AS count_order
FROM c
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary_cents(spark, sf_dir):
    """TPC-H Q1 with BIGINT-cents arithmetic instead of DECIMAL sums —
    the A/B twin that measures the engine's `dec_sum` exactness tax
    (round-6 verdict #2: q1/q3/q5/hourly sit 5-8x DuckDB even at the
    10x replica, suspected DECIMAL-aggregation cost, not plan shape).

    Money columns are cent-quantized and rates are percent-quantized
    (verified on the testdata: round(x*100) is exact for every row), so
    every aggregate is an exact BIGINT sum: disc_price in 1e-4-dollar
    units, charge in 1e-6-dollar units, divided back to dollars only
    after the final cast. Long sums are order-independent like DECIMAL
    ones, so the result keeps dec_sum's partitioning-independence while
    aggregating at native 64-bit-integer speed.

    Headroom bound: per-row charge <= ~1.1e11 micro-dollars, so a
    silent int64 overflow needs > ~8e7 rows in ONE (returnflag,
    linestatus) group at max TPC-H magnitudes — fine through the 100x
    replica (~1.5e7/group); beyond that, swap the two product sums to
    DECIMAL(38,0) accumulation of the same integer terms (still exact,
    still cheaper than per-row decimal multiply chains)."""
    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    li = fan_out(load_table(spark, sf_dir, "lineitem"))
    qty = F.col("l_quantity").cast("long")
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_b = F.round(F.col("l_discount") * 100).cast("long")
    tax_b = F.round(F.col("l_tax") * 100).cast("long")
    disc_price_e4 = price_c * (100 - disc_b)
    charge_e6 = disc_price_e4 * (100 + tax_b)
    n = F.count("*")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            (F.sum(price_c).cast("double") / 100).alias("sum_base_price"),
            (F.sum(disc_price_e4).cast("double") / 10000).alias(
                "sum_disc_price"
            ),
            (F.sum(charge_e6).cast("double") / 1000000).alias("sum_charge"),
            (F.sum(qty).cast("double") / n).alias("avg_qty"),
            (F.sum(price_c).cast("double") / 100 / n).alias("avg_price"),
            (F.sum(disc_b).cast("double") / 100 / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@register(
    "agg_stats_suite",
    oracle=f"""
SELECT l_returnflag,
       count(*) AS n_rows,
       count(DISTINCT l_partkey) AS n_parts,
       min(l_quantity) AS min_qty,
       max(l_quantity) AS max_qty,
       {sql_dec_sum('l_quantity', 'sum_qty')},
       count(*) FILTER (WHERE l_discount > 0.05) AS n_high_disc,
       CAST(sqrt((sum(CAST(l_quantity * l_quantity AS DECIMAL(18,6)))::DOUBLE
             - (sum(CAST(l_quantity AS DECIMAL(18,6)))::DOUBLE)
               * (sum(CAST(l_quantity AS DECIMAL(18,6)))::DOUBLE) / count(*))
            / (count(*) - 1)) AS DOUBLE) AS stddev_qty
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_stats_suite(spark, sf_dir):
    """min/max/count-distinct/filtered-count + deterministic stddev
    (computed from exact decimal sums so partitioning can't change it)."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    sum_q = F.sum(q.cast("decimal(18,6)")).cast("double")
    sum_q2 = F.sum((q * q).cast("decimal(18,6)")).cast("double")
    n = F.count("*")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.min(q).alias("min_qty"),
        F.max(q).alias("max_qty"),
        dec_sum(q, "sum_qty"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_high_disc"),
        F.sqrt((sum_q2 - sum_q * sum_q / n) / (n - 1)).alias("stddev_qty"),
    )


@register(
    "agg_rollup_acctbal",
    oracle=f"""
SELECT r_name, n_name, count(*) AS n_customers,
       {sql_dec_sum('c_acctbal', 'total_acctbal')}
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
""",
)
def agg_rollup_acctbal(spark, sf_dir):
    """ROLLUP over the region→nation dim hierarchy; dims broadcast."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.count("*").alias("n_customers"),
        dec_sum("c_acctbal", "total_acctbal"),
    )


@register(
    "agg_cube_flags",
    oracle=f"""
SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
       {sql_dec_sum('l_quantity', 'sum_qty')}
FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
""",
)
def agg_cube_flags(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"), dec_sum("l_quantity", "sum_qty")
    )


@register(
    "agg_percentiles",
    oracle="""
SELECT event_type,
       count(*) AS n_events,
       min(value) AS min_value,
       max(value) AS max_value,
       percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS median_value,
       percentile_cont(0.9) WITHIN GROUP (ORDER BY value) AS p90_value
FROM events GROUP BY event_type
""",
)
def agg_percentiles(spark, sf_dir):
    """Exact percentiles (sort-based); interpolation arithmetic is the
    same a+(b-a)*frac on both engines."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.percentile("value", F.lit(0.5)).alias("median_value"),
        F.percentile("value", F.lit(0.9)).alias("p90_value"),
    )


@register("agg_approx_distinct")  # no oracle: HLL estimates are engine-specific
def agg_approx_distinct(spark, sf_dir):
    """approx_count_distinct (HLL++) — the 100 TB path for cardinality;
    rows-only check (DuckDB's approx sketch differs by design)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )


# ---------------------------------------------------------------------------
# joins
# ---------------------------------------------------------------------------


# TPC-H Q3 and Q5, shared with their bucketed-twin registrations
# (analytics_queries): same oracle, same plan over different scans.
Q3_ORACLE = f"""
SELECT o_orderkey,
       {sql_cents_sum('l_extendedprice * (1 - l_discount)', 'revenue')},
       CAST(o_orderdate AS DATE) AS orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY o_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
ORDER BY revenue DESC, o_orderkey LIMIT 10
"""
Q5_ORACLE = f"""
SELECT r_name, n_name,
       {sql_cents_sum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY r_name, n_name
"""


def q3_top_revenue(spark, sf_dir, orders, lineitem):
    """Q3's join, agg and top-10 over the ``orders`` and ``lineitem``
    scans (plain or bucketed twins): the filtered customer dim
    broadcasts."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = orders.filter(F.col("o_orderdate") < "1998-01-01")
    li = lineitem.filter(F.col("l_shipdate") > "1997-01-01")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            "o_orderkey",
            F.to_date("o_orderdate").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(
            cents_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q5_nation_revenue(spark, sf_dir, orders, lineitem):
    """Q5's star join and (region, nation) revenue over the ``orders``
    and ``lineitem`` scans (plain or bucketed twins): the dims
    broadcast, the facts join on orderkey, orders are cut to 1996."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = orders.filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    dims = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        lineitem.join(o, lineitem.l_orderkey == o.o_orderkey)
        .join(F.broadcast(dims), o.o_custkey == dims.c_custkey)
        .groupBy("r_name", "n_name")
        .agg(
            cents_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
    )


@register("q3_shipping_priority", oracle=Q3_ORACLE)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter → fact join → agg → top-k.
    customer (filtered) broadcasts; orderkey agg reuses the join key.

    Revenue sums by exact BIGINT micro-units (functions.cents_sum;
    disc_price is 1e-4-quantized so round(x*1e6) is exact) instead of
    DECIMAL — bit-identical per the cents_sum contract (groups here are
    single orders, ~1e5 micro-dollar rows, nowhere near the 2^53
    bound), minus the measured ~4x BigDecimal aggregation tax (r7
    probe, BASELINE.md §d)."""
    return q3_top_revenue(
        spark,
        sf_dir,
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register("q5_region_revenue", oracle=Q5_ORACLE)
def q5_region_revenue(spark, sf_dir):
    """Multi-way star join: dims broadcast, facts join on their keys.

    Revenue by exact BIGINT micro-units (functions.cents_sum) — same
    flip as q3. Headroom: groups are (region, nation) over ONE order
    year, so the per-group sum stays under 2^53 micro-units (~$9.0e9)
    through roughly SF 3k per nation-year; past that, sum the same
    rounded longs as DECIMAL(38,0) — still exact, still integer-cheap —
    per the cents_sum contract in functions/__init__.py."""
    return q5_nation_revenue(
        spark,
        sf_dir,
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "join_semi_big_orders",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_quantity >= 49
)
""",
)
def join_semi_big_orders(spark, sf_dir):
    """LEFT SEMI join (EXISTS): emits left rows once, never duplicates."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return o.join(
        li, o.o_orderkey == li.l_orderkey, "left_semi"
    ).select("o_orderkey", "o_totalprice")


@register(
    "join_anti_idle_customers",
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
""",
)
def join_anti_idle_customers(spark, sf_dir):
    """LEFT ANTI join (NOT EXISTS) — the Spark-native form of the
    reference's resume-manifest check (SURVEY.md §2.1 S7/J3).

    The probed side is restricted to URGENT orders so the result is
    non-empty on the testdata (every customer has *some* order, so an
    unfiltered anti-join would pass vacuously at 0 = 0 rows —
    VERDICT.md round-1 item 3)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_left_outer_order_stats",
    oracle=f"""
SELECT c_custkey, count(o_orderkey) AS n_orders,
       CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,6))), 0) AS DOUBLE)
         AS total_spend
FROM customer LEFT JOIN orders ON o_custkey = c_custkey
GROUP BY c_custkey
""",
)
def join_left_outer_order_stats(spark, sf_dir):
    """LEFT OUTER join preserving customers with zero orders."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(18,6)")), F.lit(0)
            )
            .cast("double")
            .alias("total_spend"),
        )
    )


@register(
    "join_full_outer_nations",
    oracle="""
WITH cu AS (SELECT c_nationkey AS nationkey, count(*) AS n_cust
            FROM customer GROUP BY c_nationkey),
su AS (SELECT s_nationkey AS nationkey, count(*) AS n_supp
       FROM supplier GROUP BY s_nationkey)
SELECT coalesce(cu.nationkey, su.nationkey) AS nationkey,
       coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
FROM cu FULL OUTER JOIN su ON cu.nationkey = su.nationkey
""",
)
def join_full_outer_nations(spark, sf_dir):
    """FULL OUTER join of two pre-aggregated sides."""
    cu = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_cust"))
    )
    su = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        cu.join(su, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
    )


@register(
    "join_theta_acctbal_band",
    oracle="""
SELECT s_suppkey, count(c_custkey) AS n_band_customers
FROM supplier LEFT JOIN customer
  ON c_acctbal BETWEEN s_acctbal - 10 AND s_acctbal + 10
GROUP BY s_suppkey
""",
)
def join_theta_acctbal_band(spark, sf_dir):
    """Theta (band) join — broadcast nested-loop; supplier side is tiny
    at every SF, so the NL stays cheap and fully parallel."""
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    cond = (F.col("c_acctbal") >= F.col("s_acctbal") - 10) & (
        F.col("c_acctbal") <= F.col("s_acctbal") + 10
    )
    # RIGHT outer with supplier broadcast on the build-able side: Spark
    # can't broadcast the preserved side of an outer join.
    return (
        c.join(F.broadcast(s), cond, "right")
        .groupBy("s_suppkey")
        .agg(F.count("c_custkey").alias("n_band_customers"))
    )


# ---------------------------------------------------------------------------
# window functions
# ---------------------------------------------------------------------------


@register(
    "window_rank_orders",
    oracle="""
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(rank() OVER w AS BIGINT) AS rnk,
         CAST(dense_rank() OVER w AS BIGINT) AS drnk,
         CAST(row_number() OVER w AS BIGINT) AS rn
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
) WHERE rn <= 5
""",
)
def window_rank_orders(spark, sf_dir):
    """rank/dense_rank/row_number + per-group top-k filter (W2 shape)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 5)
    )


@register(
    "window_lag_lead",
    oracle="""
SELECT event_id, user_id, value,
       lag(value) OVER w AS prev_value,
       lead(value) OVER w AS next_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
""",
)
def window_lag_lead(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(ts_us().alias("ts_us"), "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


@register(
    "window_running_sum",
    oracle="""
SELECT event_id, user_id,
       CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS running_value,
       CAST(count(*) OVER w AS BIGINT) AS running_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def window_running_sum(spark, sf_dir):
    """Cumulative frame — decimal-routed so the prefix sums are exact."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_us().alias("ts_us"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("running_value"),
        F.count("*").over(w).cast("long").alias("running_n"),
    )


@register(
    "window_moving_avg",
    oracle="""
SELECT event_id, user_id,
       CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
         / count(*) OVER w AS moving_avg_4
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
""",
)
def window_moving_avg(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_us().alias("ts_us"), "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        (
            F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double")
            / F.count("*").over(w)
        ).alias("moving_avg_4"),
    )


# ---------------------------------------------------------------------------
# set operations / distinct
# ---------------------------------------------------------------------------


@register(
    "setops_nation_presence",
    oracle="""
SELECT 'cust_only' AS op, n FROM (
  SELECT DISTINCT c_nationkey AS n FROM customer
  EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
UNION ALL
SELECT 'both' AS op, n FROM (
  SELECT DISTINCT c_nationkey AS n FROM customer
  INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
UNION ALL
SELECT 'either' AS op, n FROM (
  SELECT DISTINCT c_nationkey AS n FROM customer
  UNION SELECT DISTINCT s_nationkey FROM supplier)
""",
)
def setops_nation_presence(spark, sf_dir):
    """EXCEPT / INTERSECT / UNION in one tagged relation."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("n")
    ).distinct()
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("n")
    ).distinct()
    tag = lambda df, t: df.select(F.lit(t).alias("op"), "n")  # noqa: E731
    return (
        tag(c.exceptAll(s).distinct(), "cust_only")
        .unionByName(tag(c.intersect(s), "both"))
        .unionByName(tag(c.union(s).distinct(), "either"))
    )


@register(
    "pivot_status_counts",
    oracle="""
SELECT l_returnflag,
       count(*) FILTER (WHERE l_linestatus = 'F') AS "F",
       count(*) FILTER (WHERE l_linestatus = 'O') AS "O"
FROM lineitem GROUP BY l_returnflag
""",
)
def pivot_status_counts(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "l_returnflag",
        F.coalesce("F", F.lit(0)).alias("F"),
        F.coalesce("O", F.lit(0)).alias("O"),
    )


# ---------------------------------------------------------------------------
# scalar function families
# ---------------------------------------------------------------------------


@register(
    "scalar_string_funcs",
    oracle="""
SELECT p_partkey,
       length(p_name) AS name_len,
       upper(p_brand) AS brand_up,
       lower(p_type) AS type_lo,
       substring(p_name, 1, 6) AS name_pfx,
       strpos(p_name, 'a') AS a_pos,
       replace(p_name, 'a', '@') AS name_repl,
       lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
       split_part(p_type, ' ', 1) AS type_first,
       concat(p_brand, ':', p_type) AS brand_type,
       trim(p_name) AS name_trim,
       reverse(p_brand) AS brand_rev,
       CAST(starts_with(p_name, 'a') AS BOOLEAN) AS starts_a
FROM part
""",
)
def scalar_string_funcs(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.length("p_name").cast("long").alias("name_len"),
        F.upper("p_brand").alias("brand_up"),
        F.lower("p_type").alias("type_lo"),
        F.substring("p_name", 1, 6).alias("name_pfx"),
        F.instr(F.col("p_name"), "a").cast("long").alias("a_pos"),
        F.expr("replace(p_name, 'a', '@')").alias("name_repl"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.expr("split_part(p_type, ' ', 1)").alias("type_first"),
        F.concat_ws("", F.col("p_brand"), F.lit(":"), F.col("p_type")).alias(
            "brand_type"
        ),
        F.trim("p_name").alias("name_trim"),
        F.reverse("p_brand").alias("brand_rev"),
        F.col("p_name").startswith("a").alias("starts_a"),
    )


@register(
    "scalar_math_funcs",
    oracle="""
SELECT l_orderkey, l_linenumber,
       abs(l_discount - 0.05) AS abs_disc_delta,
       CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
       CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
       sqrt(l_quantity) AS qty_sqrt,
       round(ln(l_extendedprice), 6) AS price_ln,
       round(log10(l_extendedprice), 6) AS price_log10,
       l_quantity * l_quantity AS qty_sq,
       CAST(l_orderkey % 7 AS BIGINT) AS key_mod7,
       CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign,
       greatest(l_tax, l_discount) AS max_rate,
       least(l_tax, l_discount) AS min_rate
FROM lineitem
""",
)
def scalar_math_funcs(spark, sf_dir):
    """Math family. ln/log10 are rounded to 6 dp — libm implementations
    may differ in the last ulp between JVM and C; everything else is
    IEEE-exact and left unrounded."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("abs_disc_delta"),
        F.ceil("l_extendedprice").cast("long").alias("price_ceil"),
        F.floor("l_extendedprice").cast("long").alias("price_floor"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.round(F.log(F.col("l_extendedprice")), 6).alias("price_ln"),
        F.round(F.log10("l_extendedprice"), 6).alias("price_log10"),
        (F.col("l_quantity") * F.col("l_quantity")).alias("qty_sq"),
        (F.col("l_orderkey") % 7).cast("long").alias("key_mod7"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
    )


@register(
    "scalar_datetime_funcs",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) AS odate,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(month(o_orderdate) AS BIGINT) AS o_month,
       CAST(day(o_orderdate) AS BIGINT) AS o_day,
       CAST(quarter(o_orderdate) AS BIGINT) AS o_quarter,
       CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS o_dow,
       CAST(weekofyear(o_orderdate) AS BIGINT) AS o_week,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS o_month_start,
       CAST(o_orderdate AS DATE) + 30 AS due_date,
       CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
            AS BIGINT) AS days_since_95,
       last_day(CAST(o_orderdate AS DATE)) AS month_end
FROM orders
""",
)
def scalar_datetime_funcs(spark, sf_dir):
    """Datetime family (DuckDB dayofweek is 0-based Sunday; Spark is
    1-based — oracle shifts by one)."""
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.to_date(d).alias("odate"),
        F.year(d).cast("long").alias("o_year"),
        F.month(d).cast("long").alias("o_month"),
        F.dayofmonth(d).cast("long").alias("o_day"),
        F.quarter(d).cast("long").alias("o_quarter"),
        F.dayofweek(d).cast("long").alias("o_dow"),
        F.weekofyear(d).cast("long").alias("o_week"),
        F.date_trunc("month", d).cast("date").alias("o_month_start"),
        F.date_add(F.to_date(d), 30).alias("due_date"),
        F.datediff(F.to_date(d), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_95"),
        F.last_day(F.to_date(d)).alias("month_end"),
    )


@register(
    "scalar_json_funcs",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
       CAST(json_extract_string(props, '$.missing') AS BIGINT) AS k_missing
FROM events
""",
)
def scalar_json_funcs(spark, sf_dir):
    """JSON access over events.props both via path extraction and via a
    typed from_json parse (same value, two engine paths)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_value"),
        F.get_json_object("props", "$.missing").cast("long").alias("k_missing"),
    )


# ---------------------------------------------------------------------------
# event-time operators (batch forms; streaming twins in streaming/)
# ---------------------------------------------------------------------------


@register(
    "events_hourly_rollup",
    oracle=f"""
SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket_s, event_type,
       count(*) AS n_events,
       {sql_cents_sum('value', 'total_value')},
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
""",
)
def events_hourly_rollup(spark, sf_dir):
    """Tumbling 1-hour windows in the exact integer µs domain (the batch
    twin of the streaming windowed agg). value is cent-quantized, so
    the rollup sum is an exact BIGINT micro-unit accumulation
    (functions.cents_sum) — bit-identical to the DECIMAL route, minus
    its per-row BigDecimal buffer (BASELINE.md §d)."""
    ev = load_table(spark, sf_dir, "events")
    bucket = (ts_us().cast("long") - (ts_us().cast("long") % 3_600_000_000)) / 1_000_000
    return (
        ev.withColumn("bucket_s", bucket.cast("long"))
        .groupBy("bucket_s", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            cents_sum("value", "total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


_ASOF_ORACLE = """
SELECT event_id, user_id, value,
       last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         AS last_view_value
FROM events QUALIFY event_type = 'purchase'
"""


def _asof_last_view(ev):
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_us().alias("ts_us"), "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    view_val = F.when(F.col("event_type") == "view", F.col("value"))
    return (
        ev.withColumn("last_view_value", F.last(view_val, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "value", "last_view_value")
    )


@register("asof_join_last_view", oracle=_ASOF_ORACLE)
def asof_join_last_view(spark, sf_dir):
    """As-of join expressed as union + ordered last-ignorenulls window:
    each purchase picks up the most recent earlier 'view' value of the
    same user. One shuffle on user_id; no per-row probing."""
    return _asof_last_view(load_table(spark, sf_dir, "events"))


@register("asof_join_last_view_bucketed", oracle=_ASOF_ORACLE, eager=True)
def asof_join_last_view_bucketed(spark, sf_dir):
    """As-of join over the BUCKETED events twin — the fifth bucketed
    consumer, second on the user_id key (sessionization_bucketed note):
    the per-user last-ignorenulls window rides the scan's bucket
    hash-partitioning, so the one fact-sized exchange of
    asof_join_last_view disappears (zero shuffle exchanges,
    plan-asserted). Identical results by construction — same oracle.

    eager=True: construction triggers the lazy first-time twin write;
    at 100 TB that write is a scheduled maintenance job amortized over
    every user-keyed query."""
    from wikipedia_data_pipeline_spark.sources.maintenance import (
        ensure_bucketed_twins,
    )

    twins = ensure_bucketed_twins(spark, sf_dir, tables=("events",))
    return _asof_last_view(spark.table(twins["events"]))


_SESSION_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, event_id, epoch_us(ts) AS t,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY epoch_us(ts), event_id) AS prev_t
  FROM events
),
flagged AS (
  SELECT user_id, event_id, t,
         CASE WHEN prev_t IS NULL OR t - prev_t > {EVENT_WINDOW_US}
              THEN 1 ELSE 0 END AS new_session
  FROM ordered
),
sessions AS (
  SELECT user_id, event_id, t,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY t, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       count(*) AS n_events, max(t) - min(t) AS duration_us
FROM sessions GROUP BY user_id, session_id
"""


def _sessionize(ev):
    """Gaps-and-islands over a (user_id, event_id, t) relation."""
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("t").over(w).isNull()
            | (F.col("t") - F.lag("t").over(w) > EVENT_WINDOW_US),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.max("t") - F.min("t")).alias("duration_us"),
    )


@register("sessionization", oracle=_SESSION_ORACLE)
def sessionization(spark, sf_dir):
    """Gaps-and-islands sessionization (30-min inactivity gap) — the
    batch twin of streaming session_window."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", ts_us().alias("t")
    )
    return _sessionize(ev)


@register("sessionization_bucketed", oracle=_SESSION_ORACLE, eager=True)
def sessionization_bucketed(spark, sf_dir):
    """Sessionization over the BUCKETED events twin — the fourth
    consumer of the maintenance path (sources/maintenance.py), and the
    first on the user_id key: events is read from a full-schema twin
    bucketed by user_id and bucket-sorted by (user_id, ts, event_id),
    so the per-user windows reuse the scan's hash-partitioning and the
    final (user_id, session_id) aggregation reuses it too (user_id is
    a prefix of the grouping keys) — ZERO shuffle exchanges in the
    executed plan, vs sessionization's one fact-sized exchange. Every
    other user-keyed query (as-of join, rolling actives, per-user
    stats) can read the same twin, which is the amortization argument.
    Identical results to sessionization by construction — same oracle.

    eager=True: construction triggers the lazy first-time twin write
    (q18_bucketed_colocated note); at 100 TB that write is a scheduled
    maintenance job, priced separately from the query."""
    from wikipedia_data_pipeline_spark.sources.maintenance import (
        ensure_bucketed_twins,
    )

    twins = ensure_bucketed_twins(spark, sf_dir, tables=("events",))
    ev = spark.table(twins["events"]).select(
        "user_id", "event_id", ts_us().alias("t")
    )
    return _sessionize(ev)


# ---------------------------------------------------------------------------
# CDC changelog apply — inserts + updates + deletes in one pass
# ---------------------------------------------------------------------------

_CDC_ORACLE = """
WITH upd AS (
  SELECT o_orderkey, o_custkey, o_totalprice + 10.0 AS o_totalprice
  FROM orders WHERE o_orderkey % 100 IN (11, 23)
),
ins AS (
  SELECT o_orderkey + 1000000 AS o_orderkey, o_custkey,
         100.0 AS o_totalprice
  FROM orders WHERE o_orderkey % 100 = 50
),
kept AS (
  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
  WHERE o_orderkey % 100 <> 7 AND o_orderkey % 100 NOT IN (11, 23)
)
SELECT o_orderkey, o_custkey, o_totalprice, 'kept' AS op FROM kept
UNION ALL
SELECT o_orderkey, o_custkey, o_totalprice, 'updated' AS op FROM upd
UNION ALL
SELECT o_orderkey, o_custkey, o_totalprice, 'inserted' AS op FROM ins
"""


@register("cdc_apply_orders", oracle=_CDC_ORACLE)
def cdc_apply_orders(spark, sf_dir):
    """Apply a CDC changelog (inserts + updates + DELETE tombstones) to
    a snapshot in one distributed pass — the general form of
    `merge_upsert_orders`, which has no delete path. The changelog is
    derived deterministically from the snapshot itself (keys ≡ 7 mod
    100 deleted, ≡ 11/23 updated, ≡ 50 cloned to new keys) so the
    oracle can state the result set-theoretically, while the Spark side
    exercises the real mechanism: one left anti-join of the base
    against ALL affected keys (deletes and updates alike — an update is
    delete+reinsert), then a union of the upsert payloads.

    Scale: the anti-join shuffles on the primary key — with the base
    bucketed by key (sources/bucketing.py) it degrades to a co-located
    join with no base-side shuffle; the changelog side is batch-sized.
    One wide op total; the unions are free (no shuffle).
    """
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey") % 100

    tombstones = o.filter(k == 7).select("o_orderkey")
    updates = o.filter(k.isin(11, 23)).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + F.lit(10.0)).alias("o_totalprice"),
    )
    inserts = o.filter(k == 50).select(
        (F.col("o_orderkey") + F.lit(1_000_000)).alias("o_orderkey"),
        "o_custkey",
        F.lit(100.0).alias("o_totalprice"),
    )

    affected = tombstones.unionByName(updates.select("o_orderkey"))
    kept = (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .join(affected, "o_orderkey", "left_anti")
        .withColumn("op", F.lit("kept"))
    )
    return kept.unionByName(
        updates.withColumn("op", F.lit("updated"))
    ).unionByName(inserts.withColumn("op", F.lit("inserted")))


# ---------------------------------------------------------------------------
# Regex scalar-function surface
# ---------------------------------------------------------------------------
# Patterns are restricted to the syntax subset where Java regex (Spark)
# and RE2 (DuckDB) agree: literal classes, +, anchors — no lookaround,
# no \\d-style escapes (classes spelled explicitly).

_REGEX_ORACLE = """
SELECT doc_id,
       regexp_extract(text, '([a-z]+)', 1) AS first_word,
       COALESCE(array_to_string(regexp_extract_all(text, '[0-9]+'), ','),
                '') AS all_numbers,
       CAST(len(regexp_extract_all(text, '(^| )the ')) AS BIGINT)
         AS n_the,
       regexp_matches(text, '^[A-Z]') AS starts_upper,
       regexp_replace(text, '[aeiou]', '*', 'g') AS devoweled
FROM documents
WHERE doc_id % 10 = 0
"""


@register("scalar_regex_funcs", oracle=_REGEX_ORACLE)
def scalar_regex_funcs(spark, sf_dir):
    """Regex scalar surface: first-match group extraction, extract-all
    to array, match counting, boolean match, global replace — the
    string-mining primitives behind PII scrubbing and tokenization
    elsewhere in the engine, exercised as a conformance suite.

    All row-local, inside whole-stage codegen; the doc_id predicate
    reaches the parquet scan. Engine-portability note: DuckDB's
    regexp_replace is first-match-only without the 'g' flag while
    Spark's is always global — the oracle says 'g' explicitly.
    """
    d = load_table(spark, sf_dir, "documents")
    return d.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        F.regexp_extract("text", "([a-z]+)", 1).alias("first_word"),
        # array_join, not a raw array column: the driver's pandas
        # canonicalizer cannot hash list cells (r9 red row).
        F.array_join(
            F.expr("regexp_extract_all(text, '[0-9]+', 0)"), ","
        ).alias("all_numbers"),
        F.expr("cast(regexp_count(text, '(^| )the ') as bigint)").alias(
            "n_the"
        ),
        F.col("text").rlike("^[A-Z]").alias("starts_upper"),
        F.regexp_replace("text", "[aeiou]", "*").alias("devoweled"),
    )


@register(
    "linkage_customer_pairs",
    oracle=f"""
WITH c AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c,
         CAST(round(c_acctbal * 100) AS BIGINT) // 200000 AS bb,
         CAST(({SQL_DET_HASH.format(col="c_custkey")}) % 97 AS BIGINT) AS area,
         CAST(c_custkey % 10 AS BIGINT) AS tail
  FROM customer
),
pairs AS (
  SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
         CASE WHEN a.area = b.area THEN 1 ELSE 0 END AS agree_area,
         CASE WHEN abs(a.bal_c - b.bal_c) < 5000 THEN 1 ELSE 0 END AS agree_bal,
         CASE WHEN a.tail = b.tail THEN 1 ELSE 0 END AS agree_tail
  FROM c a JOIN c b
    ON a.c_nationkey = b.c_nationkey
   AND a.c_mktsegment = b.c_mktsegment
   AND a.bb = b.bb
   AND a.c_custkey < b.c_custkey
),
scored AS (
  SELECT a_key, b_key, agree_area, agree_bal, agree_tail,
         (CASE WHEN agree_area = 1 THEN 4469350463 ELSE -2292222306 END
          + CASE WHEN agree_bal = 1 THEN 2833213344 ELSE -1845826690 END
          + CASE WHEN agree_tail = 1 THEN 2251291799 ELSE -2890371758 END)
           AS w_nano
  FROM pairs
)
SELECT a_key, b_key,
       CAST(agree_area AS BIGINT) AS agree_area,
       CAST(agree_bal AS BIGINT) AS agree_bal,
       CAST(agree_tail AS BIGINT) AS agree_tail,
       CAST(w_nano AS DOUBLE) / 1000000000 AS match_weight,
       CASE WHEN w_nano >= 4500000000 THEN 'match'
            WHEN w_nano <= -2000000000 THEN 'non_match'
            ELSE 'possible' END AS decision
FROM scored
""",
)
def linkage_customer_pairs(spark, sf_dir):
    """Fellegi-Sunter probabilistic record linkage — the entity-
    resolution scorer a master-data pipeline runs between two feeds:
    BLOCKED candidate pairs (nation x segment x account-balance band —
    never the full cross product), a per-field agreement vector, and
    the match weight sum(ln(m_i/u_i) | agree; ln((1-m_i)/(1-u_i)) |
    disagree) against match / possible / non-match thresholds.
    Comparison fields are deterministic streams (hash "area code",
    balance proximity in exact cents, key-tail digit) with all six
    log-weights FROZEN as nano-nat integer literals — the
    events_sprt_ab discipline — so the weight and both thresholds are
    pure BIGINT arithmetic and the machinery is what is under audit:
    the corpus has no true duplicates, so 'match' decisions requiring
    simultaneous agreement should be rare and every weight is exactly
    reproducible.

    Scale shape: one blocked self-equi-join (the standard linkage
    blocking pass — pair count is sum of per-block C(n,2), kept
    sub-quadratic by the balance band; production adds a sorted-
    neighborhood key to tighten blocks further, same join shape).
    No windows, no global sort."""
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        # exact CENTS (not functions.cents_units' micro-units): the
        # proximity threshold below is 5000 cents = $50.00
        F.expr("CAST(round(c_acctbal * 100) AS BIGINT)").alias("bal_c"),
        F.expr(
            "CAST(round(c_acctbal * 100) AS BIGINT) div 200000"
        ).alias("bb"),
        (det_hash("c_custkey") % 97).cast("long").alias("area"),
        (F.col("c_custkey") % 10).cast("long").alias("tail"),
    )
    a = c.select(*[F.col(x).alias(f"a_{x}") for x in c.columns])
    b = c.select(*[F.col(x).alias(f"b_{x}") for x in c.columns])
    pairs = a.join(
        b,
        (F.col("a_c_nationkey") == F.col("b_c_nationkey"))
        & (F.col("a_c_mktsegment") == F.col("b_c_mktsegment"))
        & (F.col("a_bb") == F.col("b_bb"))
        & (F.col("a_c_custkey") < F.col("b_c_custkey")),
    ).select(
        F.col("a_c_custkey").alias("a_key"),
        F.col("b_c_custkey").alias("b_key"),
        F.when(F.col("a_area") == F.col("b_area"), 1)
        .otherwise(0)
        .cast("long")
        .alias("agree_area"),
        F.when(F.abs(F.col("a_bal_c") - F.col("b_bal_c")) < 5000, 1)
        .otherwise(0)
        .cast("long")
        .alias("agree_bal"),
        F.when(F.col("a_tail") == F.col("b_tail"), 1)
        .otherwise(0)
        .cast("long")
        .alias("agree_tail"),
    )
    w_nano = (
        F.when(F.col("agree_area") == 1, F.lit(4469350463)).otherwise(
            F.lit(-2292222306)
        )
        + F.when(F.col("agree_bal") == 1, F.lit(2833213344)).otherwise(
            F.lit(-1845826690)
        )
        + F.when(F.col("agree_tail") == 1, F.lit(2251291799)).otherwise(
            F.lit(-2890371758)
        )
    )
    return pairs.select(
        "a_key",
        "b_key",
        "agree_area",
        "agree_bal",
        "agree_tail",
        (w_nano.cast("double") / F.lit(1_000_000_000)).alias(
            "match_weight"
        ),
        F.when(w_nano >= 4500000000, F.lit("match"))
        .when(w_nano <= -2000000000, F.lit("non_match"))
        .otherwise(F.lit("possible"))
        .alias("decision"),
    )
