"""Commerce/finance analytics over orders+lineitem: revenue windows
(MoM, TTM, concentration, HHI), customer value (RFM, spend trend,
repeat-purchase, survival), inventory screens (ABC, XYZ, skyline),
dispersion/percentile price statistics, backlog interval sweeps, and
drawdown/TWAP time-weighted windows. Entity-sized rankings ride
operators.ranks (no single-partition windows). Split out of
profiling_queries (round 7)."""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.queries.sequence_queries import ols_moments
from wikipedia_data_pipeline_spark.queries.statsrank_queries import (
    LIFETIME_RISK_CTES,
    lifetime_risk,
)
from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table

# microseconds per day (epoch_us day bucketing; same constant as
# mleval_queries._US_PER_DAY)
_US_PER_DAY = 86_400_000_000


@register(
    "orders_priority_transitions",
    oracle="""
WITH seq AS (
  SELECT o_custkey, o_orderpriority,
         lag(o_orderpriority) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey)
           AS prev_priority
  FROM orders
)
SELECT prev_priority, o_orderpriority AS next_priority, count(*) AS n
FROM seq WHERE prev_priority IS NOT NULL
GROUP BY prev_priority, next_priority
""",
)
def orders_priority_transitions(spark, sf_dir):
    """First-order transition matrix over each customer's order
    priority sequence (lag window per customer + pair counts) — the
    Markov-style sequence profile behind churn/behavior models. One
    window shuffle on the customer key, one hash agg."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderpriority",
            F.lag("o_orderpriority").over(w).alias("prev_priority"),
        )
        .where(F.col("prev_priority").isNotNull())
        .groupBy(
            "prev_priority",
            F.col("o_orderpriority").alias("next_priority"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "customer_rfm_segments",
    oracle="""
WITH agg AS (
  SELECT o_custkey,
         max(CAST(o_orderdate AS DATE)) AS last_order,
         count(*) AS frequency,
         CAST(CAST(sum(CAST(round(o_totalprice * 1000000) AS BIGINT))
                   AS BIGINT) AS DOUBLE) / 1000000 AS monetary
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey, last_order, frequency, monetary,
       CAST(ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS BIGINT)
         AS r_quartile,
       CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT)
         AS f_quartile,
       CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS BIGINT)
         AS m_quartile
FROM agg
""",
)
def customer_rfm_segments(spark, sf_dir):
    """RFM customer scoring: recency/frequency/monetary per customer,
    quartiled with customer-key tiebreaks (total orders ->
    deterministic quartiles). One hash agg over orders collapses the
    fact table to |customers| rows; each quartile is then
    ``operators.ranks.global_ntile`` — the hierarchical two-level scan
    — instead of an unpartitioned ntile window, because |customers| at
    100 TB is 1e8+ and a global ntile window plans as a
    single-partition sort over the whole entity relation. Three
    independent orders → three range-partitioned passes over the
    customer-sized aggregate (each ~2 shuffles of entity rows — cheap
    next to the fact-table agg, and every pass is fully parallel).
    """
    from wikipedia_data_pipeline_spark.functions import cents_sum
    from wikipedia_data_pipeline_spark.operators.ranks import global_ntile

    orders = load_table(spark, sf_dir, "orders")
    agg = orders.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        # exact BIGINT micro-unit sum (functions.cents_sum): same value
        # as the DECIMAL route bit-for-bit (per-customer sums sit well
        # under 2^53), several times faster (BASELINE.md section d)
        cents_sum("o_totalprice", "monetary"),
    )
    seg = global_ntile(
        agg, [F.desc("last_order"), F.asc("o_custkey")], 4, "r_quartile"
    )
    seg = global_ntile(
        seg, [F.desc("frequency"), F.asc("o_custkey")], 4, "f_quartile"
    )
    seg = global_ntile(
        seg, [F.desc("monetary"), F.asc("o_custkey")], 4, "m_quartile"
    )
    return seg.select(
        "o_custkey",
        "last_order",
        "frequency",
        "monetary",
        "r_quartile",
        "f_quartile",
        "m_quartile",
    )


@register(
    "order_ship_delay_histogram",
    oracle="""
SELECT l.l_returnflag,
       CAST(least(greatest(date_diff('day', CAST(o.o_orderdate AS DATE),
                                     CAST(l.l_shipdate AS DATE)), 0) // 7, 20)
            AS BIGINT) AS delay_weeks_bucket,
       count(*) AS n
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2
""",
)
def order_ship_delay_histogram(spark, sf_dir):
    """Order-to-ship latency distribution: integer day difference
    bucketed by week (top bucket clamped), grouped by return flag —
    the fulfillment-latency profile over the big fact join. Integer
    arithmetic end-to-end; the join shuffles on the order key with
    map-side partial aggregation after."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", F.col("l_shipdate").cast("date").alias("ship_d")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("order_d")
    )
    # Negative delays (data glitches) clamp to bucket 0 — also keeps
    # the bucket arithmetic on non-negative ints, where floor and
    # truncating division agree across engines.
    bucket = F.least(
        F.floor(
            F.greatest(
                F.datediff(F.col("ship_d"), F.col("order_d")), F.lit(0)
            )
            / 7
        ),
        F.lit(20),
    ).cast("long")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("l_returnflag", bucket.alias("delay_weeks_bucket"))
        .groupBy("l_returnflag", "delay_weeks_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "revenue_mom_change",
    oracle="""
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
)
SELECT month, revenue,
       lag(revenue) OVER (ORDER BY month) AS prev_revenue,
       CASE WHEN lag(revenue) OVER (ORDER BY month) IS NOT NULL
            THEN (revenue - lag(revenue) OVER (ORDER BY month))
                 / lag(revenue) OVER (ORDER BY month) END AS mom_change
FROM m
""",
)
def revenue_mom_change(spark, sf_dir):
    """Month-over-month revenue delta: decimal-exact monthly sums,
    then a lag window over the month-sized aggregate with one IEEE
    subtraction and division per row — period-over-period reporting
    with engine-portable numbers."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    from wikipedia_data_pipeline_spark.functions import dec_sum

    m = orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(dec_sum("o_totalprice", "revenue"))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return m.select(
        "month",
        "revenue",
        prev.alias("prev_revenue"),
        F.when(
            prev.isNotNull(), (F.col("revenue") - prev) / prev
        ).alias("mom_change"),
    )


@register(
    "revenue_concentration_deciles",
    oracle="""
WITH cust AS (
  SELECT o_custkey,
         CAST(CAST(sum(CAST(round(o_totalprice * 1000000) AS BIGINT))
                   AS BIGINT) AS BIGINT) AS rev_u
  FROM orders GROUP BY o_custkey
),
dec AS (
  SELECT o_custkey, rev_u,
         CAST(ntile(10) OVER (ORDER BY rev_u DESC, o_custkey)
              AS BIGINT) AS decile
  FROM cust
),
tot AS (
  SELECT CAST(sum(rev_u) AS BIGINT) AS total_u FROM dec
)
SELECT decile, count(*) AS n_customers,
       CAST(CAST(sum(rev_u) AS BIGINT) AS DOUBLE) / 1000000
         AS revenue_total,
       CAST(CAST(sum(rev_u) AS BIGINT) AS DOUBLE)
         / CAST((SELECT total_u FROM tot) AS DOUBLE) AS revenue_share
FROM dec GROUP BY decile
""",
)
def revenue_concentration_deciles(spark, sf_dir):
    """Revenue concentration (whale curve): customers ranked into
    revenue deciles, each decile's share of total — exact BIGINT
    micro-unit sums at every level (round 7; see functions.cents_sum
    and BASELINE.md §d for the measured DECIMAL-buffer tax this
    removes), so the shares stay bit-portable. The decile
    assignment is ``operators.ranks.global_ntile`` (hierarchical
    range-partitioned scan over the customer-sized aggregate) — never
    an unpartitioned ntile window, which would serialize 1e8+ entity
    rows through one task at 100 TB."""
    from wikipedia_data_pipeline_spark.functions import UNIT, cents_units
    from wikipedia_data_pipeline_spark.operators.ranks import global_ntile

    orders = load_table(spark, sf_dir, "orders")
    # exact BIGINT micro-units end to end (functions.cents_units):
    # per-customer and per-decile sums are exact integers, the share is
    # one double division of two exact longs — no decimal buffer
    # anywhere (BASELINE.md section d prices that buffer at 4.5x)
    cust = orders.groupBy("o_custkey").agg(
        F.sum(cents_units("o_totalprice")).alias("rev_u")
    )
    dec = global_ntile(
        cust, [F.desc("rev_u"), F.asc("o_custkey")], 10, "decile"
    )
    total = dec.agg(F.sum("rev_u").alias("total_u"))
    return (
        dec.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("rev_u").alias("dec_u"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_customers",
            (F.col("dec_u").cast("double") / UNIT).alias("revenue_total"),
            (
                F.col("dec_u").cast("double")
                / F.col("total_u").cast("double")
            ).alias("revenue_share"),
        )
    )


@register(
    "part_brand_return_rates",
    oracle="""
SELECT p.p_brand,
       count(*) AS n_lines,
       CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_returned,
       CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(count(*) AS DOUBLE) AS return_rate
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
""",
)
def part_brand_return_rates(spark, sf_dir):
    """Return rate per part brand: the fact table joins the broadcast
    part dimension, one hash agg, a single IEEE division per brand —
    the product-quality report over the biggest join in the schema."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_returnflag"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum((F.col("l_returnflag") == "R").cast("long")).alias(
                "n_returned"
            ),
        )
        .select(
            "p_brand",
            "n_lines",
            "n_returned",
            (
                F.col("n_returned").cast("double")
                / F.col("n_lines").cast("double")
            ).alias("return_rate"),
        )
    )


# --- Interval sweep, growth accounting, weighted PageRank (round 5) -----

@register(
    "orders_open_backlog_daily",
    oracle="""
WITH iv AS (
  SELECT o.o_orderkey,
         CAST(o.o_orderdate AS DATE) AS d0,
         CAST(max(l.l_shipdate) AS DATE) AS d1
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_orderkey, o.o_orderdate
),
deltas AS (
  SELECT d0 AS day, 1 AS delta FROM iv
  UNION ALL
  SELECT d1 + 1 AS day, -1 AS delta FROM iv
),
byday AS (SELECT day, CAST(sum(delta) AS BIGINT) AS delta FROM deltas GROUP BY day),
bounds AS (SELECT min(d0) AS lo, max(d1) AS hi FROM iv),
spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day FROM bounds)
SELECT s.day,
       CAST(sum(COALESCE(b.delta, 0))
            OVER (ORDER BY s.day ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) AS BIGINT) AS open_orders
FROM spine s LEFT JOIN byday b ON s.day = b.day
ORDER BY s.day
""",
)
def orders_open_backlog_daily(spark, sf_dir):
    """Daily open-order backlog (orders placed but not fully shipped)
    by INTERVAL SWEEP: each order contributes +1 at its start day and
    −1 after its last ship day; the daily curve is the running sum over
    the calendar spine. This is the scale pattern for "how many
    intervals cover each point" — the naive day×order range join is
    O(days·orders), the sweep is one aggregate over 2 deltas per order
    plus a window over the day-sized spine (the only single-partition
    step, bounded by calendar length, not data volume)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    iv = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("ship_ts"))
        .select(
            F.col("o_orderdate").cast("date").alias("d0"),
            F.col("ship_ts").cast("date").alias("d1"),
        )
    )
    deltas = iv.select(F.col("d0").alias("day"), F.lit(1).alias("delta")).unionAll(
        iv.select(F.date_add("d1", 1).alias("day"), F.lit(-1).alias("delta"))
    )
    byday = deltas.groupBy("day").agg(F.sum("delta").alias("delta"))
    bounds = iv.agg(F.min("d0").alias("lo"), F.max("d1").alias("hi"))
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.join(byday, "day", "left")
        .select("day", F.coalesce("delta", F.lit(0)).alias("delta"))
        .select(
            "day", F.sum("delta").over(w).cast("long").alias("open_orders")
        )
        .orderBy("day")
    )


@register(
    "events_cumulative_new_users",
    oracle=f"""
WITH t0 AS (SELECT min(epoch_us(ts)) AS ts0 FROM events),
first_seen AS (
  SELECT user_id,
         min((epoch_us(ts) - ts0) // {_US_PER_DAY}) AS day_idx
  FROM events, t0 GROUP BY user_id
),
byday AS (SELECT day_idx, count(*) AS n_new_users FROM first_seen GROUP BY day_idx)
SELECT day_idx, n_new_users,
       CAST(sum(n_new_users) OVER (ORDER BY day_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_users
FROM byday ORDER BY day_idx
""",
)
def events_cumulative_new_users(spark, sf_dir):
    """Growth accounting: users by FIRST-seen day and the cumulative
    acquisition curve. First-seen is one min-aggregate on the user key
    (the only data-sized shuffle); the running sum rides the day-sized
    relation — integer-µs day arithmetic, engine-portable."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    t0 = ev.agg(F.min("ts").alias("ts0"))
    first_seen = (
        ev.crossJoin(F.broadcast(t0))
        .groupBy("user_id")
        .agg(F.min(F.expr(f"(ts - ts0) div {_US_PER_DAY}")).alias("day_idx"))
    )
    byday = first_seen.groupBy("day_idx").agg(
        F.count(F.lit(1)).alias("n_new_users")
    )
    w = Window.orderBy("day_idx").rowsBetween(Window.unboundedPreceding, 0)
    return byday.select(
        "day_idx",
        "n_new_users",
        F.sum("n_new_users").over(w).cast("long").alias("cum_users"),
    ).orderBy("day_idx")


# --- Time-weighted windows: TWAP + drawdown (round 5) -------------------

@register(
    "events_time_weighted_avg",
    oracle="""
WITH seq AS (
  SELECT user_id, value, epoch_us(ts) AS us,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts), event_id) AS next_us
  FROM events
),
iv AS (SELECT user_id, value, next_us - us AS dur FROM seq WHERE next_us IS NOT NULL)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_intervals,
       round(CAST(sum(CAST(value AS DECIMAL(18,6)) * dur) AS DOUBLE)
             / CAST(sum(dur) AS DOUBLE), 6) AS twap
FROM iv GROUP BY user_id
""",
)
def events_time_weighted_avg(spark, sf_dir):
    """Time-weighted average value per user (TWAP): each reading is
    held until the next one, so it's weighted by its holding duration
    — the correct average for irregularly-sampled series, where the
    plain mean over-weights bursts. Duration from one lead() window in
    the integer-µs domain; the weighted sum is DECIMAL×BIGINT, exact
    under any partitioning. The final quotient is rounded to 6
    decimals: the exact decimal sum exceeds 2^63 in raw units, and
    int128-decimal→double conversion is double-rounded on some engines
    — rounding absorbs that last-ulp platform difference."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "value",
        "ts",
        F.lead("ts").over(w).alias("next_us"),
    ).filter(F.col("next_us").isNotNull())
    iv = seq.select(
        "user_id", "value", (F.col("next_us") - F.col("ts")).alias("dur")
    )
    return iv.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)") * F.col("dur")).cast(
                "double"
            )
            / F.sum("dur").cast("double"),
            6,
        ).alias("twap"),
    )


@register(
    "events_user_max_drawdown",
    oracle="""
WITH c AS (
  SELECT user_id, event_id,
         sum(CAST(value AS DECIMAL(18,6)))
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM events
),
r AS (
  SELECT user_id, cum,
         max(cum) OVER (PARTITION BY user_id ORDER BY event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS runmax
  FROM (SELECT * FROM c ORDER BY user_id, event_id)
)
SELECT user_id, CAST(max(runmax - cum) AS DOUBLE) AS max_drawdown
FROM r GROUP BY user_id
""",
)
def events_user_max_drawdown(spark, sf_dir):
    """Maximum drawdown of each user's cumulative value series
    (largest drop from a running peak) — the canonical
    path-dependent window metric: running DECIMAL sum, running max
    over it, max gap. Everything is exact decimal arithmetic until the
    final cast, so the answer is identical under any partitioning —
    a metric whose float version famously differs run-to-run on
    parallel engines. Two stacked frames in ONE window pass per user
    partition."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = ev.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(18,6)")).over(wcum).alias("cum"),
    )
    wmax = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    r = c.select(
        "user_id", "cum", F.max("cum").over(wmax).alias("runmax")
    )
    return r.groupBy("user_id").agg(
        F.max(F.col("runmax") - F.col("cum")).cast("double").alias("max_drawdown")
    )


@register(
    "parts_abc_classification",
    oracle="""
WITH rev AS (
  SELECT l_partkey,
         CAST(CAST(sum(CAST(round((l_extendedprice * (1 - l_discount))
                                  * 1000000) AS BIGINT)) AS BIGINT)
              AS BIGINT) AS rev_u
  FROM lineitem GROUP BY l_partkey
),
ranked AS (
  SELECT l_partkey, rev_u,
         CAST(sum(rev_u)
              OVER (ORDER BY rev_u DESC, l_partkey ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_u,
         CAST(sum(rev_u) OVER () AS BIGINT) AS total_u
  FROM rev
)
SELECT l_partkey, CAST(rev_u AS DOUBLE) / 1000000 AS revenue,
       CASE WHEN cum_u <= CAST(total_u AS HUGEINT) * 4 // 5 THEN 'A'
            WHEN cum_u <= CAST(total_u AS HUGEINT) * 19 // 20 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked
""",
)
def parts_abc_classification(spark, sf_dir):
    """ABC inventory classification: parts ranked by discounted
    revenue; the running share cuts A (first 80% of revenue) / B (next
    15%) / C (tail). Round 7: the whole chain is exact BIGINT
    micro-units (``functions.cents_units`` — discounted revenue is
    1e-4-quantized so round(x*1e6) is lossless; BASELINE.md §d measures
    the DECIMAL buffer this replaces at 4.5x on q1), and the A/B/C
    boundaries are INTEGER comparisons (cum*10 <= total*8), so every
    class is exact at any scale with no double rounding anywhere.
    Exact integer running sums are order-independent, which licenses
    computing them with the hierarchical ``operators.ranks.
    ordered_scan`` instead of an unpartitioned running-sum window
    (|parts| at 100 TB is 1e8+ — a global window would serialize the
    part relation through one task). The grand total comes from the
    scan's blocks relation for free (no second aggregate pass).
    Headroom: the running sum itself wraps at 2^63 micro-dollars
    (~9.2e12 dollars, ~4x the 100x replica's total); the threshold
    arithmetic is DECIMAL-routed so it adds no earlier bound. The whale-curve complement to
    revenue_concentration_deciles."""
    from wikipedia_data_pipeline_spark.functions import UNIT, cents_units
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            cents_units(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
            )
        ).alias("rev_u")
    )
    sc = ordered_scan(
        rev,
        [F.desc("rev_u"), F.asc("l_partkey")],
        running=[("cum_u", F.col("rev_u"), "sum")],
        with_totals=True,
    )
    # integer-exact class thresholds WITHOUT overflowing int64: the
    # grand total in micro-units already nears 2^61 at the 100x replica
    # (ANSI mode catches total*100 loudly), so the scaled comparisons
    # route through DECIMAL(38,0) floor-division — thr = floor(total *
    # 4/5), the exact integer form of cum/total <= 0.8 (DuckDB twin:
    # HUGEINT `//`). Per-row cost is a decimal compare on the part-
    # sized relation only.
    tot = F.col("cum_u_total").cast("decimal(38,0)")

    def thr(num, den):
        scaled = tot * num
        return ((scaled - scaled % den) / den).cast("decimal(38,0)")

    return sc.select(
        "l_partkey",
        (F.col("rev_u").cast("double") / UNIT).alias("revenue"),
        F.when(F.col("cum_u") <= thr(4, 5), "A")
        .when(F.col("cum_u") <= thr(19, 20), "B")
        .otherwise("C")
        .alias("abc_class"),
    )


# ---------------------------------------------------------------------------
# Ordered array aggregation — per-nation monthly revenue sparklines
# ---------------------------------------------------------------------------

_SPARK_ORACLE = """
WITH m AS (
  SELECT n_name,
         year(o_orderdate) * 12 + month(o_orderdate) AS mth,
         sum(CAST(o_totalprice AS DECIMAL(18,6))) AS rev_dec
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, year(o_orderdate) * 12 + month(o_orderdate)
)
SELECT n_name,
       CAST(count(*) AS BIGINT) AS n_months,
       array_to_string(list(mth ORDER BY mth), ',') AS months,
       array_to_string(list(CAST(rev_dec * 100 AS BIGINT) ORDER BY mth),
                       ',') AS revenues_cents
FROM m GROUP BY n_name
"""


@register("nation_revenue_sparklines", oracle=_SPARK_ORACLE)
def nation_revenue_sparklines(spark, sf_dir):
    """Ordered array aggregation: each nation's monthly revenue series
    collected into aligned (months[], revenues[]) arrays — the
    "sparkline per entity" readout BI layers and feature stores both
    want (a series as one row, not 80).

    Spark's collect_list is partition-order-nondeterministic, so the
    engine collects (mth, rev) STRUCTS and sort_array's them — struct
    ordering is lexicographic on fields, and mth is unique per group,
    giving a declared total order; the aligned arrays are then
    projected out with transform(). Same month-key ordering as
    DuckDB's list(... ORDER BY mth).

    The series columns are emitted comma-joined (months as ints,
    revenues as exact cents BIGINT) rather than as raw arrays: the
    driver's pandas canonicalizer cannot hash list cells, and cents
    strings compare bit-exactly where doubles would be at the mercy
    of each engine's float formatter.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    m = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "n_name",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias(
                "mth"
            ),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias(
                "rev_dec"
            )
        )
    )
    pairs = F.sort_array(
        F.collect_list(
            F.struct(
                F.col("mth").alias("mth"),
                (F.col("rev_dec") * 100).cast("bigint").alias("rev_cents"),
            )
        )
    )
    return m.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.array_join(
            F.transform(pairs, lambda p: p["mth"].cast("string")), ","
        ).alias("months"),
        F.array_join(
            F.transform(pairs, lambda p: p["rev_cents"].cast("string")), ","
        ).alias("revenues_cents"),
    )


# ---------------------------------------------------------------------------
# Weighted median (quantity-weighted price per brand)
# ---------------------------------------------------------------------------

_WMED_ORACLE = """
WITH w AS (
  SELECT p_brand,
         CAST(round(l_extendedprice / l_quantity * 100) AS BIGINT)
           AS unit_cents,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
g AS (
  SELECT p_brand, unit_cents, sum(qty) AS qty
  FROM w GROUP BY p_brand, unit_cents
),
c AS (
  SELECT p_brand, unit_cents,
         sum(qty) OVER (PARTITION BY p_brand ORDER BY unit_cents
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cum,
         sum(qty) OVER (PARTITION BY p_brand) AS tot
  FROM g
)
SELECT p_brand,
       CAST(min(CASE WHEN cum * 2 >= tot THEN unit_cents END) AS BIGINT)
         AS weighted_median_cents,
       CAST(max(tot) AS BIGINT) AS total_qty
FROM c GROUP BY p_brand
"""


@register("lineitem_weighted_median_price", oracle=_WMED_ORACLE)
def lineitem_weighted_median_price(spark, sf_dir):
    """Quantity-weighted median unit price per brand — the volume-
    representative "typical price" (an unweighted median over line
    items lets many tiny orders outvote one large one).

    Weighted percentile has no builtin in either engine; the engine
    spells it as the textbook definition: collapse to (group, value,
    Σweight), prefix-sum the weights in value order, and take the first
    value whose cumulative weight reaches half the total (discrete
    selection — no interpolation, so the result is an actual observed
    price and bit-portable). The 2× cross-multiplication keeps the
    crossing test integral. Lineage: one broadcast dim join + one
    hash-agg collapse; the windows run per-brand over collapsed
    distinct prices.
    """
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    w = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "p_brand",
        F.round(F.col("l_extendedprice") / F.col("l_quantity") * 100)
        .cast("long")
        .alias("unit_cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    g = w.groupBy("p_brand", "unit_cents").agg(F.sum("qty").alias("qty"))
    run = (
        Window.partitionBy("p_brand")
        .orderBy("unit_cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot_w = Window.partitionBy("p_brand")
    c = g.select(
        "p_brand",
        "unit_cents",
        F.sum("qty").over(run).alias("cum"),
        F.sum("qty").over(tot_w).alias("tot"),
    )
    return c.groupBy("p_brand").agg(
        F.min(
            F.when(F.col("cum") * 2 >= F.col("tot"), F.col("unit_cents"))
        )
        .cast("long")
        .alias("weighted_median_cents"),
        F.max("tot").cast("long").alias("total_qty"),
    )


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman concentration index
# ---------------------------------------------------------------------------

_HHI_ORACLE = """
WITH rev AS (
  SELECT n_name, o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
              AS DECIMAL(38,0)) AS cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, o_custkey
),
s AS (
  SELECT n_name,
         CAST(count(*) AS BIGINT) AS n_customers,
         sum(cents * cents) AS sq,
         sum(cents) AS tot
  FROM rev GROUP BY n_name
)
SELECT n_name, n_customers,
       CAST(sq AS DOUBLE) / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE))
         AS hhi
FROM s
"""


@register("nation_revenue_hhi", oracle=_HHI_ORACLE)
def nation_revenue_hhi(spark, sf_dir):
    """Herfindahl-Hirschman concentration of customer revenue within
    each nation: Σ share² — "is this market a few whales or a long
    tail?" (1/n = perfectly even, 1.0 = single customer). The
    identity Σ(cᵢ/T)² = Σcᵢ²/T² lets every term stay integral: cents
    totals, DECIMAL squares and sums, ONE double division at the end —
    no per-customer share division at all.

    Two hash-aggs that share the customer key ordering (per-customer
    cents, then per-nation moments); dims broadcast.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("decimal(38,0)")
            .alias("cents")
        )
    )
    s = rev.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("cents") * F.col("cents")).alias("sq"),
        F.sum("cents").alias("tot"),
    )
    return s.select(
        "n_name",
        "n_customers",
        (
            F.col("sq").cast("double")
            / (F.col("tot").cast("double") * F.col("tot").cast("double"))
        ).alias("hhi"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve (customer lifetime, right-censored)
# ---------------------------------------------------------------------------
# The product Π(1 − dᵢ/nᵢ) is evaluated as exp(Σ ln(·)) with the log
# terms quantized to BIGINT nano-nats — the associative-sum discipline
# that makes every multiplicative statistic in this engine
# partitioning-proof.

_KM_ORACLE = f"""
WITH {LIFETIME_RISK_CTES},
terms AS (
  SELECT duration_m, d, n_at_risk,
         CASE WHEN d < n_at_risk
              THEN CAST(round(ln(1.0 - CAST(d AS DOUBLE)
                                     / CAST(n_at_risk AS DOUBLE))
                              * 1000000000.0) AS BIGINT)
              ELSE NULL END AS lg_nano
  FROM risk WHERE d > 0
)
SELECT duration_m, d AS n_churned, n_at_risk,
       CASE WHEN min(CASE WHEN lg_nano IS NULL THEN 0 ELSE 1 END)
                 OVER (ORDER BY duration_m
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) = 0
            THEN NULL
            ELSE CAST(sum(lg_nano) OVER (ORDER BY duration_m
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS BIGINT)
       END AS log_survival_nano
FROM terms
"""


@register("orders_survival_curve", oracle=_KM_ORACLE)
def orders_survival_curve(spark, sf_dir):
    """Kaplan-Meier customer-lifetime curve: duration = months between
    first and last order, churn = no order within 6 months of dataset
    end (later customers are right-CENSORED — they leave the risk set
    without counting as deaths, the distinction naive retention math
    gets wrong).

    S(t) = Π(1−dᵢ/nᵢ) rides as a prefix sum of nano-nat log terms
    (associative → cluster-size-proof), shipped as the exact integer
    log_survival_nano (S = exp(·/1e9); a NULL marks the d=n collapse
    to S=0). The fact scan collapses to one row per customer, then one
    row per distinct duration; both prefix sums (at-risk depletion,
    log-survival accumulation) ride hierarchical `ordered_scan`s, so a
    fine-grained survival clock (seconds instead of months) never
    serializes through an unpartitioned window — the
    logrank/KS/MWU/DeLong discipline. The d=0 rows stay in the scan
    (they contribute exactly ln(1)=0 to the running sum) and drop only
    at the final projection, which keeps the scan's total order the
    full duration domain.
    """
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan

    risk = lifetime_risk(spark, sf_dir)
    lg = F.when(
        F.col("d") < F.col("n_at_risk"),
        F.round(
            F.log(
                1.0 - F.col("d").cast("double") / F.col("n_at_risk").cast("double")
            )
            * 1_000_000_000.0
        ).cast("long"),
    )
    terms = risk.select(
        "duration_m",
        "d",
        "n_at_risk",
        F.coalesce(lg, F.lit(0)).alias("lg0"),
        (F.col("d") >= F.col("n_at_risk")).cast("long").alias("dead"),
    )
    scan2 = ordered_scan(
        terms,
        ["duration_m"],
        running=[("run_lg", "lg0", "sum"), ("run_dead", "dead", "sum")],
    )
    # The readout is the EXACT integer nano-nat log-survival (a NULL
    # marks the S=0 collapse where d reached n — a positive run_dead
    # means some earlier-or-equal duration collapsed). S(t) itself is
    # exp(log_survival_nano/1e9) — left to the consumer because exp()
    # differs by 1 ULP between Java's and libm's implementations, and
    # this engine only ships bit-reproducible columns.
    surv = F.when(
        F.col("run_dead") > 0, F.lit(None).cast("long")
    ).otherwise(F.col("run_lg").cast("long"))
    return scan2.filter(F.col("d") > 0).select(
        "duration_m",
        F.col("d").alias("n_churned"),
        "n_at_risk",
        surv.alias("log_survival_nano"),
    )


# ---------------------------------------------------------------------------
# Seasonal decomposition lite (trend / seasonal / residual, monthly)
# ---------------------------------------------------------------------------
# Every component is derived from DECIMAL-exact monthly sums; to keep
# the seasonal means order-proof, deviations stay in the ×13 decimal
# domain (13·rev − Σ₁₃rev is exact) and only the final /13-style
# ratios are IEEE.

_DECOMP_ORACLE = """
WITH m AS (
  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS mth,
         month(o_orderdate) AS moy,
         sum(CAST(o_totalprice AS DECIMAL(18,6))) AS rev_dec
  FROM orders GROUP BY 1, 2
),
ma AS (
  SELECT mth, moy, rev_dec,
         CASE WHEN count(*) OVER w13 = 13
              THEN sum(rev_dec) OVER w13 END AS sum13_dec
  FROM m
  WINDOW w13 AS (ORDER BY mth ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)
),
dev AS (
  SELECT mth, moy, rev_dec, sum13_dec,
         13 * rev_dec - sum13_dec AS dev13_dec
  FROM ma
),
seas AS (
  SELECT moy,
         CAST(sum(dev13_dec) AS DOUBLE) / (13.0 * count(dev13_dec))
           AS seasonal
  FROM dev WHERE dev13_dec IS NOT NULL GROUP BY moy
)
SELECT dev.mth,
       CAST(rev_dec AS DOUBLE) AS revenue,
       CAST(sum13_dec AS DOUBLE) / 13.0 AS trend,
       seas.seasonal,
       CASE WHEN sum13_dec IS NOT NULL
            THEN CAST(rev_dec AS DOUBLE)
                 - CAST(sum13_dec AS DOUBLE) / 13.0
                 - seas.seasonal END AS residual
FROM dev JOIN seas ON dev.moy = seas.moy
"""


@register("orders_seasonal_decompose", oracle=_DECOMP_ORACLE)
def orders_seasonal_decompose(spark, sf_dir):
    """Classical additive decomposition of monthly revenue into trend
    (centered 13-month moving average), month-of-year seasonal index
    (mean deviation from trend), and residual — the pre-model read
    every forecasting pipeline does first.

    Order-proofing: monthly revenue is DECIMAL-summed; the 13-month MA
    stays a DECIMAL window sum; deviations live in the exact ×13
    decimal domain (13·rev − Σ₁₃) so the per-month seasonal MEANS are
    decimal sums too — IEEE enters only in the final fixed ratios.
    Edge months (< 13-wide window) carry NULL trend/residual rather
    than a truncated average. All windows run over the ~one-row-per-
    month aggregate, never the fact table.
    """
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mth"),
        F.month("o_orderdate").alias("moy"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("rev_dec"))
    w13 = Window.orderBy("mth").rowsBetween(-6, 6)
    ma = m.select(
        "mth",
        "moy",
        "rev_dec",
        F.when(
            F.count(F.lit(1)).over(w13) == 13, F.sum("rev_dec").over(w13)
        ).alias("sum13_dec"),
    )
    dev = ma.withColumn(
        "dev13_dec", F.lit(13) * F.col("rev_dec") - F.col("sum13_dec")
    )
    seas = (
        dev.filter(F.col("dev13_dec").isNotNull())
        .groupBy("moy")
        .agg(
            (
                F.sum("dev13_dec").cast("double")
                / (13.0 * F.count("dev13_dec"))
            ).alias("seasonal")
        )
    )
    out = dev.join(F.broadcast(seas), "moy")
    trend = F.col("sum13_dec").cast("double") / 13.0
    return out.select(
        "mth",
        F.col("rev_dec").cast("double").alias("revenue"),
        trend.alias("trend"),
        "seasonal",
        F.when(
            F.col("sum13_dec").isNotNull(),
            F.col("rev_dec").cast("double") - trend - F.col("seasonal"),
        ).alias("residual"),
    )


# ---------------------------------------------------------------------------
# XYZ demand-variability classes (companion to ABC revenue classes)
# ---------------------------------------------------------------------------

_XYZ_ORACLE = """
WITH pm AS (
  SELECT l_partkey, year(o_orderdate) * 12 + month(o_orderdate) AS mth,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_partkey, year(o_orderdate) * 12 + month(o_orderdate)
),
s AS (
  SELECT l_partkey,
         CAST(count(*) AS BIGINT) AS n_months,
         sum(CAST(qty AS DECIMAL(38,0))) AS sq,
         sum(CAST(qty * qty AS DECIMAL(38,0))) AS sqq
  FROM pm GROUP BY l_partkey
),
cv AS (
  SELECT l_partkey, n_months,
         sqrt(CAST(n_months AS DOUBLE) * CAST(sqq AS DOUBLE)
              - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
         / CAST(sq AS DOUBLE) AS cv
  FROM s WHERE sq > 0 AND n_months > 1
)
SELECT l_partkey, n_months, cv,
       CASE WHEN cv < 0.5 THEN 'X' WHEN cv < 1.0 THEN 'Y'
            ELSE 'Z' END AS xyz_class
FROM cv
"""


@register("parts_xyz_variability", oracle=_XYZ_ORACLE)
def parts_xyz_variability(spark, sf_dir):
    """XYZ demand-variability classification per part — the companion
    axis to `parts_abc_classification` (ABC = how much value, XYZ = how
    predictable): coefficient of variation of monthly demand, cut at
    the standard 0.5 / 1.0 boundaries.

    CV = √(n·Σq² − (Σq)²) / Σq on DECIMAL-exact integer moments —
    algebraically equal to std/mean but computed entirely from
    associative sums, with one fixed IEEE finale (the √n factor
    cancels in the class boundaries' scale — boundaries stated in the
    population-std convention). Two hash-aggs, both keyed on partkey.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    pm = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            "l_partkey",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias(
                "mth"
            ),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
    )
    dec = "decimal(38,0)"
    s = pm.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.sum(F.col("qty").cast(dec)).alias("sq"),
        F.sum((F.col("qty") * F.col("qty")).cast(dec)).alias("sqq"),
    )
    nd = F.col("n_months").cast("double")
    sq, sqq = F.col("sq").cast("double"), F.col("sqq").cast("double")
    cv = F.sqrt(nd * sqq - sq * sq) / sq
    out = s.filter((F.col("sq") > 0) & (F.col("n_months") > 1)).select(
        "l_partkey",
        "n_months",
        cv.alias("cv"),
    )
    return out.withColumn(
        "xyz_class",
        F.when(F.col("cv") < 0.5, "X")
        .when(F.col("cv") < 1.0, "Y")
        .otherwise("Z"),
    )


# ---------------------------------------------------------------------------
# Repeat-purchase conversion curve (time to second order)
# ---------------------------------------------------------------------------

_REPEAT_ORACLE = """
WITH ranked AS (
  SELECT o_custkey,
         year(o_orderdate) * 12 + month(o_orderdate) AS mth,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
),
gaps AS (
  SELECT f.o_custkey, s.mth - f.mth AS gap_m
  FROM ranked f LEFT JOIN ranked s
    ON f.o_custkey = s.o_custkey AND s.rn = 2
  WHERE f.rn = 1
),
tot AS (SELECT count(*) AS n_customers FROM gaps)
SELECT gap_m,
       CAST(count(*) AS BIGINT) AS n_customers_at_gap,
       CAST(sum(count(*)) OVER (ORDER BY gap_m NULLS LAST
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT)
         AS cum_converted,
       CAST(sum(count(*)) OVER (ORDER BY gap_m NULLS LAST
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS DOUBLE)
         / CAST((SELECT n_customers FROM tot) AS DOUBLE)
         AS cum_conversion
FROM gaps
WHERE gap_m IS NOT NULL
GROUP BY gap_m
"""


@register("orders_repeat_purchase_curve", oracle=_REPEAT_ORACLE)
def orders_repeat_purchase_curve(spark, sf_dir):
    """Time-to-second-order conversion curve: for each month gap g, how
    many customers placed their second order exactly g months after
    their first, and the cumulative share of ALL first-time customers
    converted by then — the repeat-purchase funnel (distinct from
    `cohort_value_curves`, which accumulates value, not conversion).

    One window ranks orders per customer; first and second orders meet
    in a key-local self-join (rn pushed as a predicate); the curve is a
    running sum over the ≤ |months| grouped gaps. Never-converting
    customers count in the denominator — dropping them is the classic
    conversion-rate inflation bug.
    """
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    mth = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    ranked = o.select(
        "o_custkey",
        mth.alias("mth"),
        F.row_number()
        .over(
            Window.partitionBy("o_custkey").orderBy(
                "o_orderdate", "o_orderkey"
            )
        )
        .alias("rn"),
    )
    firsts = ranked.filter(F.col("rn") == 1).select(
        "o_custkey", F.col("mth").alias("m1")
    )
    seconds = ranked.filter(F.col("rn") == 2).select(
        "o_custkey", F.col("mth").alias("m2")
    )
    gaps = firsts.join(seconds, "o_custkey", "left").select(
        (F.col("m2") - F.col("m1")).alias("gap_m")
    )
    # denominator as a 1-row broadcast, not a driver-side .count() —
    # the plan stays fully lazy/declarative
    tot = gaps.agg(F.count(F.lit(1)).alias("n_customers"))
    g = (
        gaps.filter(F.col("gap_m").isNotNull())
        .groupBy("gap_m")
        .agg(F.count(F.lit(1)).alias("n_customers_at_gap"))
        .crossJoin(F.broadcast(tot))
    )
    run = Window.orderBy("gap_m").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = F.sum("n_customers_at_gap").over(run)
    return g.select(
        "gap_m",
        "n_customers_at_gap",
        cum.cast("long").alias("cum_converted"),
        (cum.cast("double") / F.col("n_customers").cast("double")).alias(
            "cum_conversion"
        ),
    )


# ---------------------------------------------------------------------------
# Cross-supplier price dispersion per part
# ---------------------------------------------------------------------------

_DISPERSION_ORACLE = """
WITH sup AS (
  SELECT l_partkey, l_suppkey,
         CAST(min(round(l_extendedprice / l_quantity * 100)) AS BIGINT)
           AS unit_cents
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
s AS (
  SELECT l_partkey,
         CAST(count(*) AS BIGINT) AS n_suppliers,
         CAST(min(unit_cents) AS BIGINT) AS min_cents,
         CAST(max(unit_cents) AS BIGINT) AS max_cents
  FROM sup GROUP BY l_partkey HAVING count(*) >= 3
)
SELECT l_partkey, n_suppliers, min_cents, max_cents,
       CAST(max_cents - min_cents AS DOUBLE) / CAST(min_cents AS DOUBLE)
         AS dispersion
FROM s WHERE min_cents > 0
"""


@register("lineitem_price_dispersion", oracle=_DISPERSION_ORACLE)
def lineitem_price_dispersion(spark, sf_dir):
    """Cross-supplier price dispersion per part: each supplier's BEST
    unit price, then the (max−min)/min spread across suppliers — the
    procurement arbitrage signal ("are we overpaying for parts that
    several suppliers sell?").

    Two hash-aggs on the same (partkey, suppkey) → partkey key path —
    Catalyst plans the second as a partial re-use of the first
    shuffle's partitioning. Integer cents throughout; one fixed ratio
    at output. Parts with < 3 suppliers are noise and pruned in the
    aggregate's HAVING.
    """
    li = load_table(spark, sf_dir, "lineitem")
    sup = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(
            F.round(F.col("l_extendedprice") / F.col("l_quantity") * 100)
        )
        .cast("long")
        .alias("unit_cents")
    )
    s = (
        sup.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.min("unit_cents").cast("long").alias("min_cents"),
            F.max("unit_cents").cast("long").alias("max_cents"),
        )
        .filter(F.col("n_suppliers") >= 3)
    )
    return s.filter(F.col("min_cents") > 0).select(
        "l_partkey",
        "n_suppliers",
        "min_cents",
        "max_cents",
        (
            (F.col("max_cents") - F.col("min_cents")).cast("double")
            / F.col("min_cents").cast("double")
        ).alias("dispersion"),
    )


# ---------------------------------------------------------------------------
# Skyline (Pareto frontier) query
# ---------------------------------------------------------------------------

_SKYLINE_ORACLE = """
WITH p AS (
  SELECT p_partkey, p_size,
         CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
         max(p_size) OVER (ORDER BY CAST(round(p_retailprice * 100) AS BIGINT),
                                    p_size DESC, p_partkey
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS best_size_cheaper
  FROM part
)
SELECT p_partkey, p_size, price_cents
FROM p
WHERE best_size_cheaper IS NULL OR p_size > best_size_cheaper
"""


@register("parts_skyline_price_size", oracle=_SKYLINE_ORACLE)
def parts_skyline_price_size(spark, sf_dir):
    """Skyline (Pareto frontier) over parts: minimize price, maximize
    size — a part survives iff no strictly-cheaper-or-equal part has
    size ≥ its own. The multi-criteria shortlist operator (product
    search, supplier selection) that a plain ORDER BY cannot express.

    The classic nested-loop dominance test is O(n²); sorted by (price,
    size DESC, key), a part is dominated exactly when the running max
    size over its predecessors reaches its size — ONE sort + ONE
    running pass, the textbook sort-filter skyline. The (size DESC,
    key) tie-break makes equal-price groups self-dominating in
    deterministic order. The exclusive prefix max runs through
    ``operators.ranks.ordered_scan`` (range-partition by price →
    per-block prefix maxima → block carry-in), never a
    single-partition window: |parts| at 100 TB is 1e8+.
    """
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan

    p = load_table(spark, sf_dir, "part")
    price = F.round(F.col("p_retailprice") * 100).cast("long")
    staged = ordered_scan(
        p.select("p_partkey", "p_size", price.alias("price_cents")),
        ["price_cents", F.desc("p_size"), F.asc("p_partkey")],
        running=[("best_size_cheaper", "p_size", "max", "exclusive")],
    )
    return staged.filter(
        F.col("best_size_cheaper").isNull()
        | (F.col("p_size") > F.col("best_size_cheaper"))
    ).select("p_partkey", "p_size", "price_cents")


# ---------------------------------------------------------------------------
# Per-customer spend-trend regression fleet
# ---------------------------------------------------------------------------

_CUST_TREND_ORACLE = """
WITH m AS (
  SELECT o_custkey,
         year(o_orderdate) * 12 + month(o_orderdate) - 24000 AS x,
         CAST(round(o_totalprice * 100) AS BIGINT) AS y
  FROM orders
),
s AS (
  SELECT o_custkey,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(x AS DECIMAL(38,0))) AS sx,
         sum(CAST(y AS DECIMAL(38,0))) AS sy,
         sum(CAST(x * y AS DECIMAL(38,0))) AS sxy,
         sum(CAST(x * x AS DECIMAL(38,0))) AS sxx
  FROM m GROUP BY o_custkey
)
SELECT o_custkey, n,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         AS slope_cents_per_month
FROM s
WHERE n >= 3
  AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
"""


@register("customer_spend_trend", oracle=_CUST_TREND_ORACLE)
def customer_spend_trend(spark, sf_dir):
    """A regression FLEET: per-customer OLS slope of order value vs.
    calendar month — thousands of independent model fits in ONE
    aggregate pass (the "is each account growing or shrinking?"
    screen). This is the scale shape that matters: fitting per-entity
    models via groupBy moments costs the same shuffle as a count —
    fitting them one-by-one driver-side costs |customers| jobs.

    Same exactness discipline as `events_linear_trend` (integer-scaled
    y, centered integer x, DECIMAL moments, fixed IEEE finale), keyed
    per customer; degenerate fits (single month, n < 3) filtered in
    the aggregate domain.
    """
    o = load_table(spark, sf_dir, "orders")
    x = (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 24000).alias(
        "x"
    )
    y = F.round(F.col("o_totalprice") * 100).cast("long").alias("y")
    s = ols_moments(o.select("o_custkey", x, y), "o_custkey")
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    denom = nd * sxx - sx * sx
    return (
        s.filter((F.col("n") >= 3) & (denom > 0))
        .select(
            "o_custkey",
            "n",
            ((nd * sxy - sx * sy) / denom).alias("slope_cents_per_month"),
        )
    )


# ---------------------------------------------------------------------------
# Trade-flow matrix (supplier nation × customer nation)
# ---------------------------------------------------------------------------

_FLOW_ORACLE = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(count(*) AS BIGINT) AS n_lineitems,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
GROUP BY sn.n_name, cn.n_name
"""


@register("trade_flow_matrix", oracle=_FLOW_ORACLE)
def trade_flow_matrix(spark, sf_dir):
    """Supplier-nation × customer-nation revenue matrix — the
    generalization of Q7 (which picks two nations) to the complete
    trade-flow readout behind geo dashboards and routing decisions
    (one cell per trading nation pair; ≤ 25×25).

    One pass over lineitem: supplier/nation/customer dims broadcast
    (nation joined TWICE under different aliases — the dual-alias dim
    shape), orders joined on the fact key, then a 625-cell hash-agg
    with map-side partials. Revenue rides DECIMAL.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Trailing-twelve-months revenue
# ---------------------------------------------------------------------------

_TTM_ORACLE = """
WITH m AS (
  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS mth,
         sum(CAST(o_totalprice AS DECIMAL(18,6))) AS rev_dec
  FROM orders GROUP BY 1
)
SELECT mth,
       CAST(rev_dec AS DOUBLE) AS revenue,
       CAST(sum(rev_dec) OVER (ORDER BY mth
                               ROWS BETWEEN 11 PRECEDING
                               AND CURRENT ROW) AS DOUBLE) AS ttm_revenue,
       CAST(count(*) OVER (ORDER BY mth
                           ROWS BETWEEN 11 PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS n_months_in_window
FROM m
"""


@register("orders_ttm_revenue", oracle=_TTM_ORACLE)
def orders_ttm_revenue(spark, sf_dir):
    """Trailing-twelve-months revenue per month — the smoothed growth
    line every finance dashboard leads with (the ROWS-12 sliding
    DECIMAL window; n_months_in_window exposes the warm-up period the
    first 11 months spend below a full window, rather than silently
    reporting partial TTMs as if complete).

    The fact table collapses to one row per month before the window;
    the DECIMAL sum stays exact through the frame and casts once.
    Calendar months collapse to integers, so a month with zero orders
    would shorten the frame — at this data density every month is
    present, and the n_months readout makes any gap visible.
    """
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mth")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("rev_dec"))
    w = Window.orderBy("mth").rowsBetween(-11, Window.currentRow)
    return m.select(
        "mth",
        F.col("rev_dec").cast("double").alias("revenue"),
        F.sum("rev_dec").over(w).cast("double").alias("ttm_revenue"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_months_in_window"),
    )


# ---------------------------------------------------------------------------
# Exact distributed percentiles (order-statistic selection, no sketch)
# ---------------------------------------------------------------------------

@register(
    "lineitem_exact_percentiles",
    oracle="""
WITH r AS (
  SELECT l_extendedprice AS value,
         row_number() OVER (ORDER BY l_extendedprice, l_orderkey,
                            l_linenumber) AS rnk,
         count(*) OVER () AS n
  FROM lineitem
)
SELECT CAST(p AS DOUBLE) AS p, value, CAST(rnk AS BIGINT) AS rank_n
FROM r JOIN (VALUES (0.5), (0.9), (0.99)) t(p)
  ON rnk = CAST(ceil(p * n) AS BIGINT)
""",
)
def lineitem_exact_percentiles(spark, sf_dir):
    """EXACT p50/p90/p99 of lineitem price by distributed order-statistic
    selection — not approx_percentile (whose sketch error is
    configuration-dependent and engine-specific, so it can never be
    oracle-checked exactly). The global rank over (value, orderkey,
    linenumber) — a total order, so the selected row is unique — comes
    from ``operators.ranks.ordered_scan``; the quantile definition is
    the lower order statistic at rank ceil(p·N), computed with the same
    expression in both engines. At 100 TB this is ONE
    fact-sized shuffle (the range exchange), per-block counts, and a
    local sort of only the <=3 target blocks
    (operators.ranks.exact_quantiles — selection, not rank-everything;
    round 7) — the exact-selection alternative when a sketch's error
    bars are not acceptable (billing, SLA attestation)."""
    from wikipedia_data_pipeline_spark.operators.ranks import exact_quantiles

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("value"), "l_orderkey", "l_linenumber"
    )
    n = li.agg(F.count(F.lit(1)).alias("_n"))
    ps = (
        spark.range(1)
        .select(
            F.explode(
                F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
            ).alias("p")
        )
        .crossJoin(F.broadcast(n))
        .select("p", F.ceil(F.col("p") * F.col("_n")).cast("long").alias("k"))
    )
    # r7: selection instead of rank-everything — ranks.exact_quantiles
    # counts blocks, then sorts ONLY the <=3 blocks holding the target
    # ranks (measured ~2x on the 100x replica; identical rows).
    return exact_quantiles(
        li, ["value", "l_orderkey", "l_linenumber"], ps
    ).select("p", "value", F.col("k").alias("rank_n"))
