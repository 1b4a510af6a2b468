"""TPC-H-shaped decision-support breadth + event-funnel analytics.

Adapted to the driver testdata schema (lineitem has no
commitdate/receiptdate/shipmode and there is no partsupp table, so Q4
and Q12 keep their canonical *shapes* — EXISTS-driven priority counts,
two-way conditional bucket aggregation — over the columns that exist;
Q13/Q18/Q22 are faithful).

Scale notes: every query here is join + hash-agg on declared keys —
Catalyst broadcast-plans the dimension sides; the fact-side scans push
their filters into parquet. The funnel/retention pair computes per-user
stage timestamps in ONE pass (conditional min-aggregation) instead of
self-joining the events table per stage — at 100 TB a 3-stage funnel
as a 3-way self-join would shuffle the fact table three times; the
conditional-agg form shuffles it once.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.functions import (
    cents_sum,
    dec_sum,
    sql_cents_sum,
    ts_us,
)
from wikipedia_data_pipeline_spark.queries.relational_queries import (
    Q3_ORACLE,
    Q5_ORACLE,
    q3_top_revenue,
    q5_nation_revenue,
)
from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table

US_PER_DAY = 86_400_000_000


@register(
    "q4_order_priority",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
)
GROUP BY o_orderpriority
""",
)
def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS semi-join from orders into lineitem, then
    priority counts (late-shipping predicate stands in for the missing
    commitdate/receiptdate pair)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@register(
    "q12_flag_priority_buckets",
    oracle="""
SELECT l_returnflag,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY l_returnflag
""",
)
def q12_flag_priority_buckets(spark, sf_dir):
    """TPC-H Q12 shape: fact join + two-way conditional bucket counts
    (returnflag stands in for the missing shipmode)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q13_customer_distribution",
    oracle="""
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
""",
)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13: orders-per-customer histogram (left join keeps
    zero-order customers; two cascaded hash-aggs)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# TPC-H Q18, shared by the plain and the bucketed-twin registration.
_Q18_ORACLE = f"""
SELECT c_custkey, o_orderkey,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice, total_qty
FROM orders
JOIN customer ON c_custkey = o_custkey
JOIN (
  SELECT l_orderkey, {sql_cents_sum('l_quantity', 'total_qty')}
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(round(l_quantity * 1000000) AS BIGINT)) > 250000000
) big ON big.l_orderkey = o_orderkey
"""


def _large_orders(c, o, li):
    """Q18 over the given scans: the HAVING pre-aggregation shrinks the
    fact side BEFORE the joins. ``c`` may carry a broadcast hint."""
    # cents_sum, not dec_sum: the fact-sized many-group pre-agg is this
    # query's cost center and the BIGINT buffer beats the boxed decimal
    # (100x A/B: 4.34 -> 3.14 s; l_quantity is micro-unit-quantized and
    # per-order sums are orders of magnitude under the 2^53 bound)
    big = (
        li.groupBy("l_orderkey")
        .agg(cents_sum("l_quantity", "total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "o_orderkey", "o_totalprice", "total_qty")
    )


@register("q18_large_orders", oracle=_Q18_ORACLE)
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18: orders whose total quantity exceeds a threshold,
    joined back to their customers. The HAVING pre-aggregation shrinks
    the fact side BEFORE the joins — the plan every large-order scan
    wants at scale."""
    return _large_orders(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register("q18_bucketed_colocated", oracle=_Q18_ORACLE, eager=True)
def q18_bucketed_colocated(spark, sf_dir):
    """Q18 over the BUCKETED twin layout — the registered consumer of
    the measured 3x layout win (SCALE_PROBE_r10:bucketed_join_ab:
    9.97 s -> 3.06 s, exchanges 3 -> 1 at the 100x replica). lineitem
    and orders are read from full-schema twins bucketed+sorted by
    orderkey (sources/maintenance.ensure_bucketed_twins — the one-time
    write is the priced trade), so BOTH this query's wide exchanges
    disappear: the fact-sized groupBy(l_orderkey) pre-aggregation
    reuses the scan's bucket hash-partitioning, and the big ⋈ orders
    join is co-located (zero shuffle exchanges in the executed plan;
    customer joins by broadcast). Results are identical to
    q18_large_orders by construction — same oracle.

    eager=True: construction triggers the lazy first-time twin write
    (in-memory catalog = once per session); timing the tail action
    would misprice it, and bench/probe tooling must treat the twin
    write as the maintenance job it is."""
    from wikipedia_data_pipeline_spark.sources.maintenance import (
        ensure_bucketed_twins,
    )

    twins = ensure_bucketed_twins(spark, sf_dir)
    return _large_orders(
        F.broadcast(load_table(spark, sf_dir, "customer")),
        spark.table(twins["orders"]),
        spark.table(twins["lineitem"]),
    )


@register("q3_bucketed_colocated", oracle=Q3_ORACLE, eager=True)
def q3_bucketed_colocated(spark, sf_dir):
    """TPC-H Q3 over the BUCKETED twin layout — the second consumer of
    the maintenance path q18_bucketed_colocated pays for (one bucketed
    copy serves every orderkey-keyed join; that amortization IS the
    layout argument). lineitem ⋈ orders co-locates on the bucket
    hash-partitioning and the orderkey-leading groupBy reuses it, so
    the two fact-sized exchanges of q3_shipping_priority's plan
    disappear; the filtered customer dim broadcasts. Predicate
    pushdown still reaches the twin scans (full-schema parquet tables,
    pruned columns + pushed filters). Identical results to
    q3_shipping_priority by construction — same oracle.

    eager=True: construction triggers the lazy first-time twin write
    (q18_bucketed_colocated note); at 100 TB the write is a scheduled
    maintenance job, priced separately in the
    SCALE_PROBE_r10:bucketed_join_ab row."""
    from wikipedia_data_pipeline_spark.sources.maintenance import (
        ensure_bucketed_twins,
    )

    twins = ensure_bucketed_twins(spark, sf_dir)
    return q3_top_revenue(
        spark, sf_dir, spark.table(twins["orders"]), spark.table(twins["lineitem"])
    )


@register("q5_bucketed_colocated", oracle=Q5_ORACLE, eager=True)
def q5_bucketed_colocated(spark, sf_dir):
    """TPC-H Q5 over the BUCKETED twin layout — third consumer of the
    one orderkey layout (q18/q3 notes): the lineitem ⋈ orders fact
    join rides the bucket partitioning with zero exchange; the
    customer/nation/region dims broadcast; only the post-join
    nation-level aggregate shuffles (25 groups). Identical results to
    q5_region_revenue — same oracle. eager=True for the lazy
    first-time twin write (maintenance-job pricing note on
    q18_bucketed_colocated)."""
    from wikipedia_data_pipeline_spark.sources.maintenance import (
        ensure_bucketed_twins,
    )

    twins = ensure_bucketed_twins(spark, sf_dir)
    return q5_nation_revenue(
        spark, sf_dir, spark.table(twins["orders"]), spark.table(twins["lineitem"])
    )


@register(
    "q22_idle_rich_customers",
    oracle="""
WITH avg_bal AS (
  SELECT avg(CAST(c_acctbal AS DECIMAL(18,6))) AS ab
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey,
       count(*) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
FROM customer, avg_bal
WHERE c_acctbal > ab
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
""",
)
def q22_idle_rich_customers(spark, sf_dir):
    """TPC-H Q22 shape: scalar-subquery threshold + anti-join + agg
    (nationkey stands in for the phone country code; the anti-join
    probes URGENT orders so the result is non-empty on testdata, where
    every customer has some order)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .select(F.avg(F.col("c_acctbal").cast("decimal(18,6)")).alias("ab"))
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            dec_sum("c_acctbal", "totacctbal"),
        )
    )


@register(
    "events_funnel",
    oracle="""
WITH stages AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_buy
  FROM events GROUP BY user_id
)
SELECT count(t_view) AS n_view,
       count(CASE WHEN t_click > t_view THEN 1 END) AS n_click_after_view,
       count(CASE WHEN t_buy > t_click AND t_click > t_view THEN 1 END)
         AS n_purchase_after_click
FROM stages
""",
)
def events_funnel(spark, sf_dir):
    """Ordered 3-stage funnel (view → click → purchase) in ONE pass:
    conditional min-timestamps per user, then ordering predicates —
    one shuffle on user_id instead of a per-stage self-join."""
    ev = load_table(spark, sf_dir, "events")
    us = ts_us().cast("long")

    def stage_min(t):
        return F.min(F.when(F.col("event_type") == t, us))

    stages = ev.groupBy("user_id").agg(
        stage_min("view").alias("t_view"),
        stage_min("click").alias("t_click"),
        stage_min("purchase").alias("t_buy"),
    )
    return stages.select(
        F.count("t_view").alias("n_view"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias(
            "n_click_after_view"
        ),
        F.count(
            F.when(
                (F.col("t_buy") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            )
        ).alias("n_purchase_after_click"),
    )


@register(
    "events_retention_cohorts",
    oracle=f"""
WITH firsts AS (
  SELECT user_id, min(epoch_us(ts) // {US_PER_DAY}) AS cohort_day
  FROM events GROUP BY user_id
)
SELECT cohort_day, (epoch_us(ts) // {US_PER_DAY}) - cohort_day AS day_offset,
       count(DISTINCT e.user_id) AS active_users
FROM events e JOIN firsts f ON e.user_id = f.user_id
WHERE (epoch_us(ts) // {US_PER_DAY}) - cohort_day <= 7
GROUP BY 1, 2
""",
)
def events_retention_cohorts(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-activity day,
    distinct-active counts at day offsets 0..7. The first-activity
    relation is user-level (small) → broadcast back onto the fact
    scan."""
    ev = load_table(spark, sf_dir, "events")
    day = (ts_us().cast("long") / F.lit(US_PER_DAY)).cast("long")
    ev_d = ev.select("user_id", day.alias("day"))
    firsts = ev_d.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev_d.join(firsts, "user_id")
        .withColumn("day_offset", F.col("day") - F.col("cohort_day"))
        .filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@register(
    "sql_interface_top_nations",
    oracle="""
SELECT n_name, count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_balance
FROM customer JOIN nation ON n_nationkey = c_nationkey
GROUP BY n_name
""",
)
def sql_interface_top_nations(spark, sf_dir):
    """The engine's SQL entry point: temp views + ``spark.sql`` over the
    same catalog — proves a reference user can bring plain SQL, not
    just the DataFrame API, and Catalyst plans it identically."""
    from wikipedia_data_pipeline_spark.sources.tables import load_tables

    load_tables(spark, sf_dir, register_views=True)
    return spark.sql(
        """
        SELECT n_name, count(*) AS n_customers,
               CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                 AS total_balance
        FROM customer JOIN nation ON n_nationkey = c_nationkey
        GROUP BY n_name
        """
    )


@register(
    "q6_forecast_revenue",
    oracle="""
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))
            AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.04 AND 0.07
  AND l_quantity < 24
""",
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6: pure scan-filter-aggregate — the canonical predicate
    pushdown benchmark; every filter must reach the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount").between(0.04, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(
            (F.col("l_extendedprice") * F.col("l_discount")).cast(
                "decimal(18,6)"
            )
        )
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_lines"),
    )


@register(
    "q10_returned_items",
    oracle="""
SELECT c_custkey, c_name, n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
            AS DOUBLE) AS revenue
FROM customer
JOIN nation ON n_nationkey = c_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
""",
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10: revenue lost to returns per customer — 4-way join
    with broadcast dims and a pushed returnflag filter."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "task1_probe_reference",
    oracle="""
WITH toks AS (
    SELECT doc_id,
           lower(regexp_replace(tok, '[^a-zA-Z]', '', 'g')) AS word
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    WHERE length(lower(regexp_replace(tok, '[^a-zA-Z]', '', 'g'))) > 0
),
counts AS (SELECT word, count(*) AS count FROM toks GROUP BY word),
ranked AS (
    SELECT word, count,
           row_number() OVER (ORDER BY count DESC, word ASC) - 1 AS rank
    FROM counts
)
SELECT upper(word) AS word, rank, count
FROM ranked
WHERE rank < 5000
  AND upper(word) IN ('DURING', 'AND', 'TIME', 'PROTEIN', 'CAR')
""",
)
def task1_probe_reference(spark, sf_dir):
    """The reference's exact 5-word probe list (Main.java:99-103) —
    empty on the synthetic corpus (its words aren't in the testdata
    vocabulary), kept for surface parity; registered tail-side so the
    known-empty check never displaces a meaningful query from the
    driver's bounded correctness window. The non-vacuous corpus-word
    variant is ``task1_probe``."""
    from wikipedia_data_pipeline_spark.operators import tfidf as T

    return T.task1_probe(load_table(spark, sf_dir, "documents"))


_RECURSIVE_CHAIN_SQL = """
WITH RECURSIVE paths(root, node, depth) AS (
  SELECT CAST(n_nationkey AS BIGINT), CAST(n_nationkey AS BIGINT),
         CAST(0 AS BIGINT)
  FROM nation
  UNION ALL
  SELECT p.root, CAST(n.n_nationkey AS BIGINT), p.depth + 1
  FROM paths p JOIN nation n ON n.n_nationkey = p.node + 7
)
SELECT root, count(*) AS n_reachable, max(depth) AS max_depth
FROM paths GROUP BY root
"""


@register("sql_recursive_chain", oracle=_RECURSIVE_CHAIN_SQL)
def sql_recursive_chain(spark, sf_dir):
    """Recursive CTE (Spark 4's WITH RECURSIVE): transitive reachability
    over the acyclic key chain n -> n+7 within nation, counting each
    root's reachable set and chain depth. The IDENTICAL SQL text runs on
    both engines — the oracle is the same string — so this checks
    Spark's native recursive-query execution, the declarative twin of
    the iterative min-label loop in operators.dedup.near_dup_clusters.
    The recursion depth is bounded by the key domain (<=4 here); each
    iteration is one small broadcast join, and Spark materializes the
    working set per step exactly like the hand-rolled loop does with
    localCheckpoint."""
    from wikipedia_data_pipeline_spark.sources.tables import load_tables

    load_tables(spark, sf_dir, register_views=True)
    return spark.sql(_RECURSIVE_CHAIN_SQL)


@register(
    "events_daily_gapfill",
    oracle=f"""
WITH daily AS (
  SELECT (epoch_us(ts) // 86400000000) * 86400 AS day_s,
         count(*) AS n_events,
         {sql_cents_sum('value', 'total_value')}
  FROM events GROUP BY 1
),
bounds AS (SELECT min(day_s) AS lo, max(day_s) AS hi FROM daily),
spine AS (SELECT unnest(generate_series(lo, hi, 86400)) AS day_s FROM bounds)
SELECT spine.day_s,
       CAST(coalesce(n_events, 0) AS BIGINT) AS n_events,
       CAST(coalesce(total_value, 0.0) AS DOUBLE) AS total_value
FROM spine LEFT JOIN daily ON spine.day_s = daily.day_s
""",
)
def events_daily_gapfill(spark, sf_dir):
    """Time-series gap fill: daily rollup joined against a generated
    date spine (``sequence`` + ``explode``) so days with zero events
    appear as explicit zero rows — the calendar-fill operator every
    monitoring/forecasting pipeline needs before windowed models.

    Scale shape: the heavy side is ONE hash-agg scan of events (same as
    the hourly rollup); the spine derives from a 1-row min/max agg and
    explodes to one row per day (~3k rows for a decade), so the final
    left join broadcasts the daily agg against the spine — no extra
    shuffle of the fact table."""
    ev = load_table(spark, sf_dir, "events")
    day_s = ((ts_us().cast("long") - ts_us().cast("long") % US_PER_DAY)
             / 1_000_000).cast("long")
    daily = (
        ev.withColumn("day_s", day_s)
        .groupBy("day_s")
        .agg(F.count("*").alias("n_events"), cents_sum("value", "total_value"))
    )
    spine = (
        daily.agg(F.min("day_s").alias("lo"), F.max("day_s").alias("hi"))
        .select(
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.lit(86400).cast("long"))
            ).alias("day_s")
        )
    )
    return spine.join(daily, "day_s", "left").select(
        "day_s",
        F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        F.coalesce(F.col("total_value"), F.lit(0.0)).cast("double").alias(
            "total_value"
        ),
    )


# ---------------------------------------------------------------------------
# Linear-interpolation gap fill (per-user daily value series)
# ---------------------------------------------------------------------------

_INTERP_ORACLE = f"""
WITH daily AS (
  SELECT user_id, (epoch_us(ts) // 86400000000) * 86400 AS day_s,
         {sql_cents_sum('value', 'v')}
  FROM events GROUP BY user_id, (epoch_us(ts) // 86400000000) * 86400
),
bounds AS (SELECT min(day_s) AS lo, max(day_s) AS hi FROM daily),
spine AS (
  SELECT user_id, day_s
  FROM (SELECT DISTINCT user_id FROM daily),
       (SELECT unnest(generate_series(lo, hi, 86400)) AS day_s FROM bounds)
),
joined AS (
  SELECT spine.user_id, spine.day_s, daily.v
  FROM spine LEFT JOIN daily
    ON spine.user_id = daily.user_id AND spine.day_s = daily.day_s
),
ctx AS (
  SELECT user_id, day_s, v,
         last_value(v IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY day_s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN day_s END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY day_s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
         last_value(v IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY day_s DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nv,
         last_value(CASE WHEN v IS NOT NULL THEN day_s END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY day_s DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nd
  FROM joined
)
SELECT user_id, day_s,
       CASE WHEN v IS NOT NULL THEN v
            WHEN pv IS NULL OR nv IS NULL THEN NULL
            ELSE pv + (nv - pv)
                 * (CAST(day_s - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE))
       END AS filled_value,
       CASE WHEN v IS NOT NULL THEN 'actual'
            WHEN pv IS NULL OR nv IS NULL THEN 'edge'
            ELSE 'interpolated' END AS fill_kind
FROM ctx
"""


@register("events_daily_interpolate", oracle=_INTERP_ORACLE)
def events_daily_interpolate(spark, sf_dir):
    """Per-user daily value series on a dense calendar spine, with
    interior gaps LINEARLY INTERPOLATED between the neighboring
    observed days (edges left null) — the standard pre-model fill for
    time-series features, one step past zero-fill gapfill.

    The neighbor scan uses IGNORE-NULLS *running* windows in both
    directions — the forward neighbor via a DESC-ordered running frame,
    O(n) per partition (Spark evaluates UNBOUNDED FOLLOWING frames
    quadratically; the DESC spelling avoids that at scale). The daily
    totals ride DECIMAL sums, day arithmetic is integer, and the lerp
    is one fixed IEEE expression — bit-equal across engines. Heavy
    lineage: one hash-agg of events + a spine broadcast; the windows
    run over |users| × |days| rows, not raw events.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    day_s = ((ts_us().cast("long") - ts_us().cast("long") % US_PER_DAY)
             / 1_000_000).cast("long")
    daily = (
        ev.withColumn("day_s", day_s)
        .groupBy("user_id", "day_s")
        .agg(cents_sum("value", "v"))
    )
    bounds = daily.agg(F.min("day_s").alias("lo"), F.max("day_s").alias("hi"))
    days = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.lit(86400).cast("long"))
        ).alias("day_s")
    )
    spine = daily.select("user_id").distinct().crossJoin(F.broadcast(days))
    joined = spine.join(daily, ["user_id", "day_s"], "left")

    fwd = (
        Window.partitionBy("user_id")
        .orderBy("day_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bwd = (
        Window.partitionBy("user_id")
        .orderBy(F.col("day_s").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    obs_day = F.when(F.col("v").isNotNull(), F.col("day_s"))
    ctx = joined.select(
        "user_id",
        "day_s",
        "v",
        F.last("v", ignorenulls=True).over(fwd).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(fwd).alias("pd"),
        F.last("v", ignorenulls=True).over(bwd).alias("nv"),
        F.last(obs_day, ignorenulls=True).over(bwd).alias("nd"),
    )
    lerp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        (F.col("day_s") - F.col("pd")).cast("double")
        / (F.col("nd") - F.col("pd")).cast("double")
    )
    return ctx.select(
        "user_id",
        "day_s",
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull() | F.col("nv").isNull(), F.lit(None))
        .otherwise(lerp)
        .alias("filled_value"),
        F.when(F.col("v").isNotNull(), F.lit("actual"))
        .when(F.col("pv").isNull() | F.col("nv").isNull(), F.lit("edge"))
        .otherwise(F.lit("interpolated"))
        .alias("fill_kind"),
    )


# ---------------------------------------------------------------------------
# Cohort cumulative-value (LTV) curves
# ---------------------------------------------------------------------------

_LTV_ORACLE = f"""
WITH firsts AS (
  SELECT user_id, min(epoch_us(ts) // 86400000000) AS cohort_d
  FROM events GROUP BY user_id
),
daily AS (
  SELECT e.user_id, f.cohort_d,
         (epoch_us(e.ts) // 86400000000) - f.cohort_d AS age_d,
         e.value
  FROM events e JOIN firsts f ON e.user_id = f.user_id
),
agg AS (
  SELECT cohort_d, age_d,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_active,
         sum(CAST(value AS DECIMAL(18,6))) AS day_dec
  FROM daily GROUP BY cohort_d, age_d
)
SELECT cohort_d, age_d, n_active,
       CAST(day_dec AS DOUBLE) AS day_value,
       CAST(sum(day_dec) OVER (PARTITION BY cohort_d ORDER BY age_d
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS DOUBLE)
         AS cum_value
FROM agg
"""


@register("cohort_value_curves", oracle=_LTV_ORACLE)
def cohort_value_curves(spark, sf_dir):
    """Cohort LTV curves: users grouped by first-seen day, their summed
    event value by cohort age, and the running cumulative per cohort —
    the completion of `events_retention_cohorts` (which counts users;
    this accumulates value).

    One shuffle computes per-user first days; the fact scan joins that
    150-row relation broadcast, aggregates on (cohort, age), and the
    cumulative window runs over the tiny aggregate. Value stays DECIMAL
    through the window sum, cast to double only at output — exact under
    any partitioning.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    d = (ts_us().cast("long") / US_PER_DAY).cast("long")
    withday = ev.select("user_id", d.alias("d"), "value")
    firsts = withday.groupBy("user_id").agg(F.min("d").alias("cohort_d"))
    daily = withday.join(F.broadcast(firsts), "user_id").select(
        "user_id",
        "cohort_d",
        (F.col("d") - F.col("cohort_d")).alias("age_d"),
        "value",
    )
    agg = daily.groupBy("cohort_d", "age_d").agg(
        F.countDistinct("user_id").alias("n_active"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("day_dec"),
    )
    w = (
        Window.partitionBy("cohort_d")
        .orderBy("age_d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return agg.select(
        "cohort_d",
        "age_d",
        "n_active",
        F.col("day_dec").cast("double").alias("day_value"),
        F.sum("day_dec").over(w).cast("double").alias("cum_value"),
    )


# --- Dependency profiling (round 11, session 2) --------------------------

_FD_ORACLE = """
WITH audit AS (
  SELECT 'part: p_type -> p_brand' AS fd, p_type AS x, p_brand AS y
  FROM part
),
audit2 AS (
  SELECT 'customer: c_nationkey -> n_regionkey' AS fd,
         CAST(c.c_nationkey AS VARCHAR) AS x,
         CAST(n.n_regionkey AS VARCHAR) AS y
  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
),
audit3 AS (
  SELECT 'events: user_id -> event_type' AS fd,
         CAST(user_id AS VARCHAR) AS x, event_type AS y
  FROM events
),
audit4 AS (
  SELECT 'nation: n_nationkey -> n_regionkey' AS fd,
         CAST(n_nationkey AS VARCHAR) AS x,
         CAST(n_regionkey AS VARCHAR) AS y
  FROM nation
),
all_rows AS (
  SELECT * FROM audit UNION ALL SELECT * FROM audit2
  UNION ALL SELECT * FROM audit3 UNION ALL SELECT * FROM audit4
),
pairs AS (
  SELECT fd, x, y, CAST(count(*) AS BIGINT) AS cnt
  FROM all_rows GROUP BY fd, x, y
),
grp AS (
  SELECT fd, x, CAST(count(*) AS BIGINT) AS n_y,
         CAST(max(cnt) AS BIGINT) AS max_cnt,
         CAST(sum(cnt) AS BIGINT) AS rows_g
  FROM pairs GROUP BY fd, x
)
SELECT fd,
       CAST(sum(rows_g) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN n_y > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS violating_groups,
       CAST(sum(rows_g) - sum(max_cnt) AS BIGINT) AS rows_to_fix,
       sum(CASE WHEN n_y > 1 THEN 1 ELSE 0 END) = 0 AS fd_holds,
       CAST(sum(CASE WHEN n_y > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS violation_ratio
FROM grp GROUP BY fd
ORDER BY fd
"""


@register("profiling_fd_violations", oracle=_FD_ORACLE)
def profiling_fd_violations(spark, sf_dir):
    """Approximate functional-dependency audit — the schema-discovery
    profile (Papenbrock et al.'s FD-discovery setting, g₃ error of
    Kivinen & Mannila): for each candidate X→Y report how many X
    groups see >1 distinct Y and the minimal rows to delete for the FD
    to hold exactly (g₃ = n − Σₓ maxᵧ |X=x,Y=y|). Four candidates
    spanning the catalog: a true dimension FD (nationkey→regionkey), a true
    cross-table FD through a broadcast join (c_nationkey→n_regionkey),
    and two violated ones (p_type→p_brand, user→event_type) — the
    data-contract check a 100 TB ingest runs before trusting a column
    as a key. Pure counts; exact oracle.

    Scale shape: per FD one (X,Y) hash agg then one X agg — two
    map-side-combining shuffles over shrinking relations; the four
    audits union AFTER aggregation (driver-tiny), so the fact tables
    are each scanned once."""
    part = load_table(spark, sf_dir, "part").select(
        F.lit("part: p_type -> p_brand").alias("fd"),
        F.col("p_type").alias("x"),
        F.col("p_brand").alias("y"),
    )
    nat = load_table(spark, sf_dir, "nation").select(
        F.lit("nation: n_nationkey -> n_regionkey").alias("fd"),
        F.col("n_nationkey").cast("string").alias("x"),
        F.col("n_regionkey").cast("string").alias("y"),
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .select(
            F.lit("customer: c_nationkey -> n_regionkey").alias("fd"),
            F.col("c_nationkey").cast("string").alias("x"),
            F.col("n_regionkey").cast("string").alias("y"),
        )
    )
    ev = load_table(spark, sf_dir, "events").select(
        F.lit("events: user_id -> event_type").alias("fd"),
        F.col("user_id").cast("string").alias("x"),
        F.col("event_type").alias("y"),
    )

    def audit(df):
        pairs = df.groupBy("fd", "x", "y").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        grp = pairs.groupBy("fd", "x").agg(
            F.count(F.lit(1)).cast("long").alias("n_y"),
            F.max("cnt").cast("long").alias("max_cnt"),
            F.sum("cnt").cast("long").alias("rows_g"),
        )
        viol = F.sum(F.when(F.col("n_y") > 1, 1).otherwise(0)).cast("long")
        return grp.groupBy("fd").agg(
            F.sum("rows_g").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            viol.alias("violating_groups"),
            (F.sum("rows_g") - F.sum("max_cnt"))
            .cast("long")
            .alias("rows_to_fix"),
            (viol == 0).alias("fd_holds"),
            (
                viol.cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("violation_ratio"),
        )

    return (
        audit(part)
        .unionByName(audit(cust))
        .unionByName(audit(ev))
        .unionByName(audit(nat))
        .orderBy("fd")
    )
