"""Advanced relational operators (SURVEY.md §2.3-2.7 "absent but
in-scope" completion): range/interval join, collect_list/collect_set,
GROUPING SETS, distribution window functions, correlated scalar
subquery, HAVING + IN-subquery, sliding event-time windows, and the
higher-order array-function family over embeddings.

Everything is DataFrame/SQL built-ins — Catalyst plans it all. The
determinism conventions from the registry docstring apply (decimal-
routed double sums, total sort orders, BIGINT counts).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.functions import (
    EVENT_WINDOW,
    cents_sum,
    dec_sum,
    sql_cents_sum,
    sql_dec_sum,
    ts_us,
)
from wikipedia_data_pipeline_spark.queries.streaming_queries import (
    SESSION_WINDOW_ORACLE,
    SLIDING_WINDOW_ROWS_SQL,
)
from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# range / interval join
# ---------------------------------------------------------------------------

# Literal calendar periods — a tiny interval dimension; half-open ranges.
PERIODS = [
    ("1995H2", "1995-07-01", "1996-01-01"),
    ("1996H1", "1996-01-01", "1996-07-01"),
    ("1996H2", "1996-07-01", "1997-01-01"),
    ("1997H1", "1997-01-01", "1997-07-01"),
    ("1997H2", "1997-07-01", "1998-01-01"),
]

_PERIODS_SQL = ",\n  ".join(
    f"('{p}', TIMESTAMP '{s}', TIMESTAMP '{e}')" for p, s, e in PERIODS
)


@register(
    "join_range_periods",
    oracle=f"""
WITH periods(period, p_start, p_end) AS (VALUES
  {_PERIODS_SQL})
SELECT period, count(*) AS n_orders,
       {sql_cents_sum('o_totalprice', 'total_price')}
FROM orders JOIN periods
  ON o_orderdate >= p_start AND o_orderdate < p_end
GROUP BY period
""",
)
def join_range_periods(spark, sf_dir):
    """Range (interval containment) join: orders against a calendar-period
    dimension via non-equi BETWEEN predicates. The period side is tiny at
    any scale, so this broadcasts to a nested-loop probe that is O(rows ×
    periods) and fully parallel — no shuffle of the fact side at all."""
    o = load_table(spark, sf_dir, "orders")
    periods = spark.createDataFrame(
        [(p, f"{s} 00:00:00", f"{e} 00:00:00") for p, s, e in PERIODS],
        "period string, p_start string, p_end string",
    ).select(
        "period",
        F.col("p_start").cast("timestamp").alias("p_start"),
        F.col("p_end").cast("timestamp").alias("p_end"),
    )
    cond = (F.col("o_orderdate") >= F.col("p_start")) & (
        F.col("o_orderdate") < F.col("p_end")
    )
    return (
        o.join(F.broadcast(periods), cond)
        .groupBy("period")
        .agg(
            F.count("*").alias("n_orders"),
            cents_sum("o_totalprice", "total_price"),
        )
    )


# ---------------------------------------------------------------------------
# collect_list / collect_set
# ---------------------------------------------------------------------------


@register(
    "agg_collect_sets",
    oracle="""
SELECT c_nationkey,
       array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
       CAST(len(list(DISTINCT c_mktsegment)) AS BIGINT) AS n_segments,
       array_to_string(list_sort(list(c_mktsegment)), ',') AS segment_events
FROM customer GROUP BY c_nationkey
""",
)
def agg_collect_sets(spark, sf_dir):
    """collect_set / collect_list group aggregates. Both are unordered in
    both engines, so results are sorted before render and serialized to
    strings for an exact cross-engine compare."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ",").alias(
            "segments"
        ),
        F.size(F.collect_set("c_mktsegment")).cast("long").alias("n_segments"),
        F.array_join(F.array_sort(F.collect_list("c_mktsegment")), ",").alias(
            "segment_events"
        ),
    )


# ---------------------------------------------------------------------------
# GROUPING SETS
# ---------------------------------------------------------------------------


@register(
    "agg_grouping_sets",
    oracle=f"""
SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
       {sql_cents_sum('l_quantity', 'sum_qty')},
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
         AS grouping_id
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
)
def agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (not derivable from rollup/cube alone) with
    grouping_id disambiguation of the NULL produced by each set."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("wdp_gs_lineitem")
    # BIGINT-cents accumulation (100x A/B on this exact shape:
    # 4.20 -> 2.07 s); the () grand-total group sums ~1.5e15 micro-units
    # at the 100x replica, still under the 2^53 bit-identity bound
    return spark.sql(
        """
SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
       CAST(CAST(sum(CAST(round(l_quantity * 1000000) AS BIGINT)) AS BIGINT)
            AS DOUBLE) / 1000000 AS sum_qty,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
         AS grouping_id
FROM wdp_gs_lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""
    )


# ---------------------------------------------------------------------------
# distribution window functions
# ---------------------------------------------------------------------------


@register(
    "window_ntile_dist",
    oracle="""
SELECT c_custkey, c_mktsegment, c_acctbal,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       first_value(c_acctbal) OVER w AS seg_min_bal,
       nth_value(c_acctbal, 2) OVER
         (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS seg_second_bal
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
""",
)
def window_ntile_dist(spark, sf_dir):
    """ntile / percent_rank / cume_dist / first_value / nth_value with an
    explicit full-partition frame for nth_value (default frame would stop
    at CURRENT ROW). Total order (acctbal, custkey) makes ntile's
    positional bucketing deterministic."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("c_acctbal").over(w).alias("seg_min_bal"),
        F.nth_value("c_acctbal", 2).over(w_full).alias("seg_second_bal"),
    )


@register(
    "window_range_frame",
    oracle="""
SELECT event_id, user_id,
       CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_15min,
       CAST(count(*) OVER w AS BIGINT) AS n_15min
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 900000000 PRECEDING AND CURRENT ROW)
""",
)
def window_range_frame(spark, sf_dir):
    """RANGE frame (value-based, not row-based): per user, the rolling
    15-minute event-time window ending at each event. Unlike ROWS
    frames, ties on the sort key are peers and always share a frame —
    identical semantics in both engines, so exact-checkable."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_us())
        .rangeBetween(-900_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("sum_15min"),
        F.count("*").over(w).cast("long").alias("n_15min"),
    )


@register(
    "scalar_try_funcs",
    oracle="""
SELECT p_partkey,
       TRY_CAST(p_name AS DOUBLE) AS name_as_num,
       CASE WHEN p_size = 0 THEN NULL ELSE p_retailprice / p_size END
         AS price_per_size,
       nullif(p_brand, 'Brand#45') AS brand_nullif,
       coalesce(TRY_CAST(p_name AS BIGINT), -1) AS name_num_or_default,
       TRY_CAST(substring(p_name, 1, 2) AS BIGINT) AS pfx_num
FROM part
""",
)
def scalar_try_funcs(spark, sf_dir):
    """Null-safe error handling: try_cast / try_divide / nullif /
    coalesce. Spark 4 runs ANSI mode by default — a malformed cast or
    zero divide in a 100 TB scan must degrade to NULL, not kill the
    job; the try_* family is that contract."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.expr("try_cast(p_name AS DOUBLE)").alias("name_as_num"),
        F.try_divide(
            F.col("p_retailprice"),
            F.when(F.col("p_size") == 0, F.lit(0.0)).otherwise(
                F.col("p_size").cast("double")
            ),
        ).alias("price_per_size"),
        F.nullif(F.col("p_brand"), F.lit("Brand#45")).alias("brand_nullif"),
        F.coalesce(
            F.expr("try_cast(p_name AS BIGINT)"), F.lit(-1).cast("long")
        ).alias("name_num_or_default"),
        F.expr("try_cast(substring(p_name, 1, 2) AS BIGINT)").alias("pfx_num"),
    )


# ---------------------------------------------------------------------------
# subqueries
# ---------------------------------------------------------------------------


@register(
    "subquery_above_brand_avg",
    oracle="""
SELECT p_partkey, p_brand, p_retailprice FROM part p
WHERE p_retailprice > (
  SELECT CAST(sum(CAST(p2.p_retailprice AS DECIMAL(18,6))) AS DOUBLE)
           / count(*)
  FROM part p2 WHERE p2.p_brand = p.p_brand)
""",
)
def subquery_above_brand_avg(spark, sf_dir):
    """Correlated scalar subquery: parts priced above their brand's
    average. Catalyst decorrelates this to an aggregate + join — the plan
    has no per-row re-execution (unlike the reference's per-row idf.csv
    re-scan, TF_IDFWorker.java:32)."""
    p = load_table(spark, sf_dir, "part")
    p.createOrReplaceTempView("wdp_sq_part")
    return spark.sql(
        """
SELECT p_partkey, p_brand, p_retailprice FROM wdp_sq_part p
WHERE p_retailprice > (
  SELECT CAST(sum(CAST(p2.p_retailprice AS DECIMAL(18,6))) AS DOUBLE)
           / count(*)
  FROM wdp_sq_part p2 WHERE p2.p_brand = p.p_brand)
"""
    )


@register(
    "having_in_subquery",
    oracle="""
SELECT c_name, o_orderkey, o_totalprice
FROM customer JOIN orders ON c_custkey = o_custkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(round(l_quantity * 1000000) AS BIGINT)) > 150000000)
""",
)
def having_in_subquery(spark, sf_dir):
    """TPC-H Q18 shape: grouped HAVING filter feeding an IN-subquery
    (planned as a left-semi join on the aggregated side)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # cents_sum: fact-sized many-group pre-agg, 100x A/B 4.34 -> 3.14 s
    # on the identical q18 inner shape (quantized, far under 2^53/group)
    big = (
        li.groupBy("l_orderkey")
        .agg(cents_sum("l_quantity", "sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "o_orderkey", "o_totalprice")
    )


@register(
    "q7_nation_volume",
    oracle=f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       {sql_dec_sum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM supplier
JOIN lineitem ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
""",
)
def q7_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape: two aliases of the same dim (nation) with a
    disjunctive cross-dim predicate; both alias sides broadcast."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
    )


@register(
    "q14_promo_revenue",
    oracle="""
SELECT CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(month(l_shipdate) AS BIGINT) AS l_month,
       CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                ELSE 0 END) AS DOUBLE) AS promo_revenue,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
            AS DOUBLE) AS total_revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
GROUP BY year(l_shipdate), month(l_shipdate)
""",
)
def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: conditional (CASE-guarded) aggregation over a
    broadcast fact-dim join."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    promo = F.when(F.col("p_type").like("PROMO%"), disc).otherwise(
        F.lit(0).cast("decimal(18,6)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.year("l_shipdate").cast("long").alias("l_year"),
            F.month("l_shipdate").cast("long").alias("l_month"),
        )
        .agg(
            F.sum(promo).cast("double").alias("promo_revenue"),
            F.sum(disc).cast("double").alias("total_revenue"),
        )
    )


@register(
    "q16_brand_supplier_cnt",
    oracle="""
SELECT p_brand, p_size, count(DISTINCT s_suppkey) AS supplier_cnt
FROM part
JOIN supplier ON s_nationkey = p_partkey % 25
WHERE p_brand <> 'Brand#45' AND p_type NOT LIKE 'MEDIUM%'
GROUP BY p_brand, p_size
""",
)
def q16_brand_supplier_cnt(spark, sf_dir):
    """TPC-H Q16 shape (adapted: the testdata has no partsupp table, so
    the part→supplier association goes through a derived key): <> and
    NOT-LIKE anti-predicates + grouped count(DISTINCT)."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45") & ~F.col("p_type").like("MEDIUM%")
    )
    s = load_table(spark, sf_dir, "supplier")
    return (
        p.join(F.broadcast(s), (p.p_partkey % 25) == s.s_nationkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("s_suppkey").alias("supplier_cnt"))
    )


@register(
    "merge_upsert_orders",
    oracle="""
WITH updates AS (
  SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice * 2 AS o_totalprice
  FROM orders WHERE o_orderkey % 10 = 0
)
SELECT o.o_orderkey, o.o_custkey, CAST(o.o_orderdate AS DATE) AS odate,
       coalesce(u.o_totalprice, o.o_totalprice) AS o_totalprice
FROM orders o LEFT JOIN updates u ON o.o_orderkey = u.o_orderkey
""",
)
def merge_upsert_orders(spark, sf_dir):
    """MERGE INTO emulation (operators.upsert): a CDC batch (every 10th
    order re-priced) applied update-wins onto the base table. The
    oracle states the same result as a LEFT JOIN + coalesce — a
    different formulation, so the check is formulation-independent."""
    from wikipedia_data_pipeline_spark.operators.upsert import merge_upsert

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    updates = o.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    return merge_upsert(o, updates, ["o_orderkey"]).select(
        "o_orderkey",
        "o_custkey",
        F.to_date("o_orderdate").alias("odate"),
        "o_totalprice",
    )


# ---------------------------------------------------------------------------
# sliding event-time windows (batch twin of streaming sliding agg)
# ---------------------------------------------------------------------------


@register(
    "events_sliding_window",
    oracle=f"""
SELECT ws, event_type, count(*) AS n_events,
       {sql_cents_sum('value', 'total_value')}
FROM ({SLIDING_WINDOW_ROWS_SQL}) GROUP BY ws, event_type
""",
)
def events_sliding_window(spark, sf_dir):
    """Sliding windows (1 h size, 30 min slide) via F.window — each event
    lands in exactly 2 overlapping windows. The oracle states the same
    semantics as a 2-way self-union on aligned bucket starts."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("event_time", F.timestamp_micros(ts_us()))
        .groupBy(
            F.window("event_time", "1 hour", EVENT_WINDOW).alias("win"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            cents_sum("value", "total_value"),
        )
        .select(
            F.col("win.start").cast("long").alias("ws"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register("events_session_window", oracle=SESSION_WINDOW_ORACLE)
def events_session_window(spark, sf_dir):
    """Native session_window (gap-merged event-time sessions) in batch
    mode. Spark starts a NEW session when the inter-event gap is >= the
    window gap (windows merge only on strict overlap), and a session's
    end is last-event + gap — the oracle restates exactly that as
    gaps-and-islands SQL."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("event_time", F.timestamp_micros(ts_us()))
        .groupBy(
            "user_id",
            F.session_window("event_time", EVENT_WINDOW).alias("sw"),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("sw.start").alias("session_start_us"),
            F.unix_micros("sw.end").alias("session_end_us"),
            "n_events",
        )
    )


@register(
    "scalar_map_struct_funcs",
    oracle="""
SELECT event_id,
       event_type AS et_from_map,
       CAST(user_id AS VARCHAR) AS uid_from_map,
       2 AS n_entries,
       'et,uid' AS map_keys_sorted,
       event_type AS et_from_struct,
       value AS value_from_struct,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_typed
FROM events
""",
)
def scalar_map_struct_funcs(spark, sf_dir):
    """Map/struct construction + field access and a typed from_json
    parse. The oracle states the identities the round-trips must
    satisfy (build map/struct → extract == original column), which
    DuckDB can assert without sharing Spark's container types."""
    ev = load_table(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("et"),
        F.col("event_type"),
        F.lit("uid"),
        F.col("user_id").cast("string"),
    )
    s = F.struct(
        F.col("event_type").alias("et"), F.col("value").alias("v")
    )
    parsed = F.from_json(F.col("props"), "k bigint")
    return ev.select(
        "event_id",
        F.element_at(m, "et").alias("et_from_map"),
        F.element_at(m, "uid").alias("uid_from_map"),
        F.size(m).alias("n_entries"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("map_keys_sorted"),
        s.getField("et").alias("et_from_struct"),
        s.getField("v").alias("value_from_struct"),
        parsed.getField("k").alias("k_typed"),
    )


@register(
    "scalar_variant_funcs",
    oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_variant,
       CAST(json_extract(props, '$.k') AS DOUBLE) AS k_as_double,
       CAST(json_extract(props, '$.missing') AS BIGINT) AS k_missing,
       json_valid(props) AS is_valid_json
FROM events
""",
)
def scalar_variant_funcs(spark, sf_dir):
    """Spark 4 VARIANT path for semi-structured data: parse_json once,
    then typed variant_get extraction — the open-schema alternative to
    from_json when the shape isn't known up front. At scale variant
    columns shred into parquet natively, unlike repeated JSON string
    parsing."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k_variant"),
        F.variant_get(v, "$.k", "double").alias("k_as_double"),
        F.variant_get(v, "$.missing", "bigint").alias("k_missing"),
        F.try_parse_json(F.col("props")).isNotNull().alias("is_valid_json"),
    )


# ---------------------------------------------------------------------------
# higher-order array functions over embeddings
# ---------------------------------------------------------------------------


@register(
    "scalar_array_funcs",
    oracle="""
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS dim,
       CAST(list_max(list_transform(embedding, x -> CAST(x AS DOUBLE)))
            AS DOUBLE) AS max_v,
       CAST(list_min(list_transform(embedding, x -> CAST(x AS DOUBLE)))
            AS DOUBLE) AS min_v,
       CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
       list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS sum_v,
       list_sum(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS sum_sq,
       CAST(embedding[1] AS DOUBLE) AS first_v,
       list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)))
         AS head_sum
FROM embeddings
""",
)
def scalar_array_funcs(spark, sf_dir):
    """Higher-order array family over array<float>: transform, filter,
    aggregate (fold), element_at, slice, array_min/max, size — all
    JVM-side expressions, no UDF. Array folds are per-row with a fixed
    left-to-right order in both engines (unlike cross-row double sums),
    so plain double accumulation is bit-identical to DuckDB's
    list_sum — same property the cosine queries rely on."""
    emb = F.col("embedding")
    as_double = F.transform(emb, lambda x: x.cast("double"))

    def fold(arr):
        return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)

    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size(emb).cast("long").alias("dim"),
        F.array_max(as_double).alias("max_v"),
        F.array_min(as_double).alias("min_v"),
        F.size(F.filter(emb, lambda x: x > 0)).cast("long").alias("n_pos"),
        fold(as_double).alias("sum_v"),
        fold(F.transform(as_double, lambda x: x * x)).alias("sum_sq"),
        F.element_at(emb, 1).cast("double").alias("first_v"),
        fold(F.transform(F.slice(emb, 1, 8), lambda x: x.cast("double"))).alias(
            "head_sum"
        ),
    )


@register(
    "unpivot_part_measures",
    oracle="""
SELECT p_partkey, 'p_retailprice' AS measure, p_retailprice AS value
FROM part
UNION ALL
SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS value
FROM part
""",
)
def unpivot_part_measures(spark, sf_dir):
    """Wide→long reshape: ``DataFrame.unpivot`` (ANSI UNPIVOT / melt)
    over the part measures — the inverse of pivot_status_counts.
    Narrow 1→N row expansion, no shuffle; the oracle states it as the
    portable UNION ALL form."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_retailprice").cast("double"),
        F.col("p_size").cast("double"),
    ).unpivot(
        ids=["p_partkey"],
        values=["p_retailprice", "p_size"],
        variableColumnName="measure",
        valueColumnName="value",
    )
