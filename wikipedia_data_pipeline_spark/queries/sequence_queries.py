"""Sequence / ordering analytics (round 5, session 3): forward as-of
join, OLS trend fitting, Markov transition matrices, gaps-and-islands,
bitwise scalar surface, and deterministic per-group mode.

Reference scope: none of this exists in the reference engine (its only
ordering operators are the sorts W1–W4, SURVEY.md §2.5); this is the
extension family — sequence analytics a training-data / product
pipeline needs on the `events` and `orders` tables.

Determinism strategy (registry contract):

* Every window is totally ordered — ``(ts, event_id)`` for events,
  month integers for orders — so frame contents are identical under any
  partitioning.
* Forward-looking "next match" scans are expressed as *running* frames
  over a DESC ordering (O(n) per partition in both engines) instead of
  UNBOUNDED FOLLOWING frames (which Spark evaluates O(n²) per
  partition).
* Float moments (OLS) ride integer-scaled DECIMAL(38,0) sums; only the
  final slope/intercept formula is IEEE double — a fixed scalar
  expression, bit-identical on both engines.
* Ratios of counts (transition probabilities) divide two BIGINTs in a
  single double division — reduction-order-free.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators.ranks import pin
from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Forward as-of join with tolerance — view → first click within 1 h
# ---------------------------------------------------------------------------

_TOL_US = 3_600_000_000  # 1 hour in µs

_ASOF_FWD_ORACLE = f"""
WITH tagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
         min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
           OVER (PARTITION BY user_id
                 ORDER BY epoch_us(ts) DESC, event_id DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS next_click_us
  FROM events
)
SELECT user_id, event_id AS view_event_id, ts_us AS view_ts_us,
       next_click_us AS click_ts_us,
       next_click_us - ts_us AS latency_us
FROM tagged
WHERE event_type = 'view'
  AND next_click_us IS NOT NULL
  AND next_click_us - ts_us <= {_TOL_US}
"""


@register("asof_join_next_click", oracle=_ASOF_FWD_ORACLE)
def asof_join_next_click(spark, sf_dir):
    """Forward as-of join with tolerance: each view event matched to the
    user's FIRST subsequent click within one hour (the mirror image of
    `asof_join_last_view`, which looks backward).

    Scale shape: the naive plan is a range self-join (every view ×
    every later click) — quadratic in events-per-user. This is instead
    ONE shuffle on user_id and ONE O(n) window pass: the "first click
    after me" is a *running* min over a DESC (ts, event_id) ordering,
    which both Spark and DuckDB evaluate incrementally (Spark's
    UNBOUNDED FOLLOWING frames are re-scanned per row — O(n²) — so the
    DESC-running formulation is the 100 TB-safe spelling). The
    tolerance predicate is applied post-window, row-local.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    tagged = ev.select(
        "user_id",
        "event_id",
        F.col("ts").alias("ts_us"),
        "event_type",
        F.min(click_ts).over(w).alias("next_click_us"),
    )
    return (
        tagged.filter(
            (F.col("event_type") == "view")
            & F.col("next_click_us").isNotNull()
            & (F.col("next_click_us") - F.col("ts_us") <= _TOL_US)
        )
        .select(
            "user_id",
            F.col("event_id").alias("view_event_id"),
            F.col("ts_us").alias("view_ts_us"),
            F.col("next_click_us").alias("click_ts_us"),
            (F.col("next_click_us") - F.col("ts_us")).alias("latency_us"),
        )
    )


# ---------------------------------------------------------------------------
# OLS linear trend per event type — exact moments, fixed IEEE finale
# ---------------------------------------------------------------------------

_Y_SCALE = 1_000_000
# 2024-01-01T00:00:00Z in epoch seconds: centering x keeps x² ≤ ~7e12
# for the 30-day testdata window, far inside BIGINT for per-row products.
_X_BASE = 1_704_067_200

_TREND_ORACLE = f"""
WITH p AS (
  SELECT event_type,
         epoch_us(ts) // 1000000 - {_X_BASE} AS x,
         CAST(round(value * {_Y_SCALE}) AS BIGINT) AS y
  FROM events
),
s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(x AS DECIMAL(38,0))) AS sx,
         sum(CAST(y AS DECIMAL(38,0))) AS sy,
         sum(CAST(x * y AS DECIMAL(38,0))) AS sxy,
         sum(CAST(x * x AS DECIMAL(38,0))) AS sxx
  FROM p GROUP BY event_type
)
SELECT event_type, n,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope_scaled,
       (CAST(sy AS DOUBLE)
        - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
          * CAST(sx AS DOUBLE))
       / CAST(n AS DOUBLE) AS intercept_scaled
FROM s
WHERE CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
"""


def ols_moments(xy, key):
    """Per ``key``: the row count n and the exact DECIMAL(38,0) moments
    sx, sy, sxy, sxx of the integer columns x and y of ``xy`` — all a
    least-squares slope needs before its one fixed IEEE finale."""
    dec = "decimal(38,0)"
    return xy.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
    )


@register("events_linear_trend", oracle=_TREND_ORACLE)
def events_linear_trend(spark, sf_dir):
    """Per-event-type OLS fit of value against event time — "is this
    metric drifting, and how fast?" as a closed-form regression, no
    iteration.

    The five moments (n, Σx, Σy, Σxy, Σx²) are integer-scaled and
    summed as DECIMAL(38,0) — associative, so any partitioning/AQE
    re-plan yields the same bits; x is centered on a fixed epoch so
    per-row products stay far inside BIGINT. slope/intercept are then
    one fixed double expression each. One shuffle (the groupBy) with
    map-side partial aggregation — at 100 TB this is a full-scan,
    5-counter-per-type reduction, the cheapest shape a regression can
    have.
    """
    ev = load_table(spark, sf_dir, "events")
    x = (F.col("ts") / F.lit(1_000_000)).cast("long") - _X_BASE
    y = F.round(F.col("value") * _Y_SCALE).cast("long")
    s = ols_moments(
        ev.select(x.alias("x"), y.alias("y"), "event_type"), "event_type"
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    denom = nd * sxx - sx * sx
    slope = (nd * sxy - sx * sy) / denom
    return s.filter(denom > 0).select(
        "event_type",
        "n",
        slope.alias("slope_scaled"),
        ((sy - slope * sx) / nd).alias("intercept_scaled"),
    )


# ---------------------------------------------------------------------------
# Markov transition matrix over event types
# ---------------------------------------------------------------------------

# Per-user (prev -> cur) event-type transition counts, shared with the
# conditional-entropy oracle below.
_TRANSITIONS_CTES = """
seq AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type,
         event_type AS cur_type
  FROM events
),
c AS (
  SELECT prev_type, cur_type, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, cur_type
)"""

_MARKOV_ORACLE = f"""
WITH {_TRANSITIONS_CTES}
SELECT prev_type, cur_type, n,
       CAST(n AS DOUBLE)
       / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS prob
FROM c
"""


@register("events_markov_transitions", oracle=_MARKOV_ORACLE)
def events_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event-type
    sequences: P(next = b | current = a), the standard behavioral-model
    fingerprint (and the input to sequence-anomaly scoring).

    One shuffle on user_id for the lag window, one tiny
    (|types|² ≤ 25-row) aggregation, then a window over the grouped
    result for row-normalization — the heavy lineage is the first two
    steps, both linear scans; the normalizing window runs on a
    25-row relation regardless of input scale. Probability is one
    BIGINT÷BIGINT double division — deterministic.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("cur_type"),
    ).filter(F.col("prev_type").isNotNull())
    c = seq.groupBy("prev_type", "cur_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wn = Window.partitionBy("prev_type")
    return c.select(
        "prev_type",
        "cur_type",
        "n",
        (
            F.col("n").cast("double")
            / F.sum("n").over(wn).cast("double")
        ).alias("prob"),
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands — consecutive order-months per customer
# ---------------------------------------------------------------------------

_ISLANDS_ORACLE = """
WITH m AS (
  SELECT DISTINCT o_custkey,
         year(o_orderdate) * 12 + month(o_orderdate) AS mth
  FROM orders
),
g AS (
  SELECT o_custkey, mth,
         mth - row_number() OVER (PARTITION BY o_custkey ORDER BY mth)
           AS grp
  FROM m
)
SELECT o_custkey,
       CAST(min(mth) AS BIGINT) AS start_month,
       CAST(max(mth) AS BIGINT) AS end_month,
       CAST(count(*) AS BIGINT) AS n_months
FROM g GROUP BY o_custkey, grp
"""


@register("orders_gaps_islands", oracle=_ISLANDS_ORACLE)
def orders_gaps_islands(spark, sf_dir):
    """Gaps-and-islands: maximal runs of consecutive calendar months in
    which each customer placed ≥1 order — the classic activity-streak /
    churn-window primitive.

    Months are collapsed to integers (year*12+month) so the
    "consecutive" test is pure arithmetic; the island id is the
    `mth − row_number()` invariant (constant within a run, strictly
    decreasing across gaps). Two exchanges: the distinct shuffles on
    (custkey, month), then the window re-keys to custkey alone — but
    the second shuffle moves the already-collapsed customer-month
    relation (≤ |customers|×|months| rows), not the orders fact; the
    final groupBy reuses the window's partitioning.
    """
    o = load_table(spark, sf_dir, "orders")
    m = o.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mth"),
    ).distinct()
    w = Window.partitionBy("o_custkey").orderBy("mth")
    g = m.select(
        "o_custkey",
        "mth",
        (F.col("mth") - F.row_number().over(w)).alias("grp"),
    )
    return g.groupBy("o_custkey", "grp").agg(
        F.min("mth").cast("long").alias("start_month"),
        F.max("mth").cast("long").alias("end_month"),
        F.count(F.lit(1)).alias("n_months"),
    ).drop("grp")


# ---------------------------------------------------------------------------
# Bitwise scalar surface
# ---------------------------------------------------------------------------

_BITWISE_ORACLE = """
SELECT o_orderkey,
       o_orderkey & 255 AS band,
       o_orderkey | 4096 AS bor,
       xor(o_orderkey, o_custkey) AS bxor,
       o_orderkey << 2 AS shl,
       o_orderkey >> 3 AS shr,
       CAST(bit_count(o_orderkey) AS BIGINT) AS popcnt
FROM orders
WHERE o_orderkey <= 1000
"""


@register("scalar_bitwise_funcs", oracle=_BITWISE_ORACLE)
def scalar_bitwise_funcs(spark, sf_dir):
    """Bitwise scalar-function surface (AND/OR/XOR/shifts/popcount) —
    the primitives behind hash partitioners, bitmap flags, SimHash
    banding, and bloom addressing elsewhere in the engine, exercised
    here as a direct conformance suite.

    All row-local integer ops inside whole-stage codegen; the
    `o_orderkey <= 1000` predicate pushes to the parquet scan.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") <= 1000).select(
        "o_orderkey",
        F.expr("o_orderkey & 255").alias("band"),
        F.expr("o_orderkey | 4096").alias("bor"),
        F.expr("o_orderkey ^ o_custkey").alias("bxor"),
        F.expr("shiftleft(o_orderkey, 2)").alias("shl"),
        F.expr("shiftright(o_orderkey, 3)").alias("shr"),
        F.expr("cast(bit_count(o_orderkey) as bigint)").alias("popcnt"),
    )


# ---------------------------------------------------------------------------
# Deterministic per-group mode
# ---------------------------------------------------------------------------

_MODE_ORACLE = """
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY user_id, event_type
),
r AS (
  SELECT user_id, event_type, cnt,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY cnt DESC, event_type) AS rn
  FROM c
)
SELECT user_id, event_type AS mode_type, cnt AS mode_count
FROM r WHERE rn = 1
"""


@register("events_mode_event_type", oracle=_MODE_ORACLE)
def events_mode_event_type(spark, sf_dir):
    """Deterministic per-user mode: the most frequent event type, ties
    broken alphabetically. Built-in `F.mode` is tie-nondeterministic
    (hash-order dependent — unreproducible across runs/engines), so the
    engine spells mode as count + rank with a declared total tie-break.

    Two stages that share the user_id partitioning: groupBy
    (user, type) then a ≤5-row-per-user window — Catalyst reuses the
    exchange, so this is one real shuffle at any scale.
    """
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("cnt").desc(), F.col("event_type")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_type"),
            F.col("cnt").alias("mode_count"),
        )
    )


# ---------------------------------------------------------------------------
# Cumulative distinct count over a window (COUNT(DISTINCT) OVER is
# unsupported in both engines — first-occurrence-flag prefix sum instead)
# ---------------------------------------------------------------------------

_CUMDIST_ORACLE = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS first_seen
  FROM events
)
SELECT user_id, event_id,
       CAST(sum(first_seen) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS BIGINT)
         AS cum_distinct_types
FROM flagged
"""


@register("events_cumulative_distinct_types", oracle=_CUMDIST_ORACLE)
def events_cumulative_distinct_types(spark, sf_dir):
    """Running COUNT(DISTINCT event_type) per user — "how much of the
    product surface has this user touched by event N?" (activation-
    breadth curves). Neither Spark nor DuckDB supports DISTINCT
    aggregates over running windows, so the engine spells it as the
    standard two-pass identity: flag each (user, type)'s first
    occurrence with row_number()=1, then prefix-sum the flags.

    Two window passes over different partitionings — (user,type) then
    (user) — so two shuffles; the second reuses nothing from the first
    by key, which is inherent to the identity. Both frames are running
    (O(n) per partition) and totally ordered by (ts, event_id).
    """
    ev = load_table(spark, sf_dir, "events")
    w1 = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.row_number().over(w1) == 1, 1).otherwise(0).alias("first_seen"),
    )
    return flagged.select(
        "user_id",
        "event_id",
        F.sum("first_seen").over(w2).cast("long").alias("cum_distinct_types"),
    )


# ---------------------------------------------------------------------------
# Share-of-parent revenue hierarchy (nation -> region -> total)
# ---------------------------------------------------------------------------

_SHARE_ORACLE = """
WITH rev AS (
  SELECT r_name, n_name,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
           AS rev_dec
  FROM region
  JOIN nation ON n_regionkey = r_regionkey
  JOIN customer ON c_nationkey = n_nationkey
  JOIN orders ON o_custkey = c_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  GROUP BY r_name, n_name
)
SELECT r_name, n_name,
       CAST(rev_dec AS DOUBLE) AS revenue,
       CAST(rev_dec AS DOUBLE)
         / CAST(sum(rev_dec) OVER (PARTITION BY r_name) AS DOUBLE)
         AS share_of_region,
       CAST(sum(rev_dec) OVER (PARTITION BY r_name) AS DOUBLE)
         / CAST(sum(rev_dec) OVER () AS DOUBLE)
         AS region_share_of_total
FROM rev
"""


@register("revenue_share_of_parent", oracle=_SHARE_ORACLE)
def revenue_share_of_parent(spark, sf_dir):
    """Hierarchical share-of-parent readout: every nation's revenue, its
    share within its region, and the region's share of world revenue —
    the drill-down ratio panel behind every BI hierarchy.

    The heavy lineage is the q5-shaped join tree (dims broadcast,
    lineitem never shuffled until the 25-row nation aggregate); the
    share ratios are windows over that 25-row relation — free at any
    input scale. Exactness: per-(region,nation) revenue is summed as
    DECIMAL (associative), the window sums stay DECIMAL, and only the
    final ratios cast to double — both engines divide the identical
    exact quantities.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            ).alias("rev_dec")
        )
    )
    w_region = Window.partitionBy("r_name")
    w_all = Window.partitionBy()
    reg_dec = F.sum("rev_dec").over(w_region)
    tot_dec = F.sum("rev_dec").over(w_all)
    return rev.select(
        "r_name",
        "n_name",
        F.col("rev_dec").cast("double").alias("revenue"),
        (F.col("rev_dec").cast("double") / reg_dec.cast("double")).alias(
            "share_of_region"
        ),
        (reg_dec.cast("double") / tot_dec.cast("double")).alias(
            "region_share_of_total"
        ),
    )


# ---------------------------------------------------------------------------
# Year-over-year growth (monthly revenue vs. same month last year)
# ---------------------------------------------------------------------------

_YOY_ORACLE = """
WITH m AS (
  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS mth,
         sum(CAST(o_totalprice AS DECIMAL(18,6))) AS rev_dec
  FROM orders GROUP BY year(o_orderdate) * 12 + month(o_orderdate)
)
SELECT mth,
       CAST(rev_dec AS DOUBLE) AS revenue,
       CAST(lag(rev_dec, 12) OVER (ORDER BY mth) AS DOUBLE) AS revenue_ly,
       CAST(rev_dec AS DOUBLE)
         / CAST(lag(rev_dec, 12) OVER (ORDER BY mth) AS DOUBLE) - 1.0
         AS yoy_growth
FROM m
"""


@register("orders_yoy_growth", oracle=_YOY_ORACLE)
def orders_yoy_growth(spark, sf_dir):
    """Year-over-year monthly revenue growth — the lag-12 companion to
    `revenue_mom_change`. Calendar months collapse to integers so the
    12-month offset is a plain LAG; revenue stays DECIMAL until the
    final ratio. DENSE-MONTHS ASSUMPTION (same caveat as
    ``orders_ttm_revenue`` documents): lag(12) counts ROWS of the
    monthly aggregate, so a calendar month with zero orders would
    misalign "same month last year" — on sparse data, self-join on
    mth - 12 (or densify the month spine) instead; the oracle shares
    the assumption so the gate compares like with like. One shuffle for the monthly agg; the window runs over
    ~one row per month regardless of input scale (single-partition
    window on an already-tiny relation — not a bottleneck)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mth")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("rev_dec"))
    w = Window.orderBy("mth")
    ly = F.lag("rev_dec", 12).over(w)
    return m.select(
        "mth",
        F.col("rev_dec").cast("double").alias("revenue"),
        ly.cast("double").alias("revenue_ly"),
        (F.col("rev_dec").cast("double") / ly.cast("double") - 1.0).alias(
            "yoy_growth"
        ),
    )


# ---------------------------------------------------------------------------
# Conditional entropy / information gain of the behavioral chain
# ---------------------------------------------------------------------------
# How predictable is the NEXT event type given the current one? The
# information-theoretic summary of events_markov_transitions:
#   H(next | cur) = -sum_ab (n_ab / N) ln(n_ab / n_a)
#   H(next)       = -sum_b  (m_b / N) ln(m_b / N)
#   info_gain     = H(next) - H(next | cur)   (= their MI)
# over the same per-user (prev -> cur) pair relation (conditioned on
# prev IS NOT NULL, so both entropies see the same population). The
# cell relation is k^2-bounded (k = |event types|); each cell term is
# one fixed double expression nano-quantized to BIGINT before the
# (bounded) DECIMAL re-sum, so no float reduction order leaks.

_CENT_ORACLE = f"""
WITH {_TRANSITIONS_CTES},
marg_a AS (
  SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_a FROM c GROUP BY 1
),
marg_b AS (
  SELECT cur_type, CAST(sum(n) AS BIGINT) AS m_b FROM c GROUP BY 1
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM c),
cond_terms AS (
  SELECT CAST(round(1e9 * (CAST(c.n AS DOUBLE) / tot.nn)
              * ln(CAST(c.n AS DOUBLE) / marg_a.n_a)) AS BIGINT) AS t_nano
  FROM c JOIN marg_a USING (prev_type) CROSS JOIN tot
),
marg_terms AS (
  SELECT CAST(round(1e9 * (CAST(m_b AS DOUBLE) / tot.nn)
              * ln(CAST(m_b AS DOUBLE) / tot.nn)) AS BIGINT) AS t_nano
  FROM marg_b CROSS JOIN tot
),
h AS (
  SELECT
    -(CAST(sum(CAST(t_nano AS DECIMAL(38,0))) AS DOUBLE) / 1e9) AS h_cond
  FROM cond_terms
),
hm AS (
  SELECT
    -(CAST(sum(CAST(t_nano AS DECIMAL(38,0))) AS DOUBLE) / 1e9) AS h_marg
  FROM marg_terms
)
SELECT tot.nn AS n_pairs, h.h_cond, hm.h_marg,
       hm.h_marg - h.h_cond AS info_gain
FROM tot, h, hm
"""


@register("events_conditional_entropy", oracle=_CENT_ORACLE)
def events_conditional_entropy(spark, sf_dir):
    """Conditional entropy H(next|cur), marginal entropy H(next), and
    their difference (the chain's information gain) over the Markov
    pair relation. See the section comment for the nano-quantized
    bounded-sum discipline.

    Scale shape: one per-user ordered window pass to pairs (the
    events_markov_transitions lineage), one k^2-row hash agg, then
    bounded-grid arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("cur_type"),
    ).filter(F.col("prev_type").isNotNull())
    c = seq.groupBy("prev_type", "cur_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    # k^2-row cell relation feeds three branches — persist it
    c = pin(c)
    marg_a = c.groupBy("prev_type").agg(F.sum("n").cast("long").alias("n_a"))
    marg_b = c.groupBy("cur_type").agg(F.sum("n").cast("long").alias("m_b"))
    tot = c.agg(F.sum("n").cast("long").alias("nn"))
    cond = (
        c.join(marg_a, "prev_type")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                1e9
                * (F.col("n").cast("double") / F.col("nn"))
                * F.log(F.col("n").cast("double") / F.col("n_a"))
            )
            .cast("long")
            .alias("t_nano")
        )
        .agg(
            (
                -(
                    F.sum(F.col("t_nano").cast("decimal(38,0)")).cast(
                        "double"
                    )
                    / 1e9
                )
            ).alias("h_cond")
        )
    )
    marg = (
        marg_b.crossJoin(F.broadcast(tot))
        .select(
            F.round(
                1e9
                * (F.col("m_b").cast("double") / F.col("nn"))
                * F.log(F.col("m_b").cast("double") / F.col("nn"))
            )
            .cast("long")
            .alias("t_nano")
        )
        .agg(
            (
                -(
                    F.sum(F.col("t_nano").cast("decimal(38,0)")).cast(
                        "double"
                    )
                    / 1e9
                )
            ).alias("h_marg")
        )
    )
    return (
        tot.crossJoin(F.broadcast(cond))
        .crossJoin(F.broadcast(marg))
        .select(
            F.col("nn").alias("n_pairs"),
            "h_cond",
            "h_marg",
            (F.col("h_marg") - F.col("h_cond")).alias("info_gain"),
        )
    )
