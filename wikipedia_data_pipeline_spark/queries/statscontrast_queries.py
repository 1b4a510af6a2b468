"""Group-contrast tests and effect sizes over survival and stratified
contingency structure: the two-sample log-rank (Mantel-Cox) test, the
Mantel-Haenszel common odds ratio, Cliff's delta, the G-test of
independence, and the standardized effect-size panel.

All exact-oracle, same conventions as the sibling statstests_queries
(this tail was split out of it in round 13 — keys and oracles
unchanged — as the module crossed the 2,000-line threshold; the
statsnonparam/statsrank/statsparam splits are the pattern)."""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators.sampling import SQL_DET_HASH
from wikipedia_data_pipeline_spark.queries.statstests_queries import type_dow_cells
from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table

# --- Survival + stratified contingency (round 11, session 2) ------------

_LOGRANK_ORACLE = f"""
WITH cust AS (
  SELECT o_custkey,
         min(year(CAST(o_orderdate AS DATE)) * 12
             + month(CAST(o_orderdate AS DATE))) AS first_m,
         max(year(CAST(o_orderdate AS DATE)) * 12
             + month(CAST(o_orderdate AS DATE))) AS last_m
  FROM orders GROUP BY o_custkey
),
bounds AS (SELECT max(last_m) AS data_end FROM cust),
obs AS (
  SELECT CAST(({SQL_DET_HASH.format(col="o_custkey")}) % 2 AS BIGINT) AS arm,
         last_m - first_m AS duration_m,
         CASE WHEN b.data_end - last_m > 6 THEN 1 ELSE 0 END AS churned
  FROM cust, bounds b
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_all,
         CAST(sum(arm) AS BIGINT) AS n1_all
  FROM obs
),
at_t AS (
  SELECT duration_m,
         CAST(sum(churned) AS BIGINT) AS d,
         CAST(sum(CASE WHEN arm = 1 THEN churned ELSE 0 END) AS BIGINT) AS d1,
         CAST(count(*) AS BIGINT) AS c,
         CAST(sum(arm) AS BIGINT) AS c1
  FROM obs GROUP BY duration_m
),
risk AS (
  SELECT duration_m, d, d1,
         t.n_all - COALESCE(sum(c) OVER (ORDER BY duration_m
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n,
         t.n1_all - COALESCE(sum(c1) OVER (ORDER BY duration_m
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1
  FROM at_t, tot t
),
terms AS (
  SELECT d, d1, n, n1,
         CAST((2 * CAST(d AS HUGEINT) * n1 * 1000000000 + n)
              // (2 * CAST(n AS HUGEINT)) AS BIGINT) AS e1_nano,
         CASE WHEN n > 1 THEN
           CAST(round(((((CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE))
                         * CAST(n - n1 AS DOUBLE))
                        * CAST(n - d AS DOUBLE))
                       / ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                          * CAST(n - 1 AS DOUBLE)))
                      * 1000000000) AS BIGINT)
         ELSE 0 END AS v_nano
  FROM risk WHERE d > 0
),
s AS (
  SELECT CAST(sum(d1) AS BIGINT) AS o1,
         CAST(sum(e1_nano) AS BIGINT) AS e1_nano,
         CAST(sum(v_nano) AS BIGINT) AS v_nano,
         CAST(count(*) AS BIGINT) AS n_event_times
  FROM terms
)
SELECT t.n1_all AS n_arm1, t.n_all - t.n1_all AS n_arm0,
       s.n_event_times, s.o1,
       CAST(s.e1_nano AS DOUBLE) / 1000000000 AS e1,
       CAST(s.v_nano AS DOUBLE) / 1000000000 AS v,
       CASE WHEN s.v_nano > 0 THEN
         ((CAST(s.o1 AS DOUBLE) - CAST(s.e1_nano AS DOUBLE) / 1000000000)
          * (CAST(s.o1 AS DOUBLE) - CAST(s.e1_nano AS DOUBLE) / 1000000000))
         / (CAST(s.v_nano AS DOUBLE) / 1000000000)
       ELSE 0.0 END AS chi2,
       CASE WHEN s.v_nano > 0 THEN
         ((CAST(s.o1 AS DOUBLE) - CAST(s.e1_nano AS DOUBLE) / 1000000000)
          * (CAST(s.o1 AS DOUBLE) - CAST(s.e1_nano AS DOUBLE) / 1000000000))
         / (CAST(s.v_nano AS DOUBLE) / 1000000000)
       ELSE 0.0 END > 3.841458820694124 AS reject_05
FROM s, tot t
"""


@register("stats_logrank_test", oracle=_LOGRANK_ORACLE)
def stats_logrank_test(spark, sf_dir):
    """Two-sample log-rank test (Mantel-Cox) over the Kaplan-Meier
    churn fixture of orders_survival_curve: duration = months between a
    customer's first and last order, death = churn (no order within 6
    months of data end), later customers right-censored; arms split by
    the deterministic customer hash (so the null holds by construction
    — the machinery is under audit, as in ml_eval_auc_events). At each
    event time t: O₁−E₁ accumulates d₁ₜ − dₜ·n₁ₜ/nₜ and the
    hypergeometric variance dₜ(n₁ₜ/nₜ)(1−n₁ₜ/nₜ)(nₜ−dₜ)/(nₜ−1);
    χ² = (O₁−E₁)²/V against 3.84 (α=0.05, 1 df).

    Exactness: E₁ per time is the exact integer-rounded nano-unit
    (2·d·n₁·10⁹+n) div (2n) — pure DECIMAL/HUGEINT arithmetic, no libm;
    the variance term is one canonical IEEE expression tree rounded
    once to nano-units (survival-curve discipline); both accumulate as
    BIGINT sums, so the statistic is bit-identical across engines.

    Scale shape: the fact scan collapses to one row per customer, then
    one row per distinct duration; the at-risk exclusive prefix sums
    come from a hierarchical `ordered_scan` (inclusive − current), so
    even if the duration domain were fine-grained (a seconds-resolution
    survival clock instead of months) nothing serializes through an
    unpartitioned window, and the final fold never sees raw orders.
    Reference scope: extends the §2 aggregate family; fixture shared
    with orders_survival_curve (finance_queries)."""
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    o = load_table(spark, sf_dir, "orders")
    mth = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    cust = o.groupBy("o_custkey").agg(
        F.min(mth).alias("first_m"), F.max(mth).alias("last_m")
    )
    bounds = cust.agg(F.max("last_m").alias("data_end"))
    obs = cust.crossJoin(F.broadcast(bounds)).select(
        (det_hash("o_custkey") % 2).cast("long").alias("arm"),
        (F.col("last_m") - F.col("first_m")).alias("duration_m"),
        F.when(F.col("data_end") - F.col("last_m") > 6, 1)
        .otherwise(0)
        .alias("churned"),
    )
    tot = obs.agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum("arm").cast("long").alias("n1_all"),
    )
    at_t = obs.groupBy("duration_m").agg(
        F.sum("churned").cast("long").alias("d"),
        F.sum(F.when(F.col("arm") == 1, F.col("churned")).otherwise(0))
        .cast("long")
        .alias("d1"),
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("arm").cast("long").alias("c1"),
    )
    scan = ordered_scan(
        at_t,
        ["duration_m"],
        running=[("run_c", "c", "sum"), ("run_c1", "c1", "sum")],
    )
    risk = scan.crossJoin(F.broadcast(tot)).select(
        "d",
        "d1",
        (F.col("n_all") - (F.col("run_c") - F.col("c"))).alias("n"),
        (F.col("n1_all") - (F.col("run_c1") - F.col("c1"))).alias("n1"),
    )
    num = (
        F.lit(2).cast("decimal(38,0)")
        * F.col("d")
        * F.col("n1")
        * F.lit(1_000_000_000)
        + F.col("n")
    )
    den = F.lit(2).cast("decimal(38,0)") * F.col("n")
    e1_nano = ((num - num % den) / den).cast("long")
    d_d = F.col("d").cast("double")
    n_d = F.col("n").cast("double")
    n1_d = F.col("n1").cast("double")
    v_nano = F.when(
        F.col("n") > 1,
        F.round(
            (
                (
                    ((d_d * n1_d) * (n_d - n1_d).cast("double"))
                    * (n_d - d_d)
                )
                / ((n_d * n_d) * (n_d - F.lit(1.0)))
            )
            * F.lit(1_000_000_000.0)
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    terms = risk.filter(F.col("d") > 0).select(
        "d1", e1_nano.alias("e1_nano"), v_nano.alias("v_nano")
    )
    s = terms.agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum("e1_nano").cast("long").alias("e1_nano"),
        F.sum("v_nano").cast("long").alias("v_nano"),
        F.count(F.lit(1)).cast("long").alias("n_event_times"),
    )
    dev = F.col("o1").cast("double") - F.col("e1_nano").cast(
        "double"
    ) / F.lit(1_000_000_000.0)
    v_d = F.col("v_nano").cast("double") / F.lit(1_000_000_000.0)
    chi2 = F.when(F.col("v_nano") > 0, (dev * dev) / v_d).otherwise(
        F.lit(0.0)
    )
    return s.crossJoin(F.broadcast(tot)).select(
        F.col("n1_all").alias("n_arm1"),
        (F.col("n_all") - F.col("n1_all")).alias("n_arm0"),
        "n_event_times",
        "o1",
        (F.col("e1_nano").cast("double") / 1_000_000_000).alias("e1"),
        v_d.alias("v"),
        chi2.alias("chi2"),
        (chi2 > F.lit(3.841458820694124)).alias("reject_05"),
    )


_MH_ORACLE = """
WITH cells AS (
  SELECT event_type,
         CAST(sum(CASE WHEN user_id % 2 = 1 AND value >= 60.0
                       THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(sum(CASE WHEN user_id % 2 = 1 AND value < 60.0
                       THEN 1 ELSE 0 END) AS BIGINT) AS b,
         CAST(sum(CASE WHEN user_id % 2 = 0 AND value >= 60.0
                       THEN 1 ELSE 0 END) AS BIGINT) AS c,
         CAST(sum(CASE WHEN user_id % 2 = 0 AND value < 60.0
                       THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM events GROUP BY event_type
),
terms AS (
  SELECT a, b, c, d, a + b + c + d AS n,
         CAST((2 * CAST(a AS HUGEINT) * d * 1000000000 + (a + b + c + d))
              // (2 * CAST(a + b + c + d AS HUGEINT)) AS BIGINT) AS r_nano,
         CAST((2 * CAST(b AS HUGEINT) * c * 1000000000 + (a + b + c + d))
              // (2 * CAST(a + b + c + d AS HUGEINT)) AS BIGINT) AS s_nano,
         CAST((2 * CAST(a + b AS HUGEINT) * (a + c) * 1000000000
               + (a + b + c + d))
              // (2 * CAST(a + b + c + d AS HUGEINT)) AS BIGINT) AS e_nano,
         CASE WHEN a + b + c + d > 1 THEN
           CAST(round(((((CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE))
                         * CAST(a + c AS DOUBLE))
                        * CAST(b + d AS DOUBLE))
                       / ((CAST(a + b + c + d AS DOUBLE)
                           * CAST(a + b + c + d AS DOUBLE))
                          * CAST(a + b + c + d - 1 AS DOUBLE)))
                      * 1000000000) AS BIGINT)
         ELSE 0 END AS v_nano
  FROM cells WHERE a + b + c + d > 0
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_strata,
         CAST(sum(a) AS BIGINT) AS sum_a,
         CAST(sum(r_nano) AS BIGINT) AS r_nano,
         CAST(sum(s_nano) AS BIGINT) AS s_nano,
         CAST(sum(e_nano) AS BIGINT) AS e_nano,
         CAST(sum(v_nano) AS BIGINT) AS v_nano
  FROM terms
)
SELECT n_strata, sum_a,
       CAST(e_nano AS DOUBLE) / 1000000000 AS expected_a,
       CASE WHEN s_nano > 0
            THEN CAST(r_nano AS DOUBLE) / CAST(s_nano AS DOUBLE)
            ELSE NULL END AS or_mh,
       CASE WHEN v_nano > 0 THEN
         ((CAST(sum_a AS DOUBLE) - CAST(e_nano AS DOUBLE) / 1000000000)
          * (CAST(sum_a AS DOUBLE) - CAST(e_nano AS DOUBLE) / 1000000000))
         / (CAST(v_nano AS DOUBLE) / 1000000000)
       ELSE 0.0 END AS cmh_chi2,
       CASE WHEN v_nano > 0 THEN
         ((CAST(sum_a AS DOUBLE) - CAST(e_nano AS DOUBLE) / 1000000000)
          * (CAST(sum_a AS DOUBLE) - CAST(e_nano AS DOUBLE) / 1000000000))
         / (CAST(v_nano AS DOUBLE) / 1000000000)
       ELSE 0.0 END > 3.841458820694124 AS reject_05
FROM s
"""


@register("stats_mantel_haenszel", oracle=_MH_ORACLE)
def stats_mantel_haenszel(spark, sf_dir):
    """Mantel-Haenszel stratified 2×2 analysis: the common odds ratio
    OR_MH = Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ) and the Cochran-Mantel-Haenszel
    χ² = (Σaᵢ − ΣE[aᵢ])² / ΣVᵢ across event-type strata — the
    confounder-adjusted A/B readout (exposure = user-id parity,
    outcome = value ≥ 60) that a per-stratum chi-square can't give
    when strata sizes differ (Simpson's-paradox guard). Null holds by
    construction; the machinery is under audit.

    Exactness: aᵢdᵢ/nᵢ, bᵢcᵢ/nᵢ and E[aᵢ] = (aᵢ+bᵢ)(aᵢ+cᵢ)/nᵢ are
    integer-rounded nano-units via (2·x·10⁹+n) div (2n) — pure
    DECIMAL/HUGEINT, no libm; the hypergeometric variance is one
    canonical IEEE tree rounded once (stats_logrank_test discipline).
    All sums BIGINT-exact → bit-identical across engines.

    Scale shape: ONE hash aggregate collapses the fact table to
    |strata| rows (map-side partial combine); everything after runs on
    that driver-tiny relation."""
    ev = load_table(spark, sf_dir, "events")
    exposed = (F.col("user_id") % 2 == 1)
    pos = F.col("value") >= 60.0
    cells = ev.groupBy("event_type").agg(
        F.sum(F.when(exposed & pos, 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(exposed & ~pos, 1).otherwise(0)).cast("long").alias("b"),
        F.sum(F.when(~exposed & pos, 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when(~exposed & ~pos, 1).otherwise(0)).cast("long").alias("d"),
    )
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")

    def idiv_nano(x):
        num = (
            F.lit(2).cast("decimal(38,0)") * x * F.lit(1_000_000_000) + n
        )
        den = F.lit(2).cast("decimal(38,0)") * n
        return ((num - num % den) / den).cast("long")

    nd = n.cast("double")
    v_nano = F.when(
        n > 1,
        F.round(
            (
                (
                    (
                        (F.col("a") + F.col("b")).cast("double")
                        * (F.col("c") + F.col("d")).cast("double")
                    )
                    * (F.col("a") + F.col("c")).cast("double")
                )
                * (F.col("b") + F.col("d")).cast("double")
                / ((nd * nd) * (nd - F.lit(1.0)))
            )
            * F.lit(1_000_000_000.0)
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    terms = cells.filter(n > 0).select(
        "a",
        idiv_nano(F.col("a") * F.col("d")).alias("r_nano"),
        idiv_nano(F.col("b") * F.col("c")).alias("s_nano"),
        idiv_nano((F.col("a") + F.col("b")) * (F.col("a") + F.col("c"))).alias(
            "e_nano"
        ),
        v_nano.alias("v_nano"),
    )
    s = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum("a").cast("long").alias("sum_a"),
        F.sum("r_nano").cast("long").alias("r_nano"),
        F.sum("s_nano").cast("long").alias("s_nano"),
        F.sum("e_nano").cast("long").alias("e_nano"),
        F.sum("v_nano").cast("long").alias("v_nano"),
    )
    dev = F.col("sum_a").cast("double") - F.col("e_nano").cast(
        "double"
    ) / F.lit(1_000_000_000.0)
    chi2 = F.when(
        F.col("v_nano") > 0,
        (dev * dev) / (F.col("v_nano").cast("double") / F.lit(1_000_000_000.0)),
    ).otherwise(F.lit(0.0))
    return s.select(
        "n_strata",
        "sum_a",
        (F.col("e_nano").cast("double") / 1_000_000_000).alias("expected_a"),
        F.when(
            F.col("s_nano") > 0,
            F.col("r_nano").cast("double") / F.col("s_nano").cast("double"),
        ).alias("or_mh"),
        chi2.alias("cmh_chi2"),
        (chi2 > F.lit(3.841458820694124)).alias("reject_05"),
    )


_CLIFFS_ORACLE = """
WITH v AS (
  SELECT value,
         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS ca_v,
         CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS cb_v
  FROM events GROUP BY value
),
r AS (
  SELECT ca_v, cb_v,
         COALESCE(sum(cb_v) OVER (ORDER BY value
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_b_below
  FROM v
),
s AS (
  SELECT CAST(sum(ca_v) AS BIGINT) AS na,
         CAST(sum(cb_v) AS BIGINT) AS nb,
         CAST(sum(CAST(ca_v AS HUGEINT) * cum_b_below) AS HUGEINT) AS g,
         CAST(sum(CAST(ca_v AS HUGEINT) * cb_v) AS HUGEINT) AS ties
  FROM r
),
f AS (
  SELECT na, nb, CAST(g AS BIGINT) AS pairs_gt,
         CAST(CAST(na AS HUGEINT) * nb - g - ties AS BIGINT) AS pairs_lt,
         CAST(ties AS BIGINT) AS ties,
         2 * g + ties - CAST(na AS HUGEINT) * nb AS num,
         CAST(na AS HUGEINT) * nb AS den
  FROM s
)
SELECT na, nb, pairs_gt, pairs_lt, ties,
       CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS cliffs_delta,
       CASE WHEN abs(num) * 1000 < 147 * den THEN 'negligible'
            WHEN abs(num) * 1000 < 330 * den THEN 'small'
            WHEN abs(num) * 1000 < 474 * den THEN 'medium'
            ELSE 'large' END AS magnitude
FROM f
"""


@register("stats_cliffs_delta", oracle=_CLIFFS_ORACLE)
def stats_cliffs_delta(spark, sf_dir):
    """Cliff's delta — the ordinal effect size events_mannwhitney_ab's
    p-value needs next to it (a huge-N test flags microscopic shifts;
    δ says whether they matter): δ = (#(a>b) − #(a<b)) / (n_a·n_b),
    with Romano et al.'s magnitude bands (0.147/0.33/0.474). Same
    collapsed distinct-value lineage as the MWU/KS tests: one hash agg
    to per-value arm counts, one prefix sum over the distinct-value
    relation; #(a>b) = Σᵥ c_a(v)·cum_b(<v) in DECIMAL(38,0) — all
    integer until the single final division, and the band compare is
    |num|·1000 vs threshold·den (integer, no rounding anywhere).

    The prefix sum rides the DISTINCT-VALUE relation via a
    hierarchical `ordered_scan` (exclusive prefix = inclusive running
    sum − current) — value cardinality tracks fact size on a
    near-unique score column, so no unpartitioned window (the
    MWU/KS/DeLong discipline)."""
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan

    ev = load_table(spark, sf_dir, "events")
    is_a = (F.col("user_id") % 2 == 0).cast("long")
    v = ev.groupBy("value").agg(
        F.sum(is_a).cast("long").alias("ca_v"),
        F.sum(1 - is_a).cast("long").alias("cb_v"),
    )
    r = ordered_scan(
        v, ["value"], running=[("cum_cb", "cb_v", "sum")]
    ).select(
        "ca_v",
        "cb_v",
        (F.col("cum_cb") - F.col("cb_v")).alias("cum_b_below"),
    )
    s = r.agg(
        F.sum("ca_v").cast("long").alias("na"),
        F.sum("cb_v").cast("long").alias("nb"),
        F.sum(F.col("ca_v").cast("decimal(38,0)") * F.col("cum_b_below"))
        .cast("decimal(38,0)")
        .alias("g"),
        F.sum(F.col("ca_v").cast("decimal(38,0)") * F.col("cb_v"))
        .cast("decimal(38,0)")
        .alias("ties_d"),
    )
    num = (
        F.lit(2).cast("decimal(38,0)") * F.col("g")
        + F.col("ties_d")
        - F.col("na").cast("decimal(38,0)") * F.col("nb")
    )
    den = F.col("na").cast("decimal(38,0)") * F.col("nb")
    return s.select(
        "na",
        "nb",
        F.col("g").cast("long").alias("pairs_gt"),
        (den - F.col("g") - F.col("ties_d")).cast("long").alias("pairs_lt"),
        F.col("ties_d").cast("long").alias("ties"),
        (num.cast("double") / den.cast("double")).alias("cliffs_delta"),
        F.when(F.abs(num) * 1000 < F.lit(147) * den, "negligible")
        .when(F.abs(num) * 1000 < F.lit(330) * den, "small")
        .when(F.abs(num) * 1000 < F.lit(474) * den, "medium")
        .otherwise("large")
        .alias("magnitude"),
    )


_GTEST_ORACLE = """
WITH cells AS (
  SELECT event_type,
         (epoch(CAST(date_trunc('day', ts) AS DATE)) // 86400) % 7 AS dow,
         CAST(count(*) AS BIGINT) AS o
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT c.event_type, c.dow, c.o,
         CAST(sum(c.o) OVER (PARTITION BY c.event_type) AS BIGINT) AS rt,
         CAST(sum(c.o) OVER (PARTITION BY c.dow) AS BIGINT) AS ct,
         CAST(sum(c.o) OVER () AS BIGINT) AS n
  FROM cells c
),
terms AS (
  SELECT o, rt, ct, n,
         CAST(round(2.0 * o
                    * ln((CAST(o AS DOUBLE) * n)
                         / (CAST(rt AS DOUBLE) * ct))
                    * 1000000000) AS BIGINT) AS g_nano
  FROM m WHERE o > 0
)
SELECT CAST(sum(g_nano) AS DOUBLE) / 1000000000 AS g_stat,
       (SELECT CAST((count(DISTINCT event_type) - 1)
                    * (count(DISTINCT dow) - 1) AS BIGINT) FROM cells)
         AS dof,
       CAST(max(n) AS BIGINT) AS n_events
FROM terms
"""


@register("stats_g_test_type_dow", oracle=_GTEST_ORACLE)
def stats_g_test_type_dow(spark, sf_dir):
    """G-test (likelihood-ratio chi-square) of event type ×
    day-of-week independence — Pearson's asymptotic twin on the SAME
    35-cell contingency fixture as events_chi2_type_dow, so the two
    statistics are directly comparable on identical data (they diverge
    exactly when cell counts run small — the practical reason
    categorical-analysis texts recommend reporting both). G = 2·Σ O·ln(O/E)
    with E = rt·ct/n; zero cells contribute zero (lim x·ln x = 0) and
    are excluded like the Pearson query's missing cells.

    Exactness: each of the ≤35 per-cell transcendentals runs once on
    exact-integer-derived rationals and quantizes to nano-units
    (privacy_dp_release_counts discipline); the statistic is an
    associative BIGINT sum. One fact-table hash agg; margins ride
    windows over the driver-tiny cell relation."""
    from pyspark.sql import Window

    cells = type_dow_cells(spark, sf_dir)
    m = cells.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).cast("long").alias("rt"),
        F.sum("o").over(Window.partitionBy("dow")).cast("long").alias("ct"),
        F.sum("o").over(
            Window.partitionBy()
        ).cast("long").alias("n"),
    )
    g_nano = F.round(
        F.lit(2.0)
        * F.col("o")
        * F.log(
            (F.col("o").cast("double") * F.col("n"))
            / (F.col("rt").cast("double") * F.col("ct"))
        )
        * F.lit(1_000_000_000)
    ).cast("long")
    terms = m.filter(F.col("o") > 0).select(g_nano.alias("g_nano"), "n")
    dof = cells.agg(
        (
            (F.countDistinct("event_type") - 1)
            * (F.countDistinct("dow") - 1)
        )
        .cast("long")
        .alias("dof")
    )
    return (
        terms.agg(
            (F.sum("g_nano").cast("double") / 1_000_000_000).alias("g_stat"),
            F.max("n").cast("long").alias("n_events"),
        )
        .crossJoin(F.broadcast(dof))
        .select("g_stat", "dof", "n_events")
    )


# ---------------------------------------------------------------------------
# Effect-size panel for the A/B fixture (round 12)
# ---------------------------------------------------------------------------

_EFFECT_ORACLE = """
WITH ev AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS v_c,
         CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS is_a
  FROM events
),
m AS (
  SELECT CAST(sum(is_a) AS BIGINT) AS na,
         CAST(sum(1 - is_a) AS BIGINT) AS nb,
         CAST(sum(CASE WHEN is_a = 1 THEN v_c ELSE 0 END) AS BIGINT) AS sa,
         CAST(sum(CASE WHEN is_a = 0 THEN v_c ELSE 0 END) AS BIGINT) AS sb,
         CAST(sum(CASE WHEN is_a = 1 THEN v_c * v_c ELSE 0 END)
           AS BIGINT) AS qa,
         CAST(sum(CASE WHEN is_a = 0 THEN v_c * v_c ELSE 0 END)
           AS BIGINT) AS qb
  FROM ev
),
d AS (
  SELECT na, nb,
         CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
           - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS diff,
         (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
            / CAST(na AS DOUBLE)) AS ssa,
         (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
            / CAST(nb AS DOUBLE)) AS ssb
  FROM m
),
f AS (
  SELECT na, nb, diff,
         diff / sqrt((ssa + ssb)
                     / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2.0))
           AS cohens_d,
         diff / sqrt(ssb / (CAST(nb AS DOUBLE) - 1.0)) AS glass_delta
  FROM d
)
SELECT na, nb, diff / 100.0 AS mean_diff, cohens_d,
       cohens_d * (1.0 - 3.0 / (4.0 * (CAST(na AS DOUBLE)
                                       + CAST(nb AS DOUBLE)) - 9.0))
         AS hedges_g,
       glass_delta
FROM f
"""


@register("stats_effect_size_panel", oracle=_EFFECT_ORACLE)
def stats_effect_size_panel(spark, sf_dir):
    """Standardized effect sizes for the A/B fixture — the numbers a
    test report carries NEXT TO the p-value (`events_ab_test_lift`
    tells you whether; these tell you how much): Cohen's d on the
    pooled sd, Hedges' g (small-sample bias correction), and Glass's Δ
    (control-group sd, for unequal variances).

    Exactness: centi-unit values keep every group moment (n, Σ, Σ²)
    inside BIGINT — deliberately NOT micro-units: Σv² in micro-units
    exceeds 2⁵³ and the >64-bit integer→double casts round DIFFERENTLY
    across engines (measured 1-ulp mismatch), while int64→double is a
    correctly-rounded hardware conversion in both. The three ratios
    are fixed double expressions over those integers. Scale: a single
    map-side-combinable aggregate; past ~1e12 rows Σv² needs the
    DECIMAL route and this cast caveat returns (documented here)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("long").alias("v_c"),
        F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("is_a"),
    )
    m = ev.agg(
        F.sum("is_a").cast("long").alias("na"),
        F.sum(1 - F.col("is_a")).cast("long").alias("nb"),
        F.sum(F.when(F.col("is_a") == 1, F.col("v_c")).otherwise(0))
        .cast("long")
        .alias("sa"),
        F.sum(F.when(F.col("is_a") == 0, F.col("v_c")).otherwise(0))
        .cast("long")
        .alias("sb"),
        F.sum(
            F.when(
                F.col("is_a") == 1, F.col("v_c") * F.col("v_c")
            ).otherwise(0)
        )
        .cast("long")
        .alias("qa"),
        F.sum(
            F.when(
                F.col("is_a") == 0, F.col("v_c") * F.col("v_c")
            ).otherwise(0)
        )
        .cast("long")
        .alias("qb"),
    )
    nad = F.col("na").cast("double")
    nbd = F.col("nb").cast("double")
    diff = F.col("sa").cast("double") / nad - F.col("sb").cast("double") / nbd
    ssa = (
        F.col("qa").cast("double")
        - F.col("sa").cast("double") * F.col("sa").cast("double") / nad
    )
    ssb = (
        F.col("qb").cast("double")
        - F.col("sb").cast("double") * F.col("sb").cast("double") / nbd
    )
    d = m.select(
        "na",
        "nb",
        diff.alias("diff"),
        ssa.alias("ssa"),
        ssb.alias("ssb"),
    )
    nad2 = F.col("na").cast("double")
    nbd2 = F.col("nb").cast("double")
    cohens = F.col("diff") / F.sqrt(
        (F.col("ssa") + F.col("ssb")) / (nad2 + nbd2 - 2.0)
    )
    glass = F.col("diff") / F.sqrt(F.col("ssb") / (nbd2 - 1.0))
    f = d.select(
        "na",
        "nb",
        "diff",
        cohens.alias("cohens_d"),
        glass.alias("glass_delta"),
    )
    return f.select(
        "na",
        "nb",
        (F.col("diff") / 100.0).alias("mean_diff"),
        "cohens_d",
        (
            F.col("cohens_d")
            * (
                F.lit(1.0)
                - F.lit(3.0)
                / (
                    F.lit(4.0)
                    * (F.col("na").cast("double") + F.col("nb").cast("double"))
                    - 9.0
                )
            )
        ).alias("hedges_g"),
        "glass_delta",
    )
