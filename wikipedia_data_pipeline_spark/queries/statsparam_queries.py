"""Parametric moment-based tests over the events stream (round 12,
session 6): Grubbs' extreme-outlier test, the Jarque-Bera normality
screen, and the two-sample Poisson rate-ratio (Wald) test.

Same exactness discipline as the rank/nonparam modules (registry.py
module doc): all sufficient statistics are exact BIGINT/DECIMAL sums
(value cents, cross-multiplied deviations so no rational mean ever
materializes); where a standardized per-row term must be re-summed
(the z-power moments in Jarque-Bera), it is micro-quantized after ONE
fixed double expression over broadcast exact aggregates — the
Brown-Forsythe row-quantization pattern. New module rather than
statstests_queries / statsnonparam_queries, which both sit against the
2,000-line split threshold.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators.ranks import pin
from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table

_US_PER_DAY = 86_400_000_000


# ---------------------------------------------------------------------------
# Grubbs' test for a single extreme outlier in the daily-total series
# ---------------------------------------------------------------------------
# G = max_i |x_i - xbar| / s. The argmax is decided on the EXACT
# integer |n*x_i - S| (cross-multiplied deviation — no float tiebreak),
# and G itself is one fixed double expression over n, S, and the
# DECIMAL sum of squares: G = |n*x* - S| / sqrt(n * (n*Q - S^2) / (n-1))
# (numerator and variance both scaled by n). The day relation is
# calendar-bounded; the only fact-sized work is one hash aggregate.

_GRUBBS_ORACLE = f"""
WITH daily AS (
  SELECT (epoch_us(ts) - (SELECT min(epoch_us(ts)) FROM events))
           // {_US_PER_DAY} AS day_idx,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS s,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS q
  FROM daily
),
dev AS (
  SELECT daily.day_idx, daily.x, agg.n, agg.s, agg.q,
         abs(agg.n * daily.x - agg.s) AS abs_dev
  FROM daily CROSS JOIN agg
)
SELECT n AS n_days, day_idx AS day_star, x AS x_star_cents,
       abs_dev AS max_scaled_dev,
       CAST(abs_dev AS DOUBLE)
         / sqrt(CAST(n AS DOUBLE)
                * CAST(CAST(n AS DECIMAL(38,0)) * q
                       - CAST(s AS DECIMAL(38,0)) * s AS DOUBLE)
                / (n - 1)) AS g_stat
FROM dev
ORDER BY abs_dev DESC, day_idx ASC
LIMIT 1
"""


@register("stats_grubbs_outlier", oracle=_GRUBBS_ORACLE)
def stats_grubbs_outlier(spark, sf_dir):
    """Grubbs' maximum-normed-residual test on the daily revenue-total
    series: the single most deviant day and its G statistic — the
    formal version of "is that spike real or just the tail of a normal
    day". See the section comment: the argmax rides the exact integer
    |n*x - S|, and G is one fixed double expression."""
    ev = load_table(spark, sf_dir, "events")
    t0 = ev.agg(F.min(F.col("ts").cast("long")).alias("t0"))
    daily = (
        ev.crossJoin(F.broadcast(t0))
        .groupBy(
            # exact integer floor division, matching the oracle's `//`:
            # double-divide-then-truncate misbins events within ~1-2 us
            # of a day boundary once the span exceeds ~128 days (float64
            # ulp > 1 at those magnitudes)
            F.expr(f"(cast(ts as long) - t0) div {_US_PER_DAY}")
            .cast("long")
            .alias("day_idx")
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("x")
        )
    )
    agg = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("q"),
    )
    dev = daily.crossJoin(F.broadcast(agg)).select(
        "day_idx",
        "x",
        "n",
        "s",
        "q",
        F.abs(F.col("n") * F.col("x") - F.col("s")).alias("abs_dev"),
    )
    var_scaled = (
        F.col("n").cast("decimal(38,0)") * F.col("q")
        - F.col("s").cast("decimal(38,0)") * F.col("s")
    ).cast("double")
    return (
        dev.orderBy(F.desc("abs_dev"), F.asc("day_idx"))
        .limit(1)
        .select(
            F.col("n").alias("n_days"),
            F.col("day_idx").alias("day_star"),
            F.col("x").alias("x_star_cents"),
            F.col("abs_dev").alias("max_scaled_dev"),
            (
                F.col("abs_dev").cast("double")
                / F.sqrt(
                    F.col("n").cast("double") * var_scaled / (F.col("n") - 1)
                )
            ).alias("g_stat"),
        )
    )


# ---------------------------------------------------------------------------
# Jarque-Bera normality screen on event values
# ---------------------------------------------------------------------------
# JB = n * (g1^2/6 + g2^2/24) from sample skewness g1 and excess
# kurtosis g2. Two passes: (1) exact n, S, sum-of-squares -> mu and
# sigma as broadcast doubles (sigma = sqrt(n*Q - S^2)/n, the DECIMAL
# cross-multiplied form — no rational mean); (2) per-row z = (c-mu)/
# sigma, with z^3 and z^4 micro-quantized to BIGINT after the one
# fixed expression and re-summed in DECIMAL (n^3-scaled all-integer
# fourth moments would overflow DECIMAL(38) at the 100x replica —
# documented trade: the quantization error is bounded by 5e-7 * n
# absolute on each moment sum, identical in both engines).

_JB_ORACLE = """
WITH r AS (SELECT CAST(round(value * 100) AS BIGINT) AS c FROM events),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s,
         CAST(sum(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS q
  FROM r
),
mo AS (
  SELECT n, s,
         CAST(s AS DOUBLE) / n AS mu,
         sqrt(CAST(CAST(n AS DECIMAL(38,0)) * q
                   - CAST(s AS DECIMAL(38,0)) * s AS DOUBLE)) / n AS sigma
  FROM agg
),
z AS (
  SELECT CAST(round((((CAST(r.c AS DOUBLE) - mo.mu) / mo.sigma)
                     * ((CAST(r.c AS DOUBLE) - mo.mu) / mo.sigma))
                    * ((CAST(r.c AS DOUBLE) - mo.mu) / mo.sigma) * 1e6)
              AS BIGINT) AS t3,
         CAST(round((((CAST(r.c AS DOUBLE) - mo.mu) / mo.sigma)
                     * ((CAST(r.c AS DOUBLE) - mo.mu) / mo.sigma))
                    * (((CAST(r.c AS DOUBLE) - mo.mu) / mo.sigma)
                       * ((CAST(r.c AS DOUBLE) - mo.mu) / mo.sigma)) * 1e6)
              AS BIGINT) AS t4
  FROM r CROSS JOIN mo
),
zs AS (
  SELECT CAST(sum(CAST(t3 AS DECIMAL(38,0))) AS DOUBLE) AS s3,
         CAST(sum(CAST(t4 AS DECIMAL(38,0))) AS DOUBLE) AS s4
  FROM z
)
SELECT mo.n, mo.mu AS mean_cents, mo.sigma AS sd_cents,
       zs.s3 / 1e6 / mo.n AS skewness,
       zs.s4 / 1e6 / mo.n - 3 AS ex_kurtosis,
       CAST(mo.n AS DOUBLE)
         * ((zs.s3 / 1e6 / mo.n) * (zs.s3 / 1e6 / mo.n) / 6
            + (zs.s4 / 1e6 / mo.n - 3) * (zs.s4 / 1e6 / mo.n - 3) / 24)
         AS jb_stat
FROM mo CROSS JOIN zs
"""


@register("stats_jarque_bera", oracle=_JB_ORACLE)
def stats_jarque_bera(spark, sf_dir):
    """Jarque-Bera normality test on event values: skewness, excess
    kurtosis, and JB = n(g1^2/6 + g2^2/24) — the moment screen a
    pipeline runs before trusting z-score outlier gates or normal-
    theory intervals on a metric. See the section comment for the
    two-pass broadcast-moments + micro-quantized z-power construction;
    both passes are single fact scans."""
    ev = load_table(spark, sf_dir, "events")
    r = ev.select(F.round(F.col("value") * 100).cast("long").alias("c"))
    agg = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
        .cast("decimal(38,0)")
        .alias("q"),
    )
    mo = agg.select(
        "n",
        "s",
        (F.col("s").cast("double") / F.col("n")).alias("mu"),
        (
            F.sqrt(
                (
                    F.col("n").cast("decimal(38,0)") * F.col("q")
                    - F.col("s").cast("decimal(38,0)") * F.col("s")
                ).cast("double")
            )
            / F.col("n")
        ).alias("sigma"),
    )
    zc = (F.col("c").cast("double") - F.col("mu")) / F.col("sigma")
    z = r.crossJoin(F.broadcast(mo)).select(
        F.round(((zc * zc) * zc) * 1e6).cast("long").alias("t3"),
        F.round(((zc * zc) * (zc * zc)) * 1e6).cast("long").alias("t4"),
        "n",
        "mu",
        "sigma",
    )
    zs = z.groupBy("n", "mu", "sigma").agg(
        F.sum(F.col("t3").cast("decimal(38,0)")).cast("double").alias("s3"),
        F.sum(F.col("t4").cast("decimal(38,0)")).cast("double").alias("s4"),
    )
    skew = F.col("s3") / 1e6 / F.col("n")
    ex_k = F.col("s4") / 1e6 / F.col("n") - 3
    return zs.select(
        "n",
        F.col("mu").alias("mean_cents"),
        F.col("sigma").alias("sd_cents"),
        skew.alias("skewness"),
        ex_k.alias("ex_kurtosis"),
        (
            F.col("n").cast("double")
            * (skew * skew / 6 + ex_k * ex_k / 24)
        ).alias("jb_stat"),
    )


# ---------------------------------------------------------------------------
# Two-sample Poisson rate-ratio (Wald) test on purchase incidence
# ---------------------------------------------------------------------------
# The count-data A/B test the lift/chi2 family does not cover: treat
# each arm's total event stream as exposure and its purchase events as
# incidents; RR = (c1/e1)/(c2/e2), z = ln(RR)/sqrt(1/c1 + 1/c2). Arms
# are the same user-parity split as events_ks_test_ab. One fact scan
# with four conditional sums; every statistic is one fixed double
# expression of four exact BIGINTs.

_POISSON_RR_ORACLE = """
WITH cnt AS (
  SELECT
    CAST(sum(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
             THEN 1 ELSE 0 END) AS BIGINT) AS c1,
    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS e1,
    CAST(sum(CASE WHEN user_id % 2 = 1 AND event_type = 'purchase'
             THEN 1 ELSE 0 END) AS BIGINT) AS c2,
    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS e2
  FROM events
)
SELECT c1 AS n_purchase_a, e1 AS n_events_a,
       c2 AS n_purchase_b, e2 AS n_events_b,
       CAST(c1 AS DOUBLE) / e1 AS rate_a,
       CAST(c2 AS DOUBLE) / e2 AS rate_b,
       (CAST(c1 AS DOUBLE) / e1) / (CAST(c2 AS DOUBLE) / e2) AS rate_ratio,
       ln((CAST(c1 AS DOUBLE) / e1) / (CAST(c2 AS DOUBLE) / e2))
         / sqrt(1.0 / c1 + 1.0 / c2) AS z_wald
FROM cnt
"""


@register("stats_poisson_rate_ratio", oracle=_POISSON_RR_ORACLE)
def stats_poisson_rate_ratio(spark, sf_dir):
    """Wald test for the ratio of purchase rates between the two
    user-parity arms, with total per-arm event volume as exposure —
    the Poisson-count companion to events_ab_test_lift (which compares
    means) and stats_g_test_type_dow (which compares composition).
    See the section comment; one scan, four conditional sums."""
    ev = load_table(spark, sf_dir, "events")
    is_a = F.col("user_id") % 2 == 0
    is_p = F.col("event_type") == "purchase"
    cnt = ev.agg(
        F.sum(F.when(is_a & is_p, 1).otherwise(0)).cast("long").alias("c1"),
        F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("e1"),
        F.sum(F.when(~is_a & is_p, 1).otherwise(0)).cast("long").alias("c2"),
        F.sum(F.when(~is_a, 1).otherwise(0)).cast("long").alias("e2"),
    )
    c1, e1 = F.col("c1").cast("double"), F.col("e1")
    c2, e2 = F.col("c2").cast("double"), F.col("e2")
    rr = (c1 / e1) / (c2 / e2)
    return cnt.select(
        F.col("c1").alias("n_purchase_a"),
        F.col("e1").alias("n_events_a"),
        F.col("c2").alias("n_purchase_b"),
        F.col("e2").alias("n_events_b"),
        (c1 / e1).alias("rate_a"),
        (c2 / e2).alias("rate_b"),
        rr.alias("rate_ratio"),
        (
            F.log(rr)
            / F.sqrt(1.0 / F.col("c1") + 1.0 / F.col("c2"))
        ).alias("z_wald"),
    )


# ---------------------------------------------------------------------------
# Welch's unequal-variance t-test between the parity arms
# ---------------------------------------------------------------------------
# t = (m1 - m2) / sqrt(s1^2/n1 + s2^2/n2) with the Welch-Satterthwaite
# df — the mean-difference test that stays valid when the arms' spreads
# differ (Student's pooled t silently assumes they don't). Sample
# variances in the cross-multiplied form s^2 = (n*Q - S^2)/(n*(n-1))
# from exact BIGINT/DECIMAL cents moments; t and df are fixed double
# expressions — the parametric companion to events_mannwhitney_ab and
# stats_brunner_munzel on the same split.

_WELCH_ORACLE = """
WITH r AS (
  SELECT user_id % 2 AS arm, CAST(round(value * 100) AS BIGINT) AS c
  FROM events
),
g AS (
  SELECT arm,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s,
         CAST(sum(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS q
  FROM r GROUP BY 1
),
w AS (
  SELECT
    max(CASE WHEN arm = 0 THEN n END) AS n1,
    max(CASE WHEN arm = 0 THEN s END) AS s1,
    max(CASE WHEN arm = 0 THEN q END) AS q1,
    max(CASE WHEN arm = 1 THEN n END) AS n2,
    max(CASE WHEN arm = 1 THEN s END) AS s2,
    max(CASE WHEN arm = 1 THEN q END) AS q2
  FROM g
),
v AS (
  SELECT n1, n2,
         CAST(s1 AS DOUBLE) / n1 AS m1,
         CAST(s2 AS DOUBLE) / n2 AS m2,
         CAST(CAST(n1 AS DECIMAL(38,0)) * q1
              - CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE)
           / (CAST(n1 AS DOUBLE) * (n1 - 1)) / n1 AS v1n,
         CAST(CAST(n2 AS DECIMAL(38,0)) * q2
              - CAST(s2 AS DECIMAL(38,0)) * s2 AS DOUBLE)
           / (CAST(n2 AS DOUBLE) * (n2 - 1)) / n2 AS v2n
  FROM w
)
SELECT n1 AS n_a, n2 AS n_b, m1 AS mean_a_cents, m2 AS mean_b_cents,
       (m1 - m2) / sqrt(v1n + v2n) AS t_welch,
       (v1n + v2n) * (v1n + v2n)
         / (v1n * v1n / (n1 - 1) + v2n * v2n / (n2 - 1)) AS df_welch
FROM v
"""


@register("stats_welch_ttest", oracle=_WELCH_ORACLE)
def stats_welch_ttest(spark, sf_dir):
    """Welch's t on mean event value between the user-parity arms —
    see the section comment. One scan to two-arm moments; every output
    is a fixed double expression over exact DECIMAL integers."""
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
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
            .cast("decimal(38,0)")
            .alias("q"),
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
        return (
            (
                F.col(n).cast("decimal(38,0)") * F.col(q)
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


# ---------------------------------------------------------------------------
# One-way ANOVA F across event types
# ---------------------------------------------------------------------------
# F = (SSB/(k-1)) / (SSW/(n-k)) with eta^2 = SSB/SST — the classic
# mean-difference-across-k-groups test next to its rank twin
# stats_kruskal_wallis and its variance twins Bartlett/Brown-Forsythe.
# SSB needs per-group S_g^2/n_g: each is ONE double division of exact
# integers rounded to the nearest cent^2 (ulp-exact at these
# magnitudes, identical in both engines) and re-summed exactly in
# DECIMAL — the n-scaled all-integer form would need sum-of-squares
# products past DECIMAL(38) at the 100x replica.

_ANOVA_ORACLE = """
WITH r AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events
),
g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(c) AS BIGINT) AS s_g,
         CAST(sum(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS q_g
  FROM r GROUP BY 1
),
t AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n_g) AS BIGINT) AS n,
         CAST(sum(s_g) AS BIGINT) AS s,
         CAST(sum(q_g) AS DECIMAL(38,0)) AS q,
         CAST(sum(CAST(round(CAST(s_g AS DOUBLE) * s_g / n_g) AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS sq_over_n
  FROM g
),
ss AS (
  SELECT k, n,
         CAST(sq_over_n
              - CAST(round(CAST(s AS DOUBLE) * s / n) AS DECIMAL(38,0))
              AS DOUBLE) AS ssb,
         CAST(q - sq_over_n AS DOUBLE) AS ssw
  FROM t
)
SELECT k AS k_groups, n,
       ssb / 10000 AS ss_between,
       ssw / 10000 AS ss_within,
       (ssb / (k - 1)) / (ssw / (n - k)) AS f_stat,
       ssb / (ssb + ssw) AS eta_sq
FROM ss
"""


@register("stats_oneway_anova_f", oracle=_ANOVA_ORACLE)
def stats_oneway_anova_f(spark, sf_dir):
    """One-way ANOVA on event value across event types: F statistic
    and eta-squared effect size (sums of squares reported in whole
    value units). See the section comment. Scale shape: one hash agg
    to k group-moment rows, one k-row reduction — no second scan."""
    ev = load_table(spark, sf_dir, "events")
    g = (
        ev.select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum("c").cast("long").alias("s_g"),
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
            .cast("decimal(38,0)")
            .alias("q_g"),
        )
    )
    t = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("q_g").cast("decimal(38,0)").alias("q"),
        F.sum(
            F.round(
                F.col("s_g").cast("double") * F.col("s_g") / F.col("n_g")
            ).cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("sq_over_n"),
    )
    ss = t.select(
        "k",
        "n",
        (
            F.col("sq_over_n")
            - F.round(
                F.col("s").cast("double") * F.col("s") / F.col("n")
            ).cast("decimal(38,0)")
        )
        .cast("double")
        .alias("ssb"),
        (F.col("q") - F.col("sq_over_n")).cast("double").alias("ssw"),
    )
    return ss.select(
        F.col("k").alias("k_groups"),
        "n",
        (F.col("ssb") / 10000).alias("ss_between"),
        (F.col("ssw") / 10000).alias("ss_within"),
        (
            (F.col("ssb") / (F.col("k") - 1))
            / (F.col("ssw") / (F.col("n") - F.col("k")))
        ).alias("f_stat"),
        (F.col("ssb") / (F.col("ssb") + F.col("ssw"))).alias("eta_sq"),
    )


# ---------------------------------------------------------------------------
# Cramer's V association matrix over categorical pairs
# ---------------------------------------------------------------------------
# V = sqrt(chi2 / (n * (min(r,c) - 1))) for each of three categorical
# pairs (event_type x day-of-week, event_type x 6h-bucket, dow x
# bucket) — the NORMALIZED association strength the raw chi2 screens
# (events_chi2_type_dow) cannot compare across tables of different
# shape. Cell construction follows the chi2 screen (margins via
# windows over the tiny cell relation, per-cell terms through
# DECIMAL(18,6), observed cells — the fixture's tables are dense),
# but all three pairs marginalize ONE (t x d x h) cube aggregate, so
# the fact is scanned once however many pairs are audited. The oracle
# keeps the per-pair scans (clarity over speed on the twin side).

_V_PAIRS = [
    ("type_dow", "event_type",
     "(epoch(CAST(date_trunc('day', ts) AS DATE)) // 86400) % 7"),
    ("type_hod6", "event_type",
     "((epoch_us(ts) // 3600000000) % 24) // 6"),
    ("dow_hod6",
     "(epoch(CAST(date_trunc('day', ts) AS DATE)) // 86400) % 7",
     "((epoch_us(ts) // 3600000000) % 24) // 6"),
]


def _v_block(name: str, ea: str, eb: str) -> str:
    chi2 = """CAST(sum(CAST(
         (o - CAST(rt * ct AS DOUBLE) / n)
         * (o - CAST(rt * ct AS DOUBLE) / n)
         / (CAST(rt * ct AS DOUBLE) / n) AS DECIMAL(18, 6)))
       AS DOUBLE)"""
    return f"""
SELECT '{name}' AS pair,
       CAST(max(n) AS BIGINT) AS n_events,
       CAST(count(DISTINCT a) AS BIGINT) AS n_cat_a,
       CAST(count(DISTINCT b) AS BIGINT) AS n_cat_b,
       {chi2} AS chi2,
       sqrt({chi2}
            / (max(n) * (least(count(DISTINCT a), count(DISTINCT b)) - 1)))
         AS cramers_v
FROM (
  SELECT a, b, o,
         sum(o) OVER (PARTITION BY a) AS rt,
         sum(o) OVER (PARTITION BY b) AS ct,
         sum(o) OVER () AS n
  FROM (SELECT {ea} AS a, {eb} AS b, count(*) AS o FROM events GROUP BY 1, 2)
)"""


_CRAMERS_ORACLE = "\nUNION ALL\n".join(
    _v_block(nm, ea, eb) for nm, ea, eb in _V_PAIRS
)


@register("events_cramers_v_matrix", oracle=_CRAMERS_ORACLE)
def events_cramers_v_matrix(spark, sf_dir):
    """Cramer's V for three categorical pairs over events — the
    comparable association matrix behind the chi2 screens. See the
    section comment. Scale shape: ONE fact hash agg to the full
    (type x dow x 6h-bucket) cube (<= 5*7*4 = 140 cells); each pair's
    contingency table is a marginalization of that cube, so the three
    branches share the identical scan+agg subplan (one physical scan
    via exchange reuse) and everything downstream is cell-bounded."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    dow = (
        F.unix_date(
            F.date_trunc("day", F.timestamp_micros(F.col("ts"))).cast("date")
        ).cast("long")
        % 7
    )
    hod6 = (F.expr("(ts div 3600000000) % 24") / 6).cast("long")

    # three union branches re-aggregate this <=140-row cube; Spark
    # does no cross-subtree CSE and exchange reuse does not fire
    # across the union, so pin the cube to make the fact scan
    # genuinely happen once (the multiply-referenced-intermediate
    # rule from the TF-IDF/minhash pipelines)
    cube = pin(
        ev.select(
            F.col("event_type").alias("t"),
            dow.cast("string").alias("d"),
            hod6.cast("string").alias("h"),
        )
        .groupBy("t", "d", "h")
        .agg(F.count(F.lit(1)).alias("o3"))
    )

    def block(name, ca, cb):
        cells = (
            cube.groupBy(F.col(ca).alias("a"), F.col(cb).alias("b"))
            .agg(F.sum("o3").alias("o"))
        )
        m = (
            cells.withColumn("rt", F.sum("o").over(Window.partitionBy("a")))
            .withColumn("ct", F.sum("o").over(Window.partitionBy("b")))
            .withColumn("n", F.sum("o").over(Window.partitionBy()))
        )
        e = (F.col("rt") * F.col("ct")).cast("double") / F.col("n")
        term = ((F.col("o") - e) * (F.col("o") - e) / e).cast(
            "decimal(18,6)"
        )
        agg = m.agg(
            F.sum(term).cast("double").alias("chi2"),
            F.max("n").cast("long").alias("n_events"),
            F.countDistinct("a").cast("long").alias("n_cat_a"),
            F.countDistinct("b").cast("long").alias("n_cat_b"),
        )
        return agg.select(
            F.lit(name).alias("pair"),
            "n_events",
            "n_cat_a",
            "n_cat_b",
            "chi2",
            F.sqrt(
                F.col("chi2")
                / (
                    F.col("n_events")
                    * (F.least(F.col("n_cat_a"), F.col("n_cat_b")) - 1)
                )
            ).alias("cramers_v"),
        )

    out = block("type_dow", "t", "d")
    out = out.unionByName(block("type_hod6", "t", "h"))
    out = out.unionByName(block("dow_hod6", "d", "h"))
    return out
