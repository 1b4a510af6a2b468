"""Nonparametric location/dispersion tests and regression-residual
diagnostics (round 12, session 4): Friedman's blocked rank test,
Brown-Forsythe (median-centered Levene), Mood's median test, Wilcoxon
signed-rank, Brunner-Munzel, the Wald-Wolfowitz runs test, a Ljung-Box
autocorrelation panel, and the Durbin-Watson statistic.

All eight follow the engine's exactness discipline (registry.py module
doc): tie-averaged ranks stay integral in DOUBLED units (a tied run of
t values after cum_before rows has average 2*rank = 2*cum_before + t +
1); every global prefix sum over an entity- or distinct-value-sized
relation rides the hierarchical ``ordered_scan`` (never an
unpartitioned window); bounded-series windows (hourly / per-block /
per-lag) are either partitioned or sit above a calendar-bounded
aggregate; each statistic ships exact BIGINT/DECIMAL components plus
ONE fixed double expression both engines evaluate identically,
nano-quantizing wherever a per-term double must be re-summed.

New module rather than statstests_queries (~1.9k lines) or
statsrank_queries — same split rationale as the round-11/12 splits.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table

_US_PER_DAY = 86_400_000_000
_US_PER_HOUR = 3_600_000_000


# ---------------------------------------------------------------------------
# Friedman test: daily activity ranks across event types
# ---------------------------------------------------------------------------
# Blocks = calendar days, treatments = event types, observation = the
# day's event count per type. Within-block midranks via the doubled-
# rank trick keep EVERYTHING integral: with S_j = sum of doubled ranks
# for treatment j over n complete blocks, the tie-corrected statistic
# is Q = (k-1) * sum_j (S_j - n(k+1))^2 / (sum_{ij} s2_ij^2 - nk(k+1)^2)
# (substituting s2 = 2r into the textbook tie-corrected form; for
# untied data it reduces to 12/(nk(k+1)) * sum (R_j - n(k+1)/2)^2).
# No quantization anywhere - the only division is the final one.

# Complete days: the (day, event type) cells of the days on which every
# event type occurs, shared by the Friedman test and Kendall's W.
_TYPE_DAY_OBS_CTES = f"""
cell AS (
  SELECT epoch_us(ts) // {_US_PER_DAY} AS d, event_type,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
k AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k_t FROM events),
full_days AS (
  SELECT d FROM cell GROUP BY d HAVING count(*) = (SELECT k_t FROM k)
),
obs AS (SELECT cell.* FROM cell JOIN full_days USING (d))"""
# Within-day doubled midranks s2 of each cell count x (ties share
# 2*cum_before + t + 1), shared with Page's trend test.
_DAY_MIDRANK_CTES = """
tie AS (
  SELECT d, x, CAST(count(*) AS BIGINT) AS t FROM obs GROUP BY 1, 2
),
rk AS (
  SELECT d, x, t,
         2 * coalesce(sum(t) OVER (PARTITION BY d ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + t + 1 AS s2
  FROM tie
)"""


def _type_day_obs(spark, sf_dir):
    """(k, full_days, obs): the Spark side of ``_TYPE_DAY_OBS_CTES`` —
    the 1-row event-type count, the complete days, and their cells."""
    ev = load_table(spark, sf_dir, "events")
    cell = ev.groupBy(
        F.expr(f"ts div {_US_PER_DAY}").alias("d"), "event_type"
    ).agg(F.count(F.lit(1)).alias("x"))
    k = ev.agg(F.countDistinct("event_type").cast("long").alias("k_t"))
    full_days = (
        cell.groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("n_cells"))
        .crossJoin(F.broadcast(k))
        .filter(F.col("n_cells") == F.col("k_t"))
        .select("d")
    )
    obs = cell.join(full_days, "d")
    return k, full_days, obs


def _day_midranks(obs):
    """(d, x, s2) for the cells ``obs``: the Spark side of
    ``_DAY_MIDRANK_CTES``. The prefix sum is partitioned BY DAY, never
    global."""
    tie = obs.groupBy("d", "x").agg(F.count(F.lit(1)).alias("t"))
    wday = (
        Window.partitionBy("d")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return tie.select(
        "d",
        "x",
        (2 * F.coalesce(F.sum("t").over(wday), F.lit(0)) + F.col("t") + 1)
        .cast("long")
        .alias("s2"),
    )


_FRIEDMAN_ORACLE = f"""
WITH {_TYPE_DAY_OBS_CTES},
{_DAY_MIDRANK_CTES},
ranked AS (
  SELECT obs.d, obs.event_type, rk.s2
  FROM obs JOIN rk ON obs.d = rk.d AND obs.x = rk.x
),
per_t AS (
  SELECT event_type,
         CAST(sum(s2) AS BIGINT) AS s2_sum,
         CAST(count(*) AS BIGINT) AS n_blocks
  FROM ranked GROUP BY 1
),
tot AS (
  SELECT CAST(sum(s2 * s2) AS BIGINT) AS sum_s2_sq,
         CAST(count(DISTINCT d) AS BIGINT) AS n,
         (SELECT k_t FROM k) AS k_t
  FROM ranked
),
q AS (
  SELECT n, k_t, sum_s2_sq,
         CAST(k_t - 1 AS DOUBLE)
           * (SELECT sum(CAST((s2_sum - n * (k_t + 1))
                              * (s2_sum - n * (k_t + 1)) AS DOUBLE))
              FROM per_t)
           / CAST(sum_s2_sq - n * k_t * (k_t + 1) * (k_t + 1) AS DOUBLE)
           AS q_stat
  FROM tot
)
SELECT per_t.event_type, per_t.s2_sum, q.n AS n_blocks, q.k_t AS k_treatments,
       q.q_stat
FROM per_t, q
"""


@register("stats_friedman_test", oracle=_FRIEDMAN_ORACLE)
def stats_friedman_test(spark, sf_dir):
    """Friedman's rank test for treatment effects across matched blocks
    - here "does the mix of activity across event types shift day to
    day?", with each calendar day a block and the day's per-type event
    count the observation. The blocked companion to
    `stats_kruskal_wallis`: KW ranks the pooled sample (between-day
    volume drift leaks into the statistic), Friedman ranks WITHIN each
    day, so global traffic swings cancel exactly.

    Doubled within-block midranks keep rank sums integral; the tie-
    corrected Q is one fixed double division over exact BIGINTs. Scale
    shape: one hash agg to (day, type) cells, within-day prefix sums
    partitioned BY DAY (never global), k-row arithmetic after; the
    blocks relation is calendar-bounded by construction."""
    k, _, obs = _type_day_obs(spark, sf_dir)
    ranked = obs.join(_day_midranks(obs), ["d", "x"]).select(
        "d", "event_type", "s2"
    )
    per_t = ranked.groupBy("event_type").agg(
        F.sum("s2").cast("long").alias("s2_sum"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
    )
    tot = ranked.agg(
        F.sum(F.col("s2") * F.col("s2")).cast("long").alias("sum_s2_sq"),
        F.countDistinct("d").cast("long").alias("n"),
    ).crossJoin(F.broadcast(k))
    dev = F.col("s2_sum") - F.col("n") * (F.col("k_t") + 1)
    num = per_t.crossJoin(F.broadcast(tot)).agg(
        F.sum((dev * dev).cast("double")).alias("num"),
        F.any_value("n").alias("n"),
        F.any_value("k_t").alias("k_t"),
        F.any_value("sum_s2_sq").alias("sum_s2_sq"),
    )
    q = num.select(
        "n",
        "k_t",
        "sum_s2_sq",
        (
            (F.col("k_t") - 1).cast("double")
            * F.col("num")
            / (
                F.col("sum_s2_sq")
                - F.col("n")
                * F.col("k_t")
                * (F.col("k_t") + 1)
                * (F.col("k_t") + 1)
            ).cast("double")
        ).alias("q_stat"),
    )
    return per_t.crossJoin(F.broadcast(q)).select(
        "event_type",
        "s2_sum",
        F.col("n").alias("n_blocks"),
        F.col("k_t").alias("k_treatments"),
        "q_stat",
    )


# ---------------------------------------------------------------------------
# Brown-Forsythe: variance homogeneity on median-centered deviations
# ---------------------------------------------------------------------------
# z_ij = |x_ij - median_j| micro-quantized to BIGINT at the row level
# (sums become associative -> partitioning-independent); the F ratio's
# between/within terms are per-group doubles from exact DECIMAL sums,
# each nano-quantized in UNIT scale before the k-term reduction.

_BF_ORACLE = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med_g
  FROM events GROUP BY 1
),
z AS (
  SELECT e.event_type,
         CAST(round(abs(e.value - m.med_g) * 1000000) AS BIGINT) AS z_u
  FROM events e JOIN med m USING (event_type)
),
g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_g,
         sum(CAST(z_u AS DECIMAL(38,0))) AS zs,
         sum(CAST(z_u AS DECIMAL(38,0)) * z_u) AS zq
  FROM z GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_g) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS k,
         CAST(sum(zs) AS DOUBLE) / 1e6 AS zbar_num
  FROM g
),
terms AS (
  SELECT g.event_type, g.n_g, m.med_g,
         CAST(g.zs AS DOUBLE) / 1e6 / CAST(g.n_g AS DOUBLE) AS zbar_g,
         CAST(round(1e9 * (CAST(g.n_g AS DOUBLE) / CAST(t.n AS DOUBLE))
              * (CAST(g.zs AS DOUBLE) / 1e6 / CAST(g.n_g AS DOUBLE)
                 - t.zbar_num / CAST(t.n AS DOUBLE))
              * (CAST(g.zs AS DOUBLE) / 1e6 / CAST(g.n_g AS DOUBLE)
                 - t.zbar_num / CAST(t.n AS DOUBLE))) AS BIGINT)
           AS bt_nano,
         CAST(round(1e9 * (CAST(g.zq AS DOUBLE) / 1e12
              - (CAST(g.zs AS DOUBLE) / 1e6)
                * (CAST(g.zs AS DOUBLE) / 1e6) / CAST(g.n_g AS DOUBLE))
              / CAST(t.n AS DOUBLE)) AS BIGINT) AS wt_nano
  FROM g JOIN med m USING (event_type), tot t
),
f AS (
  SELECT CAST(sum(bt_nano) AS DOUBLE) / CAST(sum(wt_nano) AS DOUBLE)
           * CAST(t.n - t.k AS DOUBLE) / CAST(t.k - 1 AS DOUBLE) AS f_stat
  FROM terms, tot t GROUP BY t.n, t.k
)
SELECT terms.event_type, terms.n_g, terms.med_g, terms.zbar_g, f.f_stat
FROM terms, f
"""


@register("stats_brown_forsythe", oracle=_BF_ORACLE)
def stats_brown_forsythe(spark, sf_dir):
    """Brown-Forsythe test (Levene's test with median centers) for
    homogeneity of variance of events.value across event types - the
    standard pre-check before pooled-variance tests, robust to the
    heavy tails `events_skew_kurtosis` diagnoses (mean-centered Levene
    is not). F = ((N-k)/(k-1)) * between(z) / within(z) on z = |x -
    median_group|.

    Exactness: per-row z is micro-quantized BIGINT (associative sums);
    per-group between/within terms are fixed double expressions over
    DECIMAL sums, nano-quantized in unit scale before the k-term sum
    (the only reduction whose order Spark does not pin). Scale shape:
    two scans of the fact (one for medians via percentile, one for
    deviations), both plain hash aggs, k-row tail arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("med_g")
    )
    z = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.round(F.abs(F.col("value") - F.col("med_g")) * 1_000_000)
        .cast("long")
        .alias("z_u"),
    )
    dec = "decimal(38,0)"
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(F.col("z_u").cast(dec)).alias("zs"),
        F.sum(F.col("z_u").cast(dec) * F.col("z_u")).alias("zq"),
    )
    tot = g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        (F.sum("zs").cast("double") / 1e6).alias("zbar_num"),
    )
    nd = F.col("n").cast("double")
    zbar_g = F.col("zs").cast("double") / 1e6 / F.col("n_g").cast("double")
    zbar = F.col("zbar_num") / nd
    terms = (
        g.join(F.broadcast(med), "event_type")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "n_g",
            "med_g",
            zbar_g.alias("zbar_g"),
            F.round(
                1e9
                * (F.col("n_g").cast("double") / nd)
                * (zbar_g - zbar)
                * (zbar_g - zbar)
            )
            .cast("long")
            .alias("bt_nano"),
            F.round(
                1e9
                * (
                    F.col("zq").cast("double") / 1e12
                    - (F.col("zs").cast("double") / 1e6)
                    * (F.col("zs").cast("double") / 1e6)
                    / F.col("n_g").cast("double")
                )
                / nd
            )
            .cast("long")
            .alias("wt_nano"),
            F.col("n"),
            F.col("k"),
        )
    )
    f = terms.groupBy("n", "k").agg(
        (
            F.sum("bt_nano").cast("double")
            / F.sum("wt_nano").cast("double")
            * (F.col("n") - F.col("k")).cast("double")
            / (F.col("k") - 1).cast("double")
        ).alias("f_stat")
    )
    return terms.crossJoin(F.broadcast(f.select("f_stat"))).select(
        "event_type", "n_g", "med_g", "zbar_g", "f_stat"
    )


# ---------------------------------------------------------------------------
# Mood's median test: k-group split about the grand median
# ---------------------------------------------------------------------------

_MOOD_ORACLE = """
WITH med AS (SELECT quantile_cont(value, 0.5) AS m FROM events),
g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(CASE WHEN value > (SELECT m FROM med)
                       THEN 1 ELSE 0 END) AS BIGINT) AS a_g
  FROM events GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(sum(a_g) AS BIGINT) AS a
  FROM g
),
terms AS (
  SELECT g.event_type, g.n_g, g.a_g,
         CAST(round(1e9 * (
           (CAST(g.a_g AS DOUBLE) - CAST(g.n_g AS DOUBLE)
              * CAST(t.a AS DOUBLE) / CAST(t.n AS DOUBLE))
           * (CAST(g.a_g AS DOUBLE) - CAST(g.n_g AS DOUBLE)
              * CAST(t.a AS DOUBLE) / CAST(t.n AS DOUBLE))
           * (1.0 / (CAST(g.n_g AS DOUBLE) * CAST(t.a AS DOUBLE)
                     / CAST(t.n AS DOUBLE))
              + 1.0 / (CAST(g.n_g AS DOUBLE)
                       * CAST(t.n - t.a AS DOUBLE) / CAST(t.n AS DOUBLE)))
         )) AS BIGINT) AS chi_nano
  FROM g, tot t
),
s AS (SELECT CAST(sum(chi_nano) AS DOUBLE) / 1e9 AS chi2_stat FROM terms)
SELECT terms.event_type, terms.n_g, terms.a_g, s.chi2_stat
FROM terms, s
"""


@register("stats_mood_median_test", oracle=_MOOD_ORACLE)
def stats_mood_median_test(spark, sf_dir):
    """Mood's median test: do the event-type groups share a common
    median value? Counts each group's observations above the GRAND
    median into a k x 2 contingency table and forms the Pearson chi2
    about the hypergeometric expectation - cruder but far more
    outlier-resistant than `stats_kruskal_wallis` (only the side of
    the median enters, not the rank).

    The (a_g - e_g)^2 * (1/e_g + 1/f_g) identity folds each group's
    two chi2 cells into one term (the above/below deviations are equal
    and opposite). Counts are exact BIGINTs; each term is one fixed
    double expression, nano-quantized before the k-term sum. One fact
    scan for the grand median, one for the table."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.agg(F.expr("percentile(value, 0.5D)").alias("m"))
    g = ev.crossJoin(F.broadcast(med)).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum((F.col("value") > F.col("m")).cast("long"))
        .cast("long")
        .alias("a_g"),
    )
    tot = g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("a_g").cast("long").alias("a"),
    )
    nd = F.col("n").cast("double")
    ad = F.col("a").cast("double")
    e_g = F.col("n_g").cast("double") * ad / nd
    f_g = F.col("n_g").cast("double") * (F.col("n") - F.col("a")).cast(
        "double"
    ) / nd
    dev = F.col("a_g").cast("double") - e_g
    terms = g.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_g",
        "a_g",
        F.round(1e9 * dev * dev * (1.0 / e_g + 1.0 / f_g))
        .cast("long")
        .alias("chi_nano"),
    )
    s = terms.agg(
        (F.sum("chi_nano").cast("double") / 1e9).alias("chi2_stat")
    )
    return terms.crossJoin(F.broadcast(s)).select(
        "event_type", "n_g", "a_g", "chi2_stat"
    )


# ---------------------------------------------------------------------------
# Wilcoxon signed-rank: paired per-user view-vs-click activity
# ---------------------------------------------------------------------------
# Pairs are per-user (count(view), count(click)); d = difference is an
# exact integer, so |d| ranks need no quantization at all. The distinct
# |d| relation is user-lineage (entity-sized at 100 TB) -> ordered_scan.

_WSR_ORACLE = """
WITH pairs AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              - sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS d
  FROM events GROUP BY 1
),
nz AS (SELECT d, abs(d) AS ad FROM pairs WHERE d <> 0),
tie AS (
  SELECT ad, CAST(count(*) AS BIGINT) AS t,
         CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_pos
  FROM nz GROUP BY 1
),
rk AS (
  SELECT ad, t, c_pos,
         2 * coalesce(sum(t) OVER (ORDER BY ad
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + t + 1 AS s2
  FROM tie
),
s AS (
  SELECT CAST(sum(t) AS BIGINT) AS n,
         CAST(sum(c_pos * s2) AS BIGINT) AS w2_plus,
         sum(CAST(t * t * t - t AS DECIMAL(38,0))) AS tie3
  FROM rk
)
SELECT n, w2_plus, CAST(tie3 AS BIGINT) AS tie3,
       (CAST(w2_plus AS DOUBLE) / 2.0
        - CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE) / 4.0)
       / sqrt(CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)
              * CAST(2 * n + 1 AS DOUBLE) / 24.0
              - CAST(tie3 AS DOUBLE) / 48.0) AS z_stat
FROM s
"""


@register("stats_wilcoxon_signed_rank", oracle=_WSR_ORACLE)
def stats_wilcoxon_signed_rank(spark, sf_dir):
    """Wilcoxon signed-rank test on paired per-user activity: does a
    user's view count systematically exceed their click count? The
    paired companion to `events_mannwhitney_ab` - differencing within
    user removes the between-user activity scale that MWU would have
    to rank over.

    d is an exact integer per user, so ranks of |d| (midranks under
    the doubled-rank trick) are exact BIGINTs with no quantization;
    the tie-corrected normal z is one fixed double expression with
    variance n(n+1)(2n+1)/24 - sum(t^3-t)/48. Lineage: one hash agg to
    per-user pairs (entity-sized), one to distinct |d|, prefix sums on
    the hierarchical ordered_scan."""
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan

    ev = load_table(spark, sf_dir, "events")
    pairs = ev.groupBy("user_id").agg(
        (
            F.sum((F.col("event_type") == "view").cast("long"))
            - F.sum((F.col("event_type") == "click").cast("long"))
        )
        .cast("long")
        .alias("d")
    )
    nz = pairs.filter(F.col("d") != 0).select(
        "d", F.abs(F.col("d")).alias("ad")
    )
    tie = nz.groupBy("ad").agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.sum((F.col("d") > 0).cast("long")).cast("long").alias("c_pos"),
    )
    rk = ordered_scan(tie, ["ad"], running=[("cum_t", "t", "sum")]).select(
        "t",
        "c_pos",
        (2 * (F.col("cum_t") - F.col("t")) + F.col("t") + 1).alias("s2"),
    )
    s = rk.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum(F.col("c_pos") * F.col("s2")).cast("long").alias("w2_plus"),
        F.sum(
            (F.col("t") * F.col("t") * F.col("t") - F.col("t")).cast(
                "decimal(38,0)"
            )
        ).alias("tie3"),
    )
    ndd = F.col("n").cast("double")
    z = (
        F.col("w2_plus").cast("double") / 2.0
        - ndd * (F.col("n") + 1).cast("double") / 4.0
    ) / F.sqrt(
        ndd
        * (F.col("n") + 1).cast("double")
        * (2 * F.col("n") + 1).cast("double")
        / 24.0
        - F.col("tie3").cast("double") / 48.0
    )
    return s.select(
        "n",
        "w2_plus",
        F.col("tie3").cast("long").alias("tie3"),
        z.alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Brunner-Munzel: heteroscedasticity-robust two-sample rank test
# ---------------------------------------------------------------------------
# MWU's variance assumes exchangeable dispersion; Brunner-Munzel
# estimates each group's placement variance separately. Placements
# P_ij = pooled midrank - within-group midrank stay integral in
# DOUBLED units: p2 = s2_pooled - s2_within (both from ONE
# ordered_scan carrying pooled and per-group running sums).

# View (c1) and click (c2) counts per distinct value, shared by the
# Brunner-Munzel and Ansari-Bradley tests.
_VIEW_CLICK_CV_CTE = """
cv AS (
  SELECT value,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS c1,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS c2
  FROM events WHERE event_type IN ('view', 'click') GROUP BY 1
)"""


def _view_click_counts(spark, sf_dir):
    """(value, c1, c2, t = c1 + c2): the Spark side of
    ``_VIEW_CLICK_CV_CTE`` with the pooled count."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    cv = ev.groupBy("value").agg(
        F.sum((F.col("event_type") == "view").cast("long"))
        .cast("long")
        .alias("c1"),
        F.sum((F.col("event_type") == "click").cast("long"))
        .cast("long")
        .alias("c2"),
    )
    return cv.select("value", "c1", "c2", (F.col("c1") + F.col("c2")).alias("t"))


_BM_ORACLE = f"""
WITH {_VIEW_CLICK_CV_CTE},
sc AS (
  SELECT c1, c2, c1 + c2 AS t,
         coalesce(sum(c1) OVER w, 0) AS cb1,
         coalesce(sum(c2) OVER w, 0) AS cb2,
         coalesce(sum(c1 + c2) OVER w, 0) AS cbt
  FROM cv
  WINDOW w AS (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
pl AS (
  SELECT c1, c2,
         (2 * cbt + t + 1) - (2 * cb1 + c1 + 1) AS p2_1,
         (2 * cbt + t + 1) - (2 * cb2 + c2 + 1) AS p2_2
  FROM sc
),
g AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1,
         CAST(sum(c2) AS BIGINT) AS n2,
         CAST(sum(c1 * p2_1) AS BIGINT) AS sp1,
         CAST(sum(c2 * p2_2) AS BIGINT) AS sp2,
         sum(CAST(c1 AS DECIMAL(38,0)) * p2_1 * p2_1) AS spp1,
         sum(CAST(c2 AS DECIMAL(38,0)) * p2_2 * p2_2) AS spp2
  FROM pl
),
v AS (
  SELECT n1, n2,
         CAST(sp2 AS DOUBLE) / 2.0 / CAST(n2 AS DOUBLE)
           / CAST(n1 AS DOUBLE) AS p_hat,
         (CAST(spp1 AS DOUBLE) - CAST(sp1 AS DOUBLE) * CAST(sp1 AS DOUBLE)
            / CAST(n1 AS DOUBLE)) / 4.0 / CAST(n1 - 1 AS DOUBLE) AS s1_sq,
         (CAST(spp2 AS DOUBLE) - CAST(sp2 AS DOUBLE) * CAST(sp2 AS DOUBLE)
            / CAST(n2 AS DOUBLE)) / 4.0 / CAST(n2 - 1 AS DOUBLE) AS s2_sq
  FROM g
)
SELECT n1, n2, p_hat, s1_sq, s2_sq,
       (p_hat - 0.5)
       / sqrt(s1_sq / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                       * CAST(n2 AS DOUBLE))
              + s2_sq / (CAST(n2 AS DOUBLE) * CAST(n1 AS DOUBLE)
                         * CAST(n1 AS DOUBLE))) AS w_bm
FROM v
"""


@register("stats_brunner_munzel", oracle=_BM_ORACLE)
def stats_brunner_munzel(spark, sf_dir):
    """Brunner-Munzel test of P(view-value < click-value) + 1/2
    P(tie) = 1/2 - the heteroscedasticity-robust replacement for
    `events_mannwhitney_ab` (MWU's variance is wrong when the two
    groups' dispersions differ; BM estimates each group's placement
    variance separately, the rank analogue of Welch's t).

    Placements stay integral in doubled units: p2 = pooled midrank2 -
    within-group midrank2, with pooled AND per-group prefix sums from
    ONE hierarchical ordered_scan over the distinct-value relation
    (model-score lineage: near-unique DOUBLEs must never serialize
    through an unpartitioned window). p_hat, the two placement
    variances, and W are fixed double expressions over exact
    BIGINT/DECIMAL sums."""
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan

    cvt = _view_click_counts(spark, sf_dir)
    sc = ordered_scan(
        cvt,
        ["value"],
        running=[
            ("cum1", "c1", "sum"),
            ("cum2", "c2", "sum"),
            ("cumt", "t", "sum"),
        ],
    )
    s2p = 2 * (F.col("cumt") - F.col("t")) + F.col("t") + 1
    s2w1 = 2 * (F.col("cum1") - F.col("c1")) + F.col("c1") + 1
    s2w2 = 2 * (F.col("cum2") - F.col("c2")) + F.col("c2") + 1
    pl = sc.select(
        "c1",
        "c2",
        (s2p - s2w1).alias("p2_1"),
        (s2p - s2w2).alias("p2_2"),
    )
    dec = "decimal(38,0)"
    g = pl.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum(F.col("c1") * F.col("p2_1")).cast("long").alias("sp1"),
        F.sum(F.col("c2") * F.col("p2_2")).cast("long").alias("sp2"),
        F.sum(F.col("c1").cast(dec) * F.col("p2_1") * F.col("p2_1")).alias(
            "spp1"
        ),
        F.sum(F.col("c2").cast(dec) * F.col("p2_2") * F.col("p2_2")).alias(
            "spp2"
        ),
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    p_hat = F.col("sp2").cast("double") / 2.0 / n2d / n1d
    s1_sq = (
        F.col("spp1").cast("double")
        - F.col("sp1").cast("double") * F.col("sp1").cast("double") / n1d
    ) / 4.0 / (F.col("n1") - 1).cast("double")
    s2_sq = (
        F.col("spp2").cast("double")
        - F.col("sp2").cast("double") * F.col("sp2").cast("double") / n2d
    ) / 4.0 / (F.col("n2") - 1).cast("double")
    v = g.select(
        "n1",
        "n2",
        p_hat.alias("p_hat"),
        s1_sq.alias("s1_sq"),
        s2_sq.alias("s2_sq"),
    )
    w = (F.col("p_hat") - 0.5) / F.sqrt(
        F.col("s1_sq") / (n1d * n2d * n2d)
        + F.col("s2_sq") / (n2d * n1d * n1d)
    )
    return v.select("n1", "n2", "p_hat", "s1_sq", "s2_sq", w.alias("w_bm"))


# ---------------------------------------------------------------------------
# Anderson-Darling two-sample (Scholz-Stephens, tie-adjusted midranks)
# ---------------------------------------------------------------------------
# The tail-weighted member of the KS/MWU family: KS sees only the max
# CDF gap (center-dominated), MWU only the mean rank shift; AD weights
# every CDF gap by 1/(F(1-F)), so tail divergence - the thing that
# breaks risk models - dominates. Tie-adjusted A2_akN (Scholz &
# Stephens 1987, eq. 6, k=2) in DOUBLED units: with per-distinct-value
# pooled tie count l, mid-cumulative b2 = 2*cum_pooled - l and
# per-group mid-cumulative m2_i = 2*cum_i - m_i, each j-term is
#   l * sum_i (N*m2_i - n_i*b2)^2 / (n_i * (b2*(2N-b2) - N*l))
# - all-integer numerators/denominators from ONE ordered_scan, one
# fixed double expression per distinct value, nano-quantized before
# the (fact-sized) re-summation rides a DECIMAL sum.

# Per-distinct-value A/B counts (variant = user_id % 2) with running and
# total counts, shared by the Anderson-Darling and Cramer-von Mises
# two-sample tests.
_AB_VALUE_SCAN_CTES = """
v AS (
  SELECT value,
         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS ma,
         CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS mb
  FROM events GROUP BY 1
),
sc AS (
  SELECT ma, mb, ma + mb AS t,
         sum(ma) OVER w AS cum_a,
         sum(ma + mb) OVER w AS cum_t,
         sum(ma) OVER () AS n1,
         sum(ma + mb) OVER () AS n
  FROM v
  WINDOW w AS (ORDER BY value ROWS UNBOUNDED PRECEDING)
)"""


def _ab_value_scan(spark, sf_dir):
    """(ma, mb, t, value, cum_a, cum_t, cum_a_total, cum_t_total): the
    Spark side of ``_AB_VALUE_SCAN_CTES``, from ONE hierarchical
    ``ordered_scan`` (near-unique DOUBLE domains never serialize)."""
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan

    ev = load_table(spark, sf_dir, "events")
    is_a = (F.col("user_id") % 2 == 0).cast("long")
    v = ev.groupBy("value").agg(
        F.sum(is_a).alias("ma"),
        F.sum(1 - is_a).alias("mb"),
    )
    vt = v.select(
        "ma", "mb", (F.col("ma") + F.col("mb")).alias("t"), "value"
    )
    return ordered_scan(
        vt,
        ["value"],
        running=[("cum_a", "ma", "sum"), ("cum_t", "t", "sum")],
        with_totals=True,
    )


_AD_ORACLE = f"""
WITH {_AB_VALUE_SCAN_CTES},
terms AS (
  SELECT n1, n - n1 AS n2, n,
         t, 2 * cum_t - t AS b2,
         2 * cum_a - ma AS m2a,
         2 * (cum_t - cum_a) - (t - ma) AS m2b,
         (2 * cum_t - t) * (2 * n - (2 * cum_t - t)) - n * t AS den4
  FROM sc
),
q AS (
  SELECT n1, n2, n,
         CAST(round(1e9 * t * (
           CAST((n * m2a - n1 * b2) AS DOUBLE)
             * CAST((n * m2a - n1 * b2) AS DOUBLE)
             / (CAST(n1 AS DOUBLE) * CAST(den4 AS DOUBLE))
           + CAST((n * m2b - n2 * b2) AS DOUBLE)
             * CAST((n * m2b - n2 * b2) AS DOUBLE)
             / (CAST(n2 AS DOUBLE) * CAST(den4 AS DOUBLE))
         )) AS BIGINT) AS term_nano
  FROM terms WHERE den4 > 0
),
s AS (
  SELECT CAST(max(n1) AS BIGINT) AS n_a,
         CAST(max(n2) AS BIGINT) AS n_b,
         CAST(max(n) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_terms,
         sum(CAST(term_nano AS DECIMAL(38,0))) AS tsum
  FROM q
)
SELECT n_a, n_b, n_terms,
       CAST(n - 1 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
         * CAST(tsum AS DOUBLE) / 1e9 AS a2_akn
FROM s
"""


@register("stats_anderson_darling_2s", oracle=_AD_ORACLE)
def stats_anderson_darling_2s(spark, sf_dir):
    """Tie-adjusted two-sample Anderson-Darling statistic between the
    A/B variants' value distributions (variant = user_id % 2, the
    KS/MWU fixture) - see the section comment for the doubled-unit
    algebra. Under H0 the statistic's mean is ~1; values >> 1 flag
    distributional divergence with tail sensitivity KS lacks.

    Lineage: one hash agg to per-distinct-value A/B counts, prefix
    sums + totals from ONE hierarchical `ordered_scan` (model-score
    lineage - near-unique DOUBLE domains never serialize), per-value
    fixed double expression nano-quantized into a DECIMAL sum."""
    sc = _ab_value_scan(spark, sf_dir)
    n1 = F.col("cum_a_total")
    n = F.col("cum_t_total")
    n2 = n - n1
    b2 = 2 * F.col("cum_t") - F.col("t")
    m2a = 2 * F.col("cum_a") - F.col("ma")
    m2b = 2 * (F.col("cum_t") - F.col("cum_a")) - (F.col("t") - F.col("ma"))
    den4 = b2 * (2 * n - b2) - n * F.col("t")
    da = (n * m2a - n1 * b2).cast("double")
    db = (n * m2b - n2 * b2).cast("double")
    term = F.round(
        1e9
        * F.col("t")
        * (
            da * da / (n1.cast("double") * den4.cast("double"))
            + db * db / (n2.cast("double") * den4.cast("double"))
        )
    ).cast("long")
    q = sc.filter(den4 > 0).select(
        n1.alias("n1"),
        n2.alias("n2"),
        n.alias("n"),
        term.alias("term_nano"),
    )
    s = q.agg(
        F.max("n1").cast("long").alias("n_a"),
        F.max("n2").cast("long").alias("n_b"),
        F.max("n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum(F.col("term_nano").cast("decimal(38,0)")).alias("tsum"),
    )
    nd = F.col("n").cast("double")
    return s.select(
        "n_a",
        "n_b",
        "n_terms",
        (
            (F.col("n") - 1).cast("double")
            / (nd * nd)
            * F.col("tsum").cast("double")
            / 1e9
        ).alias("a2_akn"),
    )


# ---------------------------------------------------------------------------
# Page's trend test: ordered alternative in the blocked design
# ---------------------------------------------------------------------------
# Friedman's ordered sibling (the blocked analogue of what
# Jonckheere-Terpstra is to Kruskal-Wallis): with funnel stages scored
# 1..k in their natural order view < click < signup < purchase,
# L = sum_j c_j R_j concentrates a monotone within-day rank drift into
# one statistic. Doubled midranks keep L2 = 2L an exact BIGINT; the
# normal approximation uses the classic untied moments mu = n k (k+1)^2
# / 4 and sigma^2 = n k^2 (k+1)^2 (k-1) / 144 (ties in the small
# within-block rank vectors perturb sigma by O(1/k^2); documented).

_PAGE_STAGES = "('view', 'click', 'signup', 'purchase')"

_PAGE_ORACLE = f"""
WITH cell AS (
  SELECT epoch_us(ts) // {_US_PER_DAY} AS d, event_type,
         CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
                         WHEN 'signup' THEN 3 WHEN 'purchase' THEN 4
         END AS score,
         CAST(count(*) AS BIGINT) AS x
  FROM events WHERE event_type IN {_PAGE_STAGES} GROUP BY 1, 2
),
full_days AS (SELECT d FROM cell GROUP BY d HAVING count(*) = 4),
obs AS (SELECT cell.* FROM cell JOIN full_days USING (d)),
{_DAY_MIDRANK_CTES},
ranked AS (
  SELECT obs.d, obs.score, rk.s2
  FROM obs JOIN rk ON obs.d = rk.d AND obs.x = rk.x
),
s AS (
  SELECT CAST(count(DISTINCT d) AS BIGINT) AS n,
         CAST(sum(score * s2) AS BIGINT) AS l2
  FROM ranked
)
SELECT n, l2,
       (CAST(l2 AS DOUBLE) / 2.0
        - CAST(n AS DOUBLE) * 4.0 * 25.0 / 4.0)
       / sqrt(CAST(n AS DOUBLE) * 16.0 * 25.0 * 3.0 / 144.0) AS z_stat
FROM s
"""


@register("stats_page_trend", oracle=_PAGE_ORACLE)
def stats_page_trend(spark, sf_dir):
    """Page's L trend test for a MONOTONE ordering of funnel-stage
    activity within each day (view < click < signup < purchase) — the
    blocked, ordered-alternative sibling of `stats_friedman_test`
    (which would dilute a monotone drift across k-1 df) and of
    `stats_jonckheere_terpstra` (which pools across blocks). Doubled
    within-day midranks make L2 exact BIGINT; z is one fixed
    expression with the classic untied moments (k = 4 hardcoded in
    both engines: mu = 25n, sigma^2 = 400n/48)."""
    stages = ["view", "click", "signup", "purchase"]
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(stages)
    )
    score = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "signup", 3)
        .otherwise(4)
    )
    cell = ev.groupBy(
        F.expr(f"ts div {_US_PER_DAY}").alias("d"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("x"), F.any_value(score).alias("score"))
    full_days = (
        cell.groupBy("d")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") == 4)
        .select("d")
    )
    obs = cell.join(full_days, "d")
    ranked = obs.join(_day_midranks(obs), ["d", "x"]).select(
        "d", "score", "s2"
    )
    s = ranked.agg(
        F.countDistinct("d").cast("long").alias("n"),
        F.sum(F.col("score") * F.col("s2")).cast("long").alias("l2"),
    )
    nd = F.col("n").cast("double")
    z = (F.col("l2").cast("double") / 2.0 - nd * 25.0) / F.sqrt(
        nd * 16.0 * 25.0 * 3.0 / 144.0
    )
    return s.select("n", "l2", z.alias("z_stat"))


# ---------------------------------------------------------------------------
# Ansari-Bradley: rank test for a DISPERSION difference
# ---------------------------------------------------------------------------
# Scores fold the pooled ranking from both ends: a_i = min(r_i, N+1-r_i)
# - small scores at the extremes, large in the center - so sum of
# scores in one sample tests scale, not location (the rank complement
# to stats_brown_forsythe). With doubled midranks r2, the doubled score
# a2 = min(r2, 2(N+1) - r2) is an exact integer. Inference uses the
# EXACT general linear-rank-statistic moments (valid under ANY ties):
# mu = n1 Sa/N, sigma^2 = n1 n2 (N Saa - Sa^2) / (N^2 (N-1)), with Sa
# and Saa integer sums over the pooled scores.

_ANSARI_ORACLE = f"""
WITH {_VIEW_CLICK_CV_CTE},
sc AS (
  SELECT c1, c2, c1 + c2 AS t,
         coalesce(sum(c1 + c2) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before,
         sum(c1) OVER () AS n1,
         sum(c1 + c2) OVER () AS n
  FROM cv
),
scored AS (
  SELECT c1, c2, t, n1, n,
         least(2 * cum_before + t + 1,
               2 * (n + 1) - (2 * cum_before + t + 1)) AS a2
  FROM sc
),
s AS (
  SELECT CAST(max(n1) AS BIGINT) AS n1,
         CAST(max(n) - max(n1) AS BIGINT) AS n2,
         CAST(max(n) AS BIGINT) AS n,
         CAST(sum(c1 * a2) AS BIGINT) AS ab2,
         CAST(sum(t * a2) AS BIGINT) AS sa2,
         sum(CAST(t AS DECIMAL(38,0)) * a2 * a2) AS saa4
  FROM scored
)
SELECT n1, n2, ab2,
       (CAST(ab2 AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(sa2 AS DOUBLE)
          / CAST(n AS DOUBLE))
       / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
              * (CAST(n AS DOUBLE) * CAST(saa4 AS DOUBLE)
                 - CAST(sa2 AS DOUBLE) * CAST(sa2 AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                 * CAST(n - 1 AS DOUBLE))) AS z_stat
FROM s
"""


@register("stats_ansari_bradley", oracle=_ANSARI_ORACLE)
def stats_ansari_bradley(spark, sf_dir):
    """Ansari-Bradley two-sample dispersion test between view and
    click values — see the section comment for the folded-score
    algebra and the tie-exact moments. The doubled midrank r2 and
    doubled score a2 stay integral; the z numerator/denominator are
    one fixed double expression over five exact BIGINT/DECIMAL sums.
    Lineage: one hash agg to distinct (value, group) counts, prefix
    sum + totals from ONE hierarchical ordered_scan."""
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan

    cvt = _view_click_counts(spark, sf_dir)
    sc = ordered_scan(
        cvt, ["value"], running=[("cum_t", "t", "sum")], with_totals=True
    )
    r2 = 2 * (F.col("cum_t") - F.col("t")) + F.col("t") + 1
    n = F.col("cum_t_total")
    a2 = F.least(r2, 2 * (n + 1) - r2)
    scored = sc.select(
        "c1",
        "c2",
        "t",
        a2.alias("a2"),
        n.alias("n"),
    )
    dec = "decimal(38,0)"
    s = scored.agg(
        F.sum("c1").cast("long").alias("n1"),
        (F.max("n") - F.sum("c1")).cast("long").alias("n2"),
        F.max("n").cast("long").alias("n"),
        F.sum(F.col("c1") * F.col("a2")).cast("long").alias("ab2"),
        F.sum(F.col("t") * F.col("a2")).cast("long").alias("sa2"),
        F.sum(F.col("t").cast(dec) * F.col("a2") * F.col("a2")).alias(
            "saa4"
        ),
    )
    nd = F.col("n").cast("double")
    z = (
        F.col("ab2").cast("double")
        - F.col("n1").cast("double") * F.col("sa2").cast("double") / nd
    ) / F.sqrt(
        F.col("n1").cast("double")
        * F.col("n2").cast("double")
        * (
            nd * F.col("saa4").cast("double")
            - F.col("sa2").cast("double") * F.col("sa2").cast("double")
        )
        / (nd * nd * (nd - 1.0))
    )
    return s.select("n1", "n2", "ab2", z.alias("z_stat"))


# ---------------------------------------------------------------------------
# Hodges-Lehmann shift estimator: median of all pairwise differences
# ---------------------------------------------------------------------------
# The robust location-shift ESTIMATE that accompanies the MWU/BM tests
# (they only say "shifted"; HL says BY HOW MUCH): median over all
# n1*n2 differences x_i - y_j. Materializing the pairs is O(n^2) and
# dies at scale; but f(d) = #{(i,j): x_i - y_j <= d} is monotone in d,
# and on this data the value domain is an exact centi-grid - so the
# median difference is found by INTEGER MULTI-PROBE SEARCH on cents.
# For a near-unique DOUBLE score column the same operator applies after
# quantizing to a declared grid (the KS/MWU lineage note in reverse:
# here the GRID, not the distinct relation, bounds the state).
# Exactness: counts are integers; the answer is (d_lo + d_hi) cents
# for the two middle order statistics, averaged - no floats anywhere
# until the final /200.
#
# Job-count design (round-12 verdict #3, finished round 13): the
# original form ran TWO sequential 17-round binary searches = ~34 tiny
# Spark jobs; the r13 fused form batched _HL_PROBES probe points per
# job (~6 count jobs). Both shapes were O(jobs) with every job paying
# the ~0.3-0.5 s scheduling floor, because the iterative state — the
# count_le(d) oracle — only ever touches the small cents histograms,
# never the fact. Final form takes that argument to its conclusion:
# ONE combined fact scan builds both cents histograms (one row per
# distinct cents value per side), they are collected, and the entire
# integer bisection runs driver-side in NumPy
# (count_le(d) = one searchsorted against the y suffix-cumulative,
# microseconds per probe). Distributed work is exactly one hash-agg
# scan of the fact — O(data) with zero iterative jobs; the driver
# state is the same cents histogram the previous forms already
# broadcast every round. The bisection searches the exact difference
# range [min(x) - max(y), max(x) - min(y)] of the collected supports,
# so no value domain is assumed. Same boundary class as the BPE vocab
# merge loop and the PCA d x d solve: distributed moments, central
# solve.
# _HL_LAST_COUNT_JOBS records the MEASURED Spark job count of the most
# recent run (r14: counted via statusTracker around the collect, not
# hardcoded — the r13 report cited a test assertion that did not
# exist). One SQL collect over an aggregate runs as a small constant
# number of scheduler jobs (AQE materializes the shuffle stage as its
# own job), but only ONE of them scans the fact — the bound the test
# pins is the job count, the structural claim is the single scan.

_HL_LAST_COUNT_JOBS = 0  # measured Spark jobs in the most recent run
_HL_GROUP_SEQ = 0  # unique job-group id per run (statusTracker window)

_HL_ORACLE = """
WITH hx AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS c,
         CAST(count(*) AS BIGINT) AS n
  FROM events WHERE event_type = 'view' GROUP BY 1
),
hy AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS c,
         CAST(count(*) AS BIGINT) AS n
  FROM events WHERE event_type = 'click' GROUP BY 1
),
diffs AS (
  SELECT hx.c - hy.c AS d, hx.n * hy.n AS w FROM hx, hy
),
dist AS (SELECT d, CAST(sum(w) AS BIGINT) AS w FROM diffs GROUP BY d),
scan AS (
  SELECT d, w,
         sum(w) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cum,
         sum(w) OVER () AS t
  FROM dist
),
lo AS (SELECT min(d) AS d_lo FROM scan WHERE cum >= (t + 1) // 2),
hi AS (SELECT min(d) AS d_hi FROM scan WHERE cum >= t // 2 + 1),
n1 AS (SELECT CAST(sum(n) AS BIGINT) AS n1 FROM hx),
n2 AS (SELECT CAST(sum(n) AS BIGINT) AS n2 FROM hy)
SELECT n1.n1, n2.n2, n1.n1 * n2.n2 AS t_pairs,
       CAST(lo.d_lo + hi.d_hi AS BIGINT) AS hl_cents2,
       CAST(lo.d_lo + hi.d_hi AS DOUBLE) / 200.0 AS hl_shift
FROM lo, hi, n1, n2
"""


@register("stats_hodges_lehmann", oracle=_HL_ORACLE, eager=True)
def stats_hodges_lehmann(spark, sf_dir):
    """Hodges-Lehmann estimate of the view-vs-click value shift -
    median of all n1*n2 pairwise differences, WITHOUT materializing
    any pair (see the section comment). The oracle pays the O(|X
    domain| * |Y domain|) convolution; the engine runs ONE combined
    hash-agg scan of the fact to the two cents histograms, collects
    them, and solves the integer bisection for both middle order
    statistics driver-side over the exact difference range
    (count_le(d) = searchsorted against the y suffix-cumulative).
    With no view or no click rows there is no pair: the row carries
    the side counts (NULL for an empty side, as SQL's sum) and NULL
    t_pairs / estimate, as the oracle returns.
    EAGER; exactly one scan of the fact, no iterative jobs (the
    collect itself runs as <= 3 scheduler jobs under AQE — measured
    via statusTracker, recorded in _HL_LAST_COUNT_JOBS, pinned in
    tests/test_statsnonparam.py::test_hl_job_count_is_measured)."""
    global _HL_LAST_COUNT_JOBS, _HL_GROUP_SEQ
    import numpy as np

    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    # instrument, don't assert: a unique job group scopes the
    # statusTracker window to THIS collect (group ids accumulate jobs
    # across runs in one session, so reuse would over-count)
    _HL_GROUP_SEQ += 1
    group = f"wdp_hl_{_HL_GROUP_SEQ}"
    sc = spark.sparkContext
    sc.setJobGroup(group, "stats_hodges_lehmann: histogram collect")
    try:
        hist = (
            ev.filter(F.col("event_type").isin("view", "click"))
            .groupBy("event_type", cents.alias("c"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .collect()
        )
    finally:
        sc.setJobGroup("", "")
    _HL_LAST_COUNT_JOBS = len(
        sc.statusTracker().getJobIdsForGroup(group)
    )
    hx = sorted((r["c"], r["n"]) for r in hist if r["event_type"] == "view")
    hy = sorted((r["c"], r["n"]) for r in hist if r["event_type"] == "click")
    schema = "n1 long, n2 long, t_pairs long, hl_cents2 long, hl_shift double"
    if not hx or not hy:
        n1 = sum(n for _, n in hx) if hx else None
        n2 = sum(n for _, n in hy) if hy else None
        return spark.createDataFrame([(n1, n2, None, None, None)], schema)
    xc = np.array([c for c, _ in hx], dtype=np.int64)
    xn = np.array([n for _, n in hx], dtype=np.int64)
    yc = np.array([c for c, _ in hy], dtype=np.int64)
    yn = np.array([n for _, n in hy], dtype=np.int64)
    n1 = int(xn.sum())
    n2 = int(yn.sum())
    t_pairs = n1 * n2
    # suffix[i] = #{y >= yc[i]}; NYge(v) = suffix[first support >= v]
    suffix = np.concatenate(
        [np.cumsum(yn[::-1])[::-1], np.zeros(1, dtype=np.int64)]
    )

    def count_le(d: int) -> int:
        # pairs with x - y <= d  <=>  y >= x - d
        idx = np.searchsorted(yc, xc - d, side="left")
        return int((xn * suffix[idx]).sum())

    def order_stat(k: int) -> int:
        # every pairwise difference lies in [lo, hi]
        lo, hi = int(xc[0] - yc[-1]), int(xc[-1] - yc[0])
        while lo < hi:
            mid = (lo + hi) // 2
            if count_le(mid) >= k:
                hi = mid
            else:
                lo = mid + 1
        return lo

    d_lo = order_stat((t_pairs + 1) // 2)
    d_hi = order_stat(t_pairs // 2 + 1)
    return spark.createDataFrame(
        [(n1, n2, t_pairs, d_lo + d_hi, (d_lo + d_hi) / 200.0)], schema
    )


# ---------------------------------------------------------------------------
# Kendall's W: coefficient of concordance across the daily blocks
# ---------------------------------------------------------------------------
# Same blocked design as the Friedman test (raters = complete calendar
# days, items = event types, observation = the day's per-type count),
# but reported on the [0, 1] concordance scale reviewers actually read:
# W = 1 means every day ranks the types identically, W = 0 means the
# daily rankings are mutually random. Doubled within-day midranks keep
# the rank sums S2_j = sum_d 2*R_dj integral, so with m complete days
# and n items the tie-corrected coefficient
#   W = (12 sum_j R_j^2 - 3 m^2 n (n+1)^2)
#         / (m^2 n (n^2-1) - m sum_d T_d),   T_d = sum_ties (t^3 - t)
# becomes (3 sum_j S2_j^2 - 3 m^2 n (n+1)^2) / (same denominator) —
# every term BIGINT, ONE final double division. chi2 = m (n-1) W links
# it back to the Friedman statistic (its exact algebraic identity).

_KENDALL_W_ORACLE = f"""
WITH {_TYPE_DAY_OBS_CTES},
{_DAY_MIDRANK_CTES},
ranked AS (
  SELECT obs.d, obs.event_type, rk.s2
  FROM obs JOIN rk ON obs.d = rk.d AND obs.x = rk.x
),
rsum AS (
  SELECT event_type, CAST(sum(s2) AS BIGINT) AS s2_j
  FROM ranked GROUP BY 1
),
tcorr AS (
  SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tsum FROM tie
),
dims AS (
  SELECT CAST(count(*) AS BIGINT) AS m FROM full_days
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(s2_j * s2_j) AS BIGINT) AS ss
  FROM rsum
)
SELECT dims.m, s.n,
       CAST(3 * s.ss - 3 * dims.m * dims.m * s.n * (s.n + 1) * (s.n + 1)
            AS DOUBLE)
         / CAST(dims.m * dims.m * s.n * (s.n * s.n - 1)
                - dims.m * tcorr.tsum AS DOUBLE) AS w,
       CAST(dims.m * (s.n - 1) AS DOUBLE)
         * (CAST(3 * s.ss - 3 * dims.m * dims.m * s.n * (s.n + 1) * (s.n + 1)
                 AS DOUBLE)
            / CAST(dims.m * dims.m * s.n * (s.n * s.n - 1)
                   - dims.m * tcorr.tsum AS DOUBLE)) AS chi2_equiv
FROM dims, s, tcorr
"""


@register("stats_kendall_w", oracle=_KENDALL_W_ORACLE)
def stats_kendall_w(spark, sf_dir):
    """Kendall's coefficient of concordance W over the Friedman fixture
    (days x event types) — the agreement-strength companion to the
    Friedman significance test, and the standard multi-rater ranking
    agreement number for annotation-QA dashboards. See the section
    comment for the doubled-midrank tie-corrected algebra.

    Scale shape: identical to stats_friedman_test — one hash agg to
    calendar-bounded (day, type) cells, within-day prefix sums
    partitioned BY DAY, then k-row arithmetic; nothing global is ever
    single-partition."""
    _, full_days, obs = _type_day_obs(spark, sf_dir)
    tie = obs.groupBy("d", "x").agg(F.count(F.lit(1)).alias("t"))
    ranked = obs.join(_day_midranks(obs), ["d", "x"])
    rsum = ranked.groupBy("event_type").agg(
        F.sum("s2").cast("long").alias("s2_j")
    )
    tcorr = tie.agg(
        F.sum(
            F.col("t").cast("long") * F.col("t") * F.col("t") - F.col("t")
        )
        .cast("long")
        .alias("tsum")
    )
    dims = full_days.agg(F.count(F.lit(1)).cast("long").alias("m"))
    s = rsum.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("s2_j") * F.col("s2_j")).cast("long").alias("ss"),
    )
    m, n = F.col("m"), F.col("n")
    num = (3 * F.col("ss") - 3 * m * m * n * (n + 1) * (n + 1)).cast(
        "double"
    )
    den = (m * m * n * (n * n - 1) - m * F.col("tsum")).cast("double")
    w = num / den
    return (
        dims.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(tcorr))
        .select(
            "m",
            "n",
            w.alias("w"),
            ((m * (n - 1)).cast("double") * w).alias("chi2_equiv"),
        )
    )


# ---------------------------------------------------------------------------
# Cramer-von Mises two-sample test: integrated ECDF-gap on the A/B split
# ---------------------------------------------------------------------------
# The L2 companion to stats_anderson_darling_2s on the same fixture
# (variant = user_id % 2): where AD weights the ECDF gap by the inverse
# pooled variance (tail-sensitive), CvM integrates the squared gap
# uniformly over the pooled sample,
#   T = n1*n2/N^2 * sum_pooled (F_A(x) - F_B(x))^2
# (the tie-friendly ECDF form; on tie-free data it equals the classic
# rank form U/(n1*n2*N) - (4*n1*n2 - 1)/(6N)). Lineage discipline:
# per-distinct-value A/B counts from ONE hash agg, prefix sums from ONE
# hierarchical ordered_scan (never an unpartitioned window — the
# distinct-value relation is fact-sized when the column is a real
# model score), a fixed per-value double expression nano-quantized to
# BIGINT, and a DECIMAL re-sum. Under H0, E[T] = (1 + 1/N)/6 ~ 1/6.

_CVM_ORACLE = f"""
WITH {_AB_VALUE_SCAN_CTES},
q AS (
  SELECT n1, n - n1 AS n2, n,
         CAST(round(1e9 * t *
           (CAST(cum_a AS DOUBLE) / n1
              - CAST(cum_t - cum_a AS DOUBLE) / (n - n1))
           * (CAST(cum_a AS DOUBLE) / n1
              - CAST(cum_t - cum_a AS DOUBLE) / (n - n1))
         ) AS BIGINT) AS term_nano
  FROM sc
),
s AS (
  SELECT CAST(max(n1) AS BIGINT) AS n_a,
         CAST(max(n2) AS BIGINT) AS n_b,
         CAST(max(n) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_terms,
         CAST(sum(CAST(term_nano AS DECIMAL(38,0))) AS DECIMAL(38,0))
           AS tsum
  FROM q
)
SELECT n_a, n_b, n_terms,
       CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
         * (CAST(tsum AS DOUBLE) / 1e9) AS t_cvm,
       (1.0 + 1.0 / CAST(n AS DOUBLE)) / 6.0 AS e_t_h0
FROM s
"""


@register("stats_cvm_2s", oracle=_CVM_ORACLE)
def stats_cvm_2s(spark, sf_dir):
    """Tie-adjusted two-sample Cramer-von Mises statistic between the
    A/B variants' value distributions (the KS/MWU/AD fixture) — the
    uniformly-weighted integrated ECDF gap; see the section comment.

    Lineage: one hash agg to per-distinct-value A/B counts, prefix
    sums + totals from ONE hierarchical ordered_scan (model-score
    lineage — near-unique DOUBLE domains never serialize), a fixed
    per-value double expression nano-quantized into a DECIMAL sum."""
    sc = _ab_value_scan(spark, sf_dir)
    n1 = F.col("cum_a_total")
    n = F.col("cum_t_total")
    n2 = n - n1
    gap = F.col("cum_a").cast("double") / n1 - (
        F.col("cum_t") - F.col("cum_a")
    ).cast("double") / n2
    term = F.round(1e9 * F.col("t") * gap * gap).cast("long")
    q = sc.select(
        n1.alias("n1"),
        n2.alias("n2"),
        n.alias("n"),
        term.alias("term_nano"),
    )
    s = q.agg(
        F.max("n1").cast("long").alias("n_a"),
        F.max("n2").cast("long").alias("n_b"),
        F.max("n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum(F.col("term_nano").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("tsum"),
    )
    nd = F.col("n").cast("double")
    return s.select(
        "n_a",
        "n_b",
        "n_terms",
        (
            F.col("n_a").cast("double")
            * F.col("n_b").cast("double")
            / (nd * nd)
            * (F.col("tsum").cast("double") / 1e9)
        ).alias("t_cvm"),
        ((F.lit(1.0) + F.lit(1.0) / nd) / F.lit(6.0)).alias("e_t_h0"),
    )


# ---------------------------------------------------------------------------
# Kuiper test: circular uniformity of the hour-of-day profile
# ---------------------------------------------------------------------------
# KS's D = max|gap| is blind at the "wrap-around" of a CIRCULAR domain
# (an hour-of-day profile peaking at 23h-1h splits its evidence across
# the two ECDF ends); Kuiper's V = D+ + D- is invariant to the choice
# of origin and is the standard uniformity test for diurnal/periodic
# load profiles. Discrete convention on the 24-bucket grid (replicated
# verbatim in the oracle and the pytest brute force): with F_n the
# right-continuous ECDF and F0(b) = (b+1)/24,
#   D+ = max_b (F_n(b) - F0(b)),  D- = max_b (F0(b) - F_n(b-)),
# F_n(b-) = (cum_b - n_b)/N. Counts are exact BIGINTs from ONE hash
# agg to the 24-row bounded grid; gaps are fixed single-division
# doubles; V is a max-sum, no float summation anywhere.

_KUIPER_ORACLE = f"""
WITH b AS (
  SELECT (epoch_us(ts) // {_US_PER_HOUR}) % 24 AS hod,
         CAST(count(*) AS BIGINT) AS n_b
  FROM events GROUP BY 1
),
c AS (
  SELECT hod, n_b,
         sum(n_b) OVER (ORDER BY hod ROWS UNBOUNDED PRECEDING) AS cum,
         sum(n_b) OVER () AS n
  FROM b
),
g AS (
  SELECT n,
         CAST(cum AS DOUBLE) / n - CAST(hod + 1 AS DOUBLE) / 24 AS gp,
         CAST(hod + 1 AS DOUBLE) / 24
           - CAST(cum - n_b AS DOUBLE) / n AS gm
  FROM c
)
SELECT CAST(max(n) AS BIGINT) AS n,
       max(gp) AS d_plus,
       max(gm) AS d_minus,
       max(gp) + max(gm) AS v_stat,
       (max(gp) + max(gm)) * sqrt(CAST(max(n) AS DOUBLE)) AS v_scaled
FROM g
"""


@register("stats_kuiper_hod_uniformity", oracle=_KUIPER_ORACLE)
def stats_kuiper_hod_uniformity(spark, sf_dir):
    """Kuiper's V test of hour-of-day uniformity — the
    origin-invariant circular companion to sample_split_ks_uniformity,
    for diurnal load profiles. See the section comment for the
    discrete grid convention. Under H0, V*sqrt(n) concentrates around
    ~1.6; large values flag a diurnal cycle.

    Scale shape: scan -> 24-row bounded grid -> grid-sized window +
    max. Nothing after the first agg depends on data size."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy(
        ((F.expr(f"ts div {_US_PER_HOUR}")) % 24).alias("hod")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_b"))
    w = W.orderBy("hod").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.orderBy("hod").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    # windows over the 24-row bounded grid, never the fact table
    c = b.select(
        "hod",
        "n_b",
        F.sum("n_b").over(w).alias("cum"),
        F.sum("n_b").over(wall).alias("n"),
    )
    g = c.select(
        "n",
        (
            F.col("cum").cast("double") / F.col("n")
            - (F.col("hod") + 1).cast("double") / 24
        ).alias("gp"),
        (
            (F.col("hod") + 1).cast("double") / 24
            - (F.col("cum") - F.col("n_b")).cast("double") / F.col("n")
        ).alias("gm"),
    )
    return g.agg(
        F.max("n").cast("long").alias("n"),
        F.max("gp").alias("d_plus"),
        F.max("gm").alias("d_minus"),
        (F.max("gp") + F.max("gm")).alias("v_stat"),
        (
            (F.max("gp") + F.max("gm"))
            * F.sqrt(F.max("n").cast("double"))
        ).alias("v_scaled"),
    )


# ---------------------------------------------------------------------------
# Bartlett's test: parametric variance homogeneity across groups
# ---------------------------------------------------------------------------
# The likelihood-ratio companion to stats_brown_forsythe on the same
# per-type design: Brown-Forsythe stays valid under non-normality but
# pays power; Bartlett's M = (N-k) ln(s_p^2) - sum_i (n_i-1) ln(s_i^2)
# over C = 1 + (sum_i 1/(n_i-1) - 1/(N-k)) / (3(k-1)) is the sharper
# test when the value distributions are near-normal — reporting both
# is the standard screen. Exactness: group moments are exact BIGINT /
# DECIMAL cents sums; each s_i^2 is ONE fixed double division of exact
# integers; the three k-term float sums (pooled SS, ln terms,
# reciprocals) are quantized to integers (milli / nano / 1e-15) before
# bounded DECIMAL re-sums, so no reduction order leaks.

_BARTLETT_ORACLE = """
WITH g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_i,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DECIMAL(38,0))
           AS s_i,
         CAST(sum(CAST(CAST(round(value * 100) AS BIGINT)
                       AS DECIMAL(18,0))
                  * CAST(round(value * 100) AS BIGINT))
              AS DECIMAL(38,0)) AS q_i
  FROM events GROUP BY 1
),
per AS (
  SELECT event_type, n_i,
         CAST(CAST(n_i AS DECIMAL(18,0)) * q_i - s_i * s_i AS DOUBLE)
           / (CAST(n_i AS DOUBLE) * (n_i - 1)) AS s2_i
  FROM g
),
terms AS (
  SELECT n_i, s2_i,
         CAST(round(1e3 * (n_i - 1) * s2_i) AS DECIMAL(38,0)) AS ss_milli,
         CAST(round(1e9 * (n_i - 1) * ln(s2_i)) AS BIGINT) AS ln_nano,
         CAST(round(1e15 / (n_i - 1)) AS BIGINT) AS recip_femto
  FROM per
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n_i) AS BIGINT) AS n,
         CAST(sum(ss_milli) AS DECIMAL(38,0)) AS ss_sum_milli,
         CAST(sum(CAST(ln_nano AS DECIMAL(38,0))) AS DECIMAL(38,0))
           AS ln_sum_nano,
         CAST(sum(CAST(recip_femto AS DECIMAL(38,0))) AS DECIMAL(38,0))
           AS recip_sum_femto
  FROM terms
)
SELECT k, n,
       (CAST(ss_sum_milli AS DOUBLE) / 1e3) / (n - k) AS s2_pooled,
       (n - k) * ln((CAST(ss_sum_milli AS DOUBLE) / 1e3) / (n - k))
         - CAST(ln_sum_nano AS DOUBLE) / 1e9 AS m_stat,
       1.0 + (CAST(recip_sum_femto AS DOUBLE) / 1e15
              - 1.0 / (n - k)) / (3.0 * (k - 1)) AS c_factor,
       ((n - k) * ln((CAST(ss_sum_milli AS DOUBLE) / 1e3) / (n - k))
         - CAST(ln_sum_nano AS DOUBLE) / 1e9)
         / (1.0 + (CAST(recip_sum_femto AS DOUBLE) / 1e15
                   - 1.0 / (n - k)) / (3.0 * (k - 1))) AS chi2
FROM s
"""


@register("stats_bartlett_test", oracle=_BARTLETT_ORACLE)
def stats_bartlett_test(spark, sf_dir):
    """Bartlett's variance-homogeneity test across event types — the
    parametric companion to stats_brown_forsythe (report both; trust
    Bartlett only when the per-group distributions look normal). See
    the section comment for the quantized-sum exactness discipline.

    Scale shape: ONE hash agg to k per-group cents moments, k-row
    arithmetic after; nothing global is ever single-partition."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    dec18 = "decimal(18,0)"
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_i"),
        F.sum(cents).cast("decimal(38,0)").alias("s_i"),
        F.sum(cents.cast(dec18) * cents).cast("decimal(38,0)").alias("q_i"),
    )
    s2 = (
        (F.col("n_i").cast(dec18) * F.col("q_i") - F.col("s_i") * F.col("s_i"))
        .cast("double")
        / (F.col("n_i").cast("double") * (F.col("n_i") - 1))
    )
    per = g.select("event_type", "n_i", s2.alias("s2_i"))
    terms = per.select(
        "n_i",
        "s2_i",
        F.round(1e3 * (F.col("n_i") - 1) * F.col("s2_i"))
        .cast("decimal(38,0)")
        .alias("ss_milli"),
        F.round(1e9 * (F.col("n_i") - 1) * F.log(F.col("s2_i")))
        .cast("long")
        .alias("ln_nano"),
        F.round(1e15 / (F.col("n_i") - 1)).cast("long").alias("recip_femto"),
    )
    s = terms.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_i").cast("long").alias("n"),
        F.sum("ss_milli").cast("decimal(38,0)").alias("ss_sum_milli"),
        F.sum(F.col("ln_nano").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("ln_sum_nano"),
        F.sum(F.col("recip_femto").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("recip_sum_femto"),
    )
    nk = (F.col("n") - F.col("k")).cast("double")
    s2p = (F.col("ss_sum_milli").cast("double") / 1e3) / nk
    m_stat = nk * F.log(s2p) - F.col("ln_sum_nano").cast("double") / 1e9
    c_factor = 1.0 + (
        F.col("recip_sum_femto").cast("double") / 1e15 - 1.0 / nk
    ) / (3.0 * (F.col("k") - 1).cast("double"))
    return s.select(
        "k",
        "n",
        s2p.alias("s2_pooled"),
        m_stat.alias("m_stat"),
        c_factor.alias("c_factor"),
        (m_stat / c_factor).alias("chi2"),
    )
