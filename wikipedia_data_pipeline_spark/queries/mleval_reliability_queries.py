"""Calibration hypothesis tests and internal-consistency reliability
(round 12, session 6): Spiegelhalter's Z test, the Hosmer-Lemeshow
decile-group chi-square, and Cronbach's alpha over the 3-rater panel.

These extend the descriptive calibration family (ml_eval_calibration_
bins / brier_decomposition / isotonic, mleval_queries.py) with the
FORMAL tests — "is the miscalibration significant" — and the kappa
agreement family (mleval_paired_queries.py) with the internal-
consistency readout. Same score/label fixture as the calibration
queries (score = micro-quantized events.value min-max normalized,
label = det_hash(user_id) % 2) and the same 3-rater hash panel as
ml_eval_fleiss_kappa, so the families stay comparable. New module:
mleval_queries and mleval_paired_queries both sit near the 2,000-line
split threshold.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators.sampling import SQL_DET_HASH
from wikipedia_data_pipeline_spark.queries.mleval_paired_queries import (
    RATED3_CTE,
    rated3,
)
from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Spiegelhalter's Z test for calibration
# ---------------------------------------------------------------------------
# Z = sum (y_i - p_i)(1 - 2 p_i) / sqrt(sum (1 - 2 p_i)^2 p_i (1 - p_i))
# — the exact-mean, exact-variance standardization of the Brier score
# under the null "every p_i is the true probability" (Spiegelhalter
# 1986). Unlike ECE it needs NO binning choice. With p = dv/rng
# rational, each numerator term clears denominators EXACTLY:
# (y*rng - dv) * (rng - 2*dv) is an exact int64 product summed in
# DECIMAL; the variance term would need rng^4 (past DECIMAL(38) at the
# 100x replica), so it is micro-quantized per row after one fixed
# double expression instead — identical in both engines.

_SPIEGEL_ORACLE = f"""
WITH ev AS (
  SELECT CAST(round(value * 1000000) AS BIGINT) AS v_u,
         CAST(({SQL_DET_HASH.format(col="user_id")}) % 2 AS BIGINT) AS y
  FROM events
),
rng AS (
  SELECT CAST(min(v_u) AS BIGINT) AS lo,
         CAST(max(v_u) - min(v_u) AS BIGINT) AS w
  FROM ev
),
t AS (
  SELECT ev.y, ev.v_u - rng.lo AS dv, rng.w,
         (ev.y * rng.w - (ev.v_u - rng.lo))
           * (rng.w - 2 * (ev.v_u - rng.lo)) AS num_scaled,
         CAST(round((
           (1 - 2 * (CAST(ev.v_u - rng.lo AS DOUBLE) / rng.w))
           * (1 - 2 * (CAST(ev.v_u - rng.lo AS DOUBLE) / rng.w))
           * ((CAST(ev.v_u - rng.lo AS DOUBLE) / rng.w)
              * (1 - (CAST(ev.v_u - rng.lo AS DOUBLE) / rng.w)))
         ) * 1e6) AS BIGINT) AS den_micro
  FROM ev CROSS JOIN rng
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(max(w) AS BIGINT) AS w,
         CAST(sum(CAST(num_scaled AS DECIMAL(38,0))) AS DECIMAL(38,0))
           AS num_s,
         CAST(sum(CAST(den_micro AS DECIMAL(38,0))) AS DECIMAL(38,0))
           AS den_s
  FROM t
)
SELECT n,
       CAST(num_s AS DOUBLE) / w / w AS score_num,
       CAST(den_s AS DOUBLE) / 1e6 AS score_var,
       (CAST(num_s AS DOUBLE) / w / w)
         / sqrt(CAST(den_s AS DOUBLE) / 1e6) AS z_spiegelhalter
FROM s
"""


@register("ml_eval_spiegelhalter_z", oracle=_SPIEGEL_ORACLE)
def ml_eval_spiegelhalter_z(spark, sf_dir):
    """Spiegelhalter's Z calibration test on the standard score/label
    fixture — the binning-free significance test behind the
    calibration-bins diagnostic: Z ~ N(0,1) under perfect calibration,
    so |Z| > 2 says the score's probabilities are WRONG, not just
    coarse. See the section comment for the exact-numerator /
    micro-quantized-variance construction; one scan, one broadcast
    range attach, one 1-row aggregate."""
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.round(F.col("value") * 1000000).cast("long").alias("v_u"),
        (det_hash("user_id") % 2).cast("long").alias("y"),
    )
    rng = base.agg(
        F.min("v_u").cast("long").alias("lo"),
        (F.max("v_u") - F.min("v_u")).cast("long").alias("w"),
    )
    dv = F.col("v_u") - F.col("lo")
    p = dv.cast("double") / F.col("w")
    t = base.crossJoin(F.broadcast(rng)).select(
        "w",
        ((F.col("y") * F.col("w") - dv) * (F.col("w") - 2 * dv)).alias(
            "num_scaled"
        ),
        F.round(((1 - 2 * p) * (1 - 2 * p) * (p * (1 - p))) * 1e6)
        .cast("long")
        .alias("den_micro"),
    )
    s = t.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("w").cast("long").alias("w"),
        F.sum(F.col("num_scaled").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("num_s"),
        F.sum(F.col("den_micro").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("den_s"),
    )
    score_num = F.col("num_s").cast("double") / F.col("w") / F.col("w")
    score_var = F.col("den_s").cast("double") / 1e6
    return s.select(
        "n",
        score_num.alias("score_num"),
        score_var.alias("score_var"),
        (score_num / F.sqrt(score_var)).alias("z_spiegelhalter"),
    )


# ---------------------------------------------------------------------------
# Hosmer-Lemeshow goodness-of-fit over score deciles
# ---------------------------------------------------------------------------
# The classic grouped calibration test: rank rows by score, cut into
# 10 equal-frequency groups, and compare observed vs expected
# positives: C_hat = sum_g (O_g - E_g)^2 * n_g / (E_g (n_g - E_g)).
# Group boundaries are decided by the EXACT global rank over the total
# order (v_u, event_id) from the hierarchical ordered_scan (never an
# unpartitioned ntile), so group membership is deterministic in both
# engines; per-group E_g = sum(dv)/rng clears its denominator from an
# exact DECIMAL sum, and each group's chi-square term is one fixed
# double expression over exact integers (10 terms — no re-sum, no
# quantization anywhere).

_HL_ORACLE = f"""
WITH ev AS (
  SELECT event_id,
         CAST(round(value * 1000000) AS BIGINT) AS v_u,
         CAST(({SQL_DET_HASH.format(col="user_id")}) % 2 AS BIGINT) AS y
  FROM events
),
rng AS (
  SELECT CAST(min(v_u) AS BIGINT) AS lo,
         CAST(max(v_u) - min(v_u) AS BIGINT) AS w
  FROM ev
),
rk AS (
  SELECT v_u - rng.lo AS dv, y,
         row_number() OVER (ORDER BY v_u, event_id) AS i,
         count(*) OVER () AS n_tot, rng.w
  FROM ev CROSS JOIN rng
),
g AS (
  SELECT ((i - 1) * 10) // n_tot AS decile,
         CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(y) AS BIGINT) AS o1,
         CAST(sum(CAST(dv AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sdv,
         CAST(max(w) AS BIGINT) AS w
  FROM rk GROUP BY 1
)
SELECT CAST(decile AS BIGINT) AS decile, n_g, o1 AS obs_pos,
       CAST(sdv AS DOUBLE) / w AS exp_pos,
       (CAST(o1 AS DOUBLE) - CAST(sdv AS DOUBLE) / w)
         * (CAST(o1 AS DOUBLE) - CAST(sdv AS DOUBLE) / w)
         * n_g
         / ((CAST(sdv AS DOUBLE) / w) * (n_g - CAST(sdv AS DOUBLE) / w))
         AS hl_term
FROM g
"""


@register("ml_eval_hosmer_lemeshow", oracle=_HL_ORACLE)
def ml_eval_hosmer_lemeshow(spark, sf_dir):
    """Hosmer-Lemeshow decile table on the standard score/label
    fixture: per equal-frequency score decile the observed and
    expected positives and the chi-square term (the statistic is the
    10-term sum, ~chi2(8) under calibration) — the grouped companion
    to the binning-free Spiegelhalter Z. See the section comment; the
    decile cut rides the hierarchical `ordered_scan` global rank."""
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        F.round(F.col("value") * 1000000).cast("long").alias("v_u"),
        (det_hash("user_id") % 2).cast("long").alias("y"),
    )
    rng = base.agg(
        F.min("v_u").cast("long").alias("lo"),
        (F.max("v_u") - F.min("v_u")).cast("long").alias("w"),
    )
    rk = ordered_scan(
        base.crossJoin(F.broadcast(rng)),
        ["v_u", "event_id"],
        rank_col="i",
        with_totals=True,
    )
    g = (
        rk.select(
            F.expr("((i - 1) * 10) div i_total").alias("decile"),
            (F.col("v_u") - F.col("lo")).alias("dv"),
            "y",
            "w",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum("y").cast("long").alias("o1"),
            F.sum(F.col("dv").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("sdv"),
            F.max("w").cast("long").alias("w"),
        )
    )
    e1 = F.col("sdv").cast("double") / F.col("w")
    diff = F.col("o1").cast("double") - e1
    return g.select(
        F.col("decile").cast("long").alias("decile"),
        "n_g",
        F.col("o1").alias("obs_pos"),
        e1.alias("exp_pos"),
        (diff * diff * F.col("n_g") / (e1 * (F.col("n_g") - e1))).alias(
            "hl_term"
        ),
    )


# ---------------------------------------------------------------------------
# Cronbach's alpha over the 3-rater panel
# ---------------------------------------------------------------------------
# alpha = k/(k-1) * (1 - sum_i Var(item_i) / Var(total)) — the
# internal-consistency statistic an annotation pipeline reads next to
# Fleiss' kappa (kappa asks "do raters agree beyond chance"; alpha
# asks "do the raters' scores measure ONE underlying thing"). With
# population variances in the cross-multiplied form n*Q - S^2, the
# ratio clears every rational mean: alpha = (3/2) * (1 - num/den) with
# num = sum_i (n*Q_i - S_i^2), den = n*Q_T - S_T^2 — all exact DECIMAL
# integers from ONE fact-level aggregate (ratings are 0..2, totals
# 0..6; no per-item relation, no pivot).

_CRONBACH_ORACLE = f"""
WITH {RATED3_CTE},
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(r1) AS BIGINT) AS s1, CAST(sum(r1 * r1) AS BIGINT) AS q1,
         CAST(sum(r2) AS BIGINT) AS s2, CAST(sum(r2 * r2) AS BIGINT) AS q2,
         CAST(sum(r3) AS BIGINT) AS s3, CAST(sum(r3 * r3) AS BIGINT) AS q3,
         CAST(sum(r1 + r2 + r3) AS BIGINT) AS st,
         CAST(sum((r1 + r2 + r3) * (r1 + r2 + r3)) AS BIGINT) AS qt
  FROM rated
),
v AS (
  SELECT n,
         CAST(CAST(n AS DECIMAL(19,0)) * q1 - CAST(s1 AS DECIMAL(19,0)) * s1
              AS DECIMAL(38,0))
           + CAST(CAST(n AS DECIMAL(19,0)) * q2
                  - CAST(s2 AS DECIMAL(19,0)) * s2 AS DECIMAL(38,0))
           + CAST(CAST(n AS DECIMAL(19,0)) * q3
                  - CAST(s3 AS DECIMAL(19,0)) * s3 AS DECIMAL(38,0))
           AS num,
         CAST(CAST(n AS DECIMAL(19,0)) * qt - CAST(st AS DECIMAL(19,0)) * st
              AS DECIMAL(38,0)) AS den
  FROM agg
)
SELECT n AS n_items,
       CAST(num AS DOUBLE) / (CAST(n AS DOUBLE) * n) AS var_sum_items,
       CAST(den AS DOUBLE) / (CAST(n AS DOUBLE) * n) AS var_total,
       1.5 * (1 - CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
         AS cronbach_alpha
FROM v
"""


@register("ml_eval_cronbach_alpha", oracle=_CRONBACH_ORACLE)
def ml_eval_cronbach_alpha(spark, sf_dir):
    """Cronbach's alpha over the same deterministic 3-rater panel as
    ml_eval_fleiss_kappa (raters = items, events = subjects) — the
    internal-consistency reliability of the panel's total score. See
    the section comment: one fact-level aggregate of nine exact sums,
    every output one fixed expression over exact DECIMAL integers."""
    rated = rated3(spark, sf_dir)
    tot = F.col("r1") + F.col("r2") + F.col("r3")
    agg = rated.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r1").cast("long").alias("s1"),
        F.sum(F.col("r1") * F.col("r1")).cast("long").alias("q1"),
        F.sum("r2").cast("long").alias("s2"),
        F.sum(F.col("r2") * F.col("r2")).cast("long").alias("q2"),
        F.sum("r3").cast("long").alias("s3"),
        F.sum(F.col("r3") * F.col("r3")).cast("long").alias("q3"),
        F.sum(tot).cast("long").alias("st"),
        F.sum(tot * tot).cast("long").alias("qt"),
    )
    dec = "decimal(19,0)"

    def nv(q, s):
        return (
            F.col("n").cast(dec) * F.col(q) - F.col(s).cast(dec) * F.col(s)
        ).cast("decimal(38,0)")

    v = agg.select(
        "n",
        (nv("q1", "s1") + nv("q2", "s2") + nv("q3", "s3")).alias("num"),
        nv("qt", "st").alias("den"),
    )
    return v.select(
        F.col("n").alias("n_items"),
        (
            F.col("num").cast("double")
            / (F.col("n").cast("double") * F.col("n"))
        ).alias("var_sum_items"),
        (
            F.col("den").cast("double")
            / (F.col("n").cast("double") * F.col("n"))
        ).alias("var_total"),
        (
            1.5 * (1 - F.col("num").cast("double") / F.col("den").cast("double"))
        ).alias("cronbach_alpha"),
    )
