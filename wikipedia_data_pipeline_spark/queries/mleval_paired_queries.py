"""Paired-sample / experiment-analysis evaluation queries:
Bradley-Terry strengths, Fleiss' kappa, CUPED variance reduction,
Brier-score Murphy decomposition, and McNemar's paired test. Split out
of mleval_queries (round 10)."""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators.ranks import pin
from wikipedia_data_pipeline_spark.queries.mleval_queries import (
    RATED2_CELLS_CTES,
    SCORE_BINS_CTES,
    rated2_cells,
    score_bins,
)
from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table
from wikipedia_data_pipeline_spark.operators.sampling import SQL_DET_HASH


_BT_ORACLE = """
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
types AS (SELECT DISTINCT event_type FROM events),
obs AS (
  SELECT a.event_type AS i, b.event_type AS j,
         CAST(sum(CASE WHEN a.n <> b.n THEN 1 ELSE 0 END) AS BIGINT) AS n_obs,
         CAST(sum(CASE WHEN a.n > b.n THEN 1 ELSE 0 END) AS BIGINT) AS w_obs
  FROM c a JOIN c b
    ON a.user_id = b.user_id AND a.event_type <> b.event_type
  GROUP BY 1, 2
),
m AS (
  SELECT ti.event_type AS i, tj.event_type AS j,
         CAST(COALESCE(n_obs, 0) + 2 AS BIGINT) AS n_ij,
         CAST(COALESCE(w_obs, 0) + 1 AS BIGINT) AS w_ij
  FROM types ti
  JOIN types tj ON ti.event_type <> tj.event_type
  LEFT JOIN obs ON obs.i = ti.event_type AND obs.j = tj.event_type
),
it1 AS (
  SELECT i,
         CAST(sum(CAST(round(CAST(n_ij AS DOUBLE) / 2.0 * 1000000000.0)
                       AS BIGINT)) AS BIGINT) AS denom_nano,
         CAST(sum(w_ij) AS BIGINT) AS wins
  FROM m GROUP BY 1
),
p1 AS (
  SELECT i,
         (CAST(wins AS DOUBLE) * 1000000000.0)
           / CAST(denom_nano AS DOUBLE) AS p
  FROM it1
),
it2 AS (
  SELECT m.i AS i,
         CAST(sum(CAST(round(CAST(m.n_ij AS DOUBLE) / (pi.p + pj.p)
                             * 1000000000.0) AS BIGINT)) AS BIGINT)
           AS denom_nano,
         CAST(sum(m.w_ij) AS BIGINT) AS wins,
         CAST(sum(m.n_ij) AS BIGINT) AS n_comparisons
  FROM m
  JOIN p1 pi ON pi.i = m.i
  JOIN p1 pj ON pj.i = m.j
  GROUP BY 1
),
p2 AS (
  SELECT i AS item, wins, n_comparisons,
         CAST(round((CAST(wins AS DOUBLE) * 1000000000.0)
                    / CAST(denom_nano AS DOUBLE) * 1000000000.0)
              AS BIGINT) AS strength_nano
  FROM it2
),
tot AS (SELECT CAST(sum(strength_nano) AS BIGINT) AS t FROM p2)
SELECT item, wins, n_comparisons, strength_nano,
       CAST(strength_nano AS DOUBLE) / CAST(t AS DOUBLE) AS strength_share,
       CAST(row_number() OVER (ORDER BY strength_nano DESC, item)
            AS BIGINT) AS bt_rank
FROM p2, tot
"""


@register("ml_eval_bradley_terry", oracle=_BT_ORACLE)
def ml_eval_bradley_terry(spark, sf_dir):
    """Bradley-Terry preference aggregation — the model that turns
    pairwise comparison logs (RLHF preference data, arena-style model
    matchups) into a per-item strength ranking. Items are event types;
    one "judge" per user: for each type pair the user compared, the
    type they triggered MORE often wins (ties abstain). Strengths are
    fit with two unrolled Hunter-MM iterations
    p_i <- W_i / sum_j n_ij/(p_i+p_j) from p=1, with add-one
    smoothing (w+1, n+2 per directed pair) so every strength is
    positive at any scale.

    Exactness: wins/comparison counts are exact BIGINT from hash
    aggregates; each MM denominator term n_ij/(p_i+p_j) is quantized
    once to nano-units so the per-item sum is an associative BIGINT
    sum (the events_psi_drift discipline); each p is then ONE
    fixed-order double division of exact integers, so both engines
    walk bit-identical iterates. Final strengths are re-quantized to
    nano-units; shares and the rank are derived from those integers.

    Scale shape: one (user, type) hash agg -> co-partitioned self-join
    on user_id (each user contributes <= K^2 rows, K = |types|) ->
    K(K-1)-row directed win matrix; both MM iterations and the
    ranking run on that driver-tiny relation (broadcast joins only).
    The per-user counts and the matrix are persisted because two plan
    branches consume each."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    c = pin(
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    a, b = c.alias("a"), c.alias("b")
    obs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") != F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("i"),
            F.col("b.event_type").alias("j"),
        )
        .agg(
            F.sum(F.when(F.col("a.n") != F.col("b.n"), 1).otherwise(0))
            .cast("long")
            .alias("n_obs"),
            F.sum(F.when(F.col("a.n") > F.col("b.n"), 1).otherwise(0))
            .cast("long")
            .alias("w_obs"),
        )
    )
    types = ev.select("event_type").distinct()
    spine = types.select(F.col("event_type").alias("i")).crossJoin(
        types.select(F.col("event_type").alias("j"))
    ).filter(F.col("i") != F.col("j"))
    m = pin(
        spine.join(obs, ["i", "j"], "left")
        .select(
            "i",
            "j",
            (F.coalesce("n_obs", F.lit(0)) + 2).cast("long").alias("n_ij"),
            (F.coalesce("w_obs", F.lit(0)) + 1).cast("long").alias("w_ij"),
        )
    )
    it1 = m.groupBy("i").agg(
        F.sum(
            F.round(F.col("n_ij").cast("double") / 2.0 * 1_000_000_000.0)
            .cast("long")
        )
        .cast("long")
        .alias("denom_nano"),
        F.sum("w_ij").cast("long").alias("wins"),
    )
    p1 = it1.select(
        "i",
        (
            (F.col("wins").cast("double") * 1_000_000_000.0)
            / F.col("denom_nano").cast("double")
        ).alias("p"),
    )
    pi = p1.select("i", F.col("p").alias("p_i"))
    pj = p1.select(F.col("i").alias("j"), F.col("p").alias("p_j"))
    it2 = (
        m.join(F.broadcast(pi), "i")
        .join(F.broadcast(pj), "j")
        .groupBy("i")
        .agg(
            F.sum(
                F.round(
                    F.col("n_ij").cast("double")
                    / (F.col("p_i") + F.col("p_j"))
                    * 1_000_000_000.0
                ).cast("long")
            )
            .cast("long")
            .alias("denom_nano"),
            F.sum("w_ij").cast("long").alias("wins"),
            F.sum("n_ij").cast("long").alias("n_comparisons"),
        )
    )
    p2 = it2.select(
        F.col("i").alias("item"),
        "wins",
        "n_comparisons",
        F.round(
            (F.col("wins").cast("double") * 1_000_000_000.0)
            / F.col("denom_nano").cast("double")
            * 1_000_000_000.0
        )
        .cast("long")
        .alias("strength_nano"),
    )
    tot = p2.agg(F.sum("strength_nano").cast("long").alias("t"))
    w = Window.orderBy(F.col("strength_nano").desc(), "item")
    return (
        p2.crossJoin(F.broadcast(tot))
        .select(
            "item",
            "wins",
            "n_comparisons",
            "strength_nano",
            (
                F.col("strength_nano").cast("double")
                / F.col("t").cast("double")
            ).alias("strength_share"),
        )
        .withColumn("bt_rank", F.row_number().over(w).cast("long"))
    )


# The deterministic 3-rater panel over events, shared by Fleiss' kappa,
# Krippendorff's alpha and Cronbach's alpha (mleval_reliability_queries):
# rater 1 labels into 3 classes; rater 2 copies rater 1 on ~70% of items,
# rater 3 on ~50%, re-drawing from independent hash streams otherwise.
# Hash args are pre-reduced mod 1000003 so no key expression overflows.
RATED3_CTE = f"""
rated AS (
  SELECT r1,
         CASE WHEN flip2 < 7 THEN r1 ELSE alt2 END AS r2,
         CASE WHEN flip3 < 5 THEN r1 ELSE alt3 END AS r3
  FROM (
    SELECT CAST(({SQL_DET_HASH.format(col="event_id")}) % 3 AS BIGINT) AS r1,
           CAST(({SQL_DET_HASH.format(col="((event_id % 1000003) * 13 + 5)")}) % 10 AS BIGINT) AS flip2,
           CAST(({SQL_DET_HASH.format(col="((event_id % 1000003) * 31 + 11)")}) % 3 AS BIGINT) AS alt2,
           CAST(({SQL_DET_HASH.format(col="((event_id % 1000003) * 43 + 17)")}) % 10 AS BIGINT) AS flip3,
           CAST(({SQL_DET_HASH.format(col="((event_id % 1000003) * 53 + 29)")}) % 3 AS BIGINT) AS alt3
    FROM events
  )
)"""


def rated3(spark, sf_dir):
    """(r1, r2, r3) per event: the Spark side of ``RATED3_CTE``."""
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        (det_hash("event_id") % 3).cast("long").alias("r1"),
        (det_hash((F.col("event_id") % 1000003) * 13 + 5) % 10)
        .cast("long")
        .alias("flip2"),
        (det_hash((F.col("event_id") % 1000003) * 31 + 11) % 3)
        .cast("long")
        .alias("alt2"),
        (det_hash((F.col("event_id") % 1000003) * 43 + 17) % 10)
        .cast("long")
        .alias("flip3"),
        (det_hash((F.col("event_id") % 1000003) * 53 + 29) % 3)
        .cast("long")
        .alias("alt3"),
    )
    return base.select(
        "r1",
        F.when(F.col("flip2") < 7, F.col("r1"))
        .otherwise(F.col("alt2"))
        .alias("r2"),
        F.when(F.col("flip3") < 5, F.col("r1"))
        .otherwise(F.col("alt3"))
        .alias("r3"),
    )


# Ratings per class c0..c2 summed over the three raters (SQL select items).
_RATED3_CLASS_TOTALS = """CAST(sum(CASE WHEN r1 = 0 THEN 1 ELSE 0 END
                  + CASE WHEN r2 = 0 THEN 1 ELSE 0 END
                  + CASE WHEN r3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
         CAST(sum(CASE WHEN r1 = 1 THEN 1 ELSE 0 END
                  + CASE WHEN r2 = 1 THEN 1 ELSE 0 END
                  + CASE WHEN r3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN r1 = 2 THEN 1 ELSE 0 END
                  + CASE WHEN r2 = 2 THEN 1 ELSE 0 END
                  + CASE WHEN r3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2"""


_FLEISS_ORACLE = f"""
WITH {RATED3_CTE},
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(CASE WHEN r1 = r2 THEN 1 ELSE 0 END
                  + CASE WHEN r1 = r3 THEN 1 ELSE 0 END
                  + CASE WHEN r2 = r3 THEN 1 ELSE 0 END) AS BIGINT) AS agree_pairs,
         {_RATED3_CLASS_TOTALS}
  FROM rated
),
d AS (
  SELECT n_items, agree_pairs,
         CAST(CAST(c0 AS DECIMAL(18,0)) * CAST(c0 AS DECIMAL(18,0))
              + CAST(c1 AS DECIMAL(18,0)) * CAST(c1 AS DECIMAL(18,0))
              + CAST(c2 AS DECIMAL(18,0)) * CAST(c2 AS DECIMAL(18,0))
              AS DECIMAL(38,0)) AS csq,
         CAST(CAST(n_items AS DECIMAL(18,0)) * CAST(agree_pairs AS DECIMAL(18,0)) * 3
              AS DECIMAL(38,0)) AS num_l,
         CAST(CAST(n_items AS DECIMAL(18,0)) * CAST(n_items AS DECIMAL(18,0)) * 9
              AS DECIMAL(38,0)) AS nm_sq
  FROM agg
)
SELECT n_items,
       CAST(agree_pairs AS DOUBLE) / CAST(3 * n_items AS DOUBLE)
         AS mean_pairwise_agreement,
       CAST(csq AS DOUBLE) / CAST(nm_sq AS DOUBLE) AS expected_agreement,
       CAST(num_l - csq AS DOUBLE) / CAST(nm_sq - csq AS DOUBLE)
         AS fleiss_kappa
FROM d
"""


@register("ml_eval_fleiss_kappa", oracle=_FLEISS_ORACLE)
def ml_eval_fleiss_kappa(spark, sf_dir):
    """Fleiss' kappa for THREE raters — the multi-rater agreement
    statistic Cohen's (two-rater) kappa can't express; the label-QA
    readout when each item in an annotation pipeline is rated by a
    panel. Raters are deterministic hash streams over events (the
    ml_eval_rater_kappa discipline): rater 1 labels into 3 classes;
    rater 2 copies rater 1 on ~70% of items, rater 3 on ~50%,
    re-drawing from independent streams otherwise.

    Exactness: with m=3 raters, sum_k n_ik^2 per item equals
    3 + 2*(pairwise agreements among the three ratings), so Fleiss'
    P_bar collapses to agree_pairs/(3N) and the WHOLE statistic needs
    only ONE fact-level hash aggregate (N, pairwise-agreement count,
    3 per-category rating totals) — no per-item grouping at all. The
    algebra clears every early division:
    kappa = (3*N*A - sum_k c_k^2) / (9*N^2 - sum_k c_k^2) with both
    sides exact DECIMAL(38,0) integers, so the one final double
    division (and the fixed-order agreement ratios) are bit-identical
    across engines. Hash args are pre-reduced mod 1000003 so the key
    expression cannot overflow BIGINT at any event_id.

    Scale shape: scan -> 1-row aggregate. Nothing else."""
    rated = rated3(spark, sf_dir)

    def eq(x, y):
        return F.when(F.col(x) == F.col(y), 1).otherwise(0)

    def is_k(col, k):
        return F.when(F.col(col) == k, 1).otherwise(0)

    agg = rated.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(eq("r1", "r2") + eq("r1", "r3") + eq("r2", "r3"))
        .cast("long")
        .alias("agree_pairs"),
        *[
            F.sum(is_k("r1", k) + is_k("r2", k) + is_k("r3", k))
            .cast("long")
            .alias(f"c{k}")
            for k in (0, 1, 2)
        ],
    )
    dec = "decimal(18,0)"
    csq = (
        F.col("c0").cast(dec) * F.col("c0").cast(dec)
        + F.col("c1").cast(dec) * F.col("c1").cast(dec)
        + F.col("c2").cast(dec) * F.col("c2").cast(dec)
    ).cast("decimal(38,0)")
    num_l = (
        F.col("n_items").cast(dec) * F.col("agree_pairs").cast(dec) * 3
    ).cast("decimal(38,0)")
    nm_sq = (
        F.col("n_items").cast(dec) * F.col("n_items").cast(dec) * 9
    ).cast("decimal(38,0)")
    d = agg.select(
        "n_items",
        "agree_pairs",
        csq.alias("csq"),
        num_l.alias("num_l"),
        nm_sq.alias("nm_sq"),
    )
    return d.select(
        "n_items",
        (
            F.col("agree_pairs").cast("double")
            / (F.lit(3) * F.col("n_items")).cast("double")
        ).alias("mean_pairwise_agreement"),
        (F.col("csq").cast("double") / F.col("nm_sq").cast("double")).alias(
            "expected_agreement"
        ),
        (
            (F.col("num_l") - F.col("csq")).cast("double")
            / (F.col("nm_sq") - F.col("csq")).cast("double")
        ).alias("fleiss_kappa"),
    )


_CUPED_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         CAST(({SQL_DET_HASH.format(col="user_id")}) % 2 AS BIGINT) AS arm,
         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY 1
),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sx,
         CAST(sum(CAST(y AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sy,
         CAST(sum(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0)))
              AS DECIMAL(38,0)) AS sxx,
         CAST(sum(CAST(x AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0)))
              AS DECIMAL(38,0)) AS sxy,
         CAST(sum(CAST(y AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0)))
              AS DECIMAL(38,0)) AS syy
  FROM u
),
t AS (
  SELECT n,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta,
         ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
           / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
           AS variance_reduction,
         CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx
  FROM g
),
a AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(CAST(x AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sxa,
         CAST(sum(CAST(y AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sya
  FROM u GROUP BY arm
)
SELECT arm, n_users,
       CAST(sxa AS DOUBLE) / CAST(n_users AS DOUBLE) / 100.0
         AS mean_pre_value,
       CAST(sya AS DOUBLE) / CAST(n_users AS DOUBLE) / 100.0
         AS mean_post_value,
       (CAST(sya AS DOUBLE) / CAST(n_users AS DOUBLE)
          - theta * (CAST(sxa AS DOUBLE) / CAST(n_users AS DOUBLE) - mx))
         / 100.0 AS cuped_adjusted_mean,
       theta, variance_reduction
FROM a, t
"""


@register("ml_eval_cuped_ab", oracle=_CUPED_ORACLE)
def ml_eval_cuped_ab(spark, sf_dir):
    """CUPED variance-reduced A/B readout (Deng et al., WSDM 2013) —
    the experiment-analysis operator that uses each user's PRE-period
    behavior as a control covariate: adjusted_i = y_i - theta (x_i -
    E[x]) with theta = cov(x, y)/var(x), shrinking metric variance by
    the squared pre/post correlation without biasing the treatment
    contrast. Arms are det_hash(user_id) % 2; the pre period is days
    1-15, the experiment period the rest of the month; the per-user
    metric is summed value in cents.

    Exact: per-user x/y are BIGINT cents sums; all five pooled moment
    sums are DECIMAL(38,0) hash aggregates, so theta, the pre/post R^2
    (= the variance-reduction factor), and both arms' adjusted means
    are fixed-order double expressions both engines evaluate
    identically — the events_feature_corr_matrix discipline.

    Scale shape: one events scan -> per-user hash agg (the only
    fact-sized shuffle) -> persisted user-level relation feeds the
    1-row pooled-moments aggregate AND the 2-row per-arm aggregate ->
    broadcast the 1-row theta onto the arms. At 1000 executors the
    user relation is the natural experiment-analysis table; nothing
    else grows with the event count."""
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    ev = load_table(spark, sf_dir, "events")
    # load_table exposes ts as epoch-micros BIGINT; 1705363200000000 is
    # TIMESTAMP '2024-01-16' UTC — the same instant the oracle names
    pre = F.col("ts") < F.lit(1705363200000000)
    cents = F.round(F.col("value") * 100).cast("long")
    u = pin(
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(pre, cents).otherwise(0)).cast("long").alias("x"),
            F.sum(F.when(~pre, cents).otherwise(0)).cast("long").alias("y"),
        )
        .select(
            (det_hash("user_id") % 2).cast("long").alias("arm"), "x", "y"
        )
    )
    dec = "decimal(18,0)"
    g = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast(dec)).cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x").cast(dec))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y").cast(dec))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(F.col("y").cast(dec) * F.col("y").cast(dec))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    t = g.selectExpr(
        "n",
        """(cast(n as double) * cast(sxy as double)
            - cast(sx as double) * cast(sy as double))
           / (cast(n as double) * cast(sxx as double)
              - cast(sx as double) * cast(sx as double)) AS theta""",
        """((cast(n as double) * cast(sxy as double)
             - cast(sx as double) * cast(sy as double))
            * (cast(n as double) * cast(sxy as double)
               - cast(sx as double) * cast(sy as double)))
           / ((cast(n as double) * cast(sxx as double)
               - cast(sx as double) * cast(sx as double))
              * (cast(n as double) * cast(syy as double)
                 - cast(sy as double) * cast(sy as double)))
           AS variance_reduction""",
        "cast(sx as double) / cast(n as double) AS mx",
    ).drop("n")
    a = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.col("x").cast(dec)).cast("decimal(38,0)").alias("sxa"),
        F.sum(F.col("y").cast(dec)).cast("decimal(38,0)").alias("sya"),
    )
    return a.crossJoin(F.broadcast(t)).selectExpr(
        "arm",
        "n_users",
        "cast(sxa as double) / cast(n_users as double) / 100.0"
        " AS mean_pre_value",
        "cast(sya as double) / cast(n_users as double) / 100.0"
        " AS mean_post_value",
        """(cast(sya as double) / cast(n_users as double)
            - theta * (cast(sxa as double) / cast(n_users as double) - mx))
           / 100.0 AS cuped_adjusted_mean""",
        "theta",
        "variance_reduction",
    )


_BRIER_ORACLE = f"""
WITH {SCORE_BINS_CTES},
item AS (
  SELECT CAST(sum(CAST(round(
           (CAST(dv AS DOUBLE) / rng_w - label)
           * (CAST(dv AS DOUBLE) / rng_w - label) * 1000000000.0)
           AS BIGINT)) AS BIGINT) AS brier_nano,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(label) AS BIGINT) AS n_pos
  FROM binned
),
per AS (
  SELECT bin, CAST(max(rng_w) AS BIGINT) AS rng_w,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(label) AS BIGINT) AS n_pos,
         CAST(sum(dv) AS BIGINT) AS sum_dv
  FROM binned GROUP BY bin
),
terms AS (
  SELECT CAST(round(per.n
           * (CAST(sum_dv AS DOUBLE) / per.n / rng_w
              - CAST(per.n_pos AS DOUBLE) / per.n)
           * (CAST(sum_dv AS DOUBLE) / per.n / rng_w
              - CAST(per.n_pos AS DOUBLE) / per.n)
           * 1000000000.0) AS BIGINT) AS rel_nano,
         CAST(round(per.n
           * (CAST(per.n_pos AS DOUBLE) / per.n
              - CAST(i.n_pos AS DOUBLE) / i.n)
           * (CAST(per.n_pos AS DOUBLE) / per.n
              - CAST(i.n_pos AS DOUBLE) / i.n)
           * 1000000000.0) AS BIGINT) AS res_nano,
         CAST(round((per.n * (CAST(sum_dv AS DOUBLE) / per.n / rng_w)
                       * (CAST(sum_dv AS DOUBLE) / per.n / rng_w)
                     - 2 * (CAST(sum_dv AS DOUBLE) / per.n / rng_w)
                         * per.n_pos
                     + per.n_pos) * 1000000000.0) AS BIGINT) AS bb_nano
  FROM per, item i
)
SELECT i.n,
       CAST(i.n_pos AS DOUBLE) / i.n AS base_rate,
       CAST(i.brier_nano AS DOUBLE) / 1000000000.0 / i.n AS brier_score,
       CAST((SELECT CAST(sum(bb_nano) AS BIGINT) FROM terms) AS DOUBLE)
         / 1000000000.0 / i.n AS brier_binned,
       CAST((SELECT CAST(sum(rel_nano) AS BIGINT) FROM terms) AS DOUBLE)
         / 1000000000.0 / i.n AS reliability,
       CAST((SELECT CAST(sum(res_nano) AS BIGINT) FROM terms) AS DOUBLE)
         / 1000000000.0 / i.n AS resolution,
       (CAST(i.n_pos AS DOUBLE) / i.n)
         * (1.0 - CAST(i.n_pos AS DOUBLE) / i.n) AS uncertainty
FROM item i
"""


@register("ml_eval_brier_decomposition", oracle=_BRIER_ORACLE)
def ml_eval_brier_decomposition(spark, sf_dir):
    """Murphy (1973) decomposition of the Brier score — the
    diagnostic that splits a probabilistic scorer's squared error
    into reliability (calibration gap to shrink), resolution
    (discrimination to keep), and irreducible outcome uncertainty:
    brier_binned = reliability - resolution + uncertainty exactly
    when forecasts are replaced by their bin means. Same deterministic
    score/label streams and min-max 10-bin layout as
    ml_eval_calibration_bins, so the two reports read together.

    Exactness: every per-item and per-bin squared-error term is
    quantized once to nano-units, so both engines sum identical
    BIGINTs regardless of reduction order; the base rate, component
    normalizations, and uncertainty are fixed-order double expressions
    over exact integers.

    Scale shape: one events scan -> (bin) hash agg (10 groups) plus
    one 1-row item-level moment aggregate; the decomposition itself
    runs on the 10-row relation."""
    binned = score_bins(spark, sf_dir)
    f_item = F.col("dv").cast("double") / F.col("rng_w")
    item = binned.agg(
        F.sum(
            F.round((f_item - F.col("label")) * (f_item - F.col("label"))
                    * 1_000_000_000.0).cast("long")
        )
        .cast("long")
        .alias("brier_nano"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("label").cast("long").alias("n_pos"),
    )
    per = binned.groupBy("bin").agg(
        F.max("rng_w").cast("long").alias("rng_w"),
        F.count(F.lit(1)).cast("long").alias("bn"),
        F.sum("label").cast("long").alias("bn_pos"),
        F.sum("dv").cast("long").alias("sum_dv"),
    )
    f_k = F.col("sum_dv").cast("double") / F.col("bn") / F.col("rng_w")
    o_k = F.col("bn_pos").cast("double") / F.col("bn")
    o_bar = F.col("n_pos").cast("double") / F.col("n")
    terms = per.crossJoin(F.broadcast(item)).select(
        F.round(F.col("bn") * (f_k - o_k) * (f_k - o_k) * 1_000_000_000.0)
        .cast("long")
        .alias("rel_nano"),
        F.round(
            F.col("bn") * (o_k - o_bar) * (o_k - o_bar) * 1_000_000_000.0
        )
        .cast("long")
        .alias("res_nano"),
        F.round(
            (
                F.col("bn") * f_k * f_k
                - F.lit(2) * f_k * F.col("bn_pos")
                + F.col("bn_pos")
            )
            * 1_000_000_000.0
        )
        .cast("long")
        .alias("bb_nano"),
    )
    sums = terms.agg(
        F.sum("rel_nano").cast("long").alias("rel_s"),
        F.sum("res_nano").cast("long").alias("res_s"),
        F.sum("bb_nano").cast("long").alias("bb_s"),
    )
    return item.crossJoin(F.broadcast(sums)).select(
        "n",
        o_bar.alias("base_rate"),
        (F.col("brier_nano").cast("double") / 1_000_000_000.0 / F.col("n"))
        .alias("brier_score"),
        (F.col("bb_s").cast("double") / 1_000_000_000.0 / F.col("n"))
        .alias("brier_binned"),
        (F.col("rel_s").cast("double") / 1_000_000_000.0 / F.col("n"))
        .alias("reliability"),
        (F.col("res_s").cast("double") / 1_000_000_000.0 / F.col("n"))
        .alias("resolution"),
        (o_bar * (F.lit(1.0) - o_bar)).alias("uncertainty"),
    )


_MCNEMAR_ORACLE = f"""
WITH p AS (
  SELECT CAST(({SQL_DET_HASH.format(col="event_id")}) % 2 AS BIGINT)
           AS truth,
         CAST(({SQL_DET_HASH.format(col="((event_id % 1000003) * 7 + 3)")}) % 100 AS BIGINT)
           AS da,
         CAST(({SQL_DET_HASH.format(col="((event_id % 1000003) * 19 + 11)")}) % 100 AS BIGINT)
           AS db
  FROM events
),
o AS (
  SELECT CASE WHEN da < 50 THEN truth ELSE 1 - truth END AS pred_a,
         CASE WHEN db < 70 THEN truth ELSE 1 - truth END AS pred_b,
         truth
  FROM p
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN pred_a = truth AND pred_b <> truth
                       THEN 1 ELSE 0 END) AS BIGINT) AS b_only_a,
         CAST(sum(CASE WHEN pred_a <> truth AND pred_b = truth
                       THEN 1 ELSE 0 END) AS BIGINT) AS c_only_b,
         CAST(sum(CASE WHEN pred_a = truth THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct_a,
         CAST(sum(CASE WHEN pred_b = truth THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct_b
  FROM o
)
SELECT n, n_correct_a, n_correct_b, b_only_a, c_only_b,
       CAST((b_only_a - c_only_b) * (b_only_a - c_only_b) AS DOUBLE)
         / CAST(b_only_a + c_only_b AS DOUBLE) AS mcnemar_chi2,
       (b_only_a - c_only_b) * (b_only_a - c_only_b) * 1000000
         >= 3841459 * (b_only_a + c_only_b) AS reject_h0
FROM agg
"""


@register("ml_eval_mcnemar_test", oracle=_MCNEMAR_ORACLE)
def ml_eval_mcnemar_test(spark, sf_dir):
    """McNemar's test for PAIRED model comparison — the statistically
    correct way to ask "is model B better than model A on the same
    eval items" (two accuracy numbers alone ignore the pairing): only
    the discordant counts matter, chi2 = (b - c)^2 / (b + c) with
    b = A-right/B-wrong, c = A-wrong/B-right. Models are deterministic
    hash streams over events: A matches the truth with p = 0.50 (a
    coin), B with p = 0.70 — the designed fixed point is REJECT, with
    chi2 growing linearly in n.

    Exactness: all five counts are exact BIGINT aggregates from one
    scan; the statistic is one double division of exact integers, and
    the alpha = 0.05 decision is the PURE-INTEGER comparison
    (b-c)^2 * 10^6 >= 3841459 * (b+c) (chi2_1,0.95 = 3.841459...
    frozen as a micro-unit literal, the events_sprt_ab discipline), so
    no transcendental ever runs at query time.

    Scale shape: scan -> 1-row aggregate. Nothing else."""
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    ev = load_table(spark, sf_dir, "events")
    o = ev.select(
        (det_hash("event_id") % 2).cast("long").alias("truth"),
        (det_hash((F.col("event_id") % 1000003) * 7 + 3) % 100)
        .cast("long")
        .alias("da"),
        (det_hash((F.col("event_id") % 1000003) * 19 + 11) % 100)
        .cast("long")
        .alias("db"),
    ).select(
        "truth",
        F.when(F.col("da") < 50, F.col("truth"))
        .otherwise(1 - F.col("truth"))
        .alias("pred_a"),
        F.when(F.col("db") < 70, F.col("truth"))
        .otherwise(1 - F.col("truth"))
        .alias("pred_b"),
    )
    right_a = F.col("pred_a") == F.col("truth")
    right_b = F.col("pred_b") == F.col("truth")
    agg = o.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(right_a & ~right_b, 1).otherwise(0))
        .cast("long")
        .alias("b_only_a"),
        F.sum(F.when(~right_a & right_b, 1).otherwise(0))
        .cast("long")
        .alias("c_only_b"),
        F.sum(F.when(right_a, 1).otherwise(0))
        .cast("long")
        .alias("n_correct_a"),
        F.sum(F.when(right_b, 1).otherwise(0))
        .cast("long")
        .alias("n_correct_b"),
    )
    d = F.col("b_only_a") - F.col("c_only_b")
    s = F.col("b_only_a") + F.col("c_only_b")
    return agg.select(
        "n",
        "n_correct_a",
        "n_correct_b",
        "b_only_a",
        "c_only_b",
        ((d * d).cast("double") / s.cast("double")).alias("mcnemar_chi2"),
        (d * d * F.lit(1_000_000) >= F.lit(3_841_459) * s).alias(
            "reject_h0"
        ),
    )



# ---------------------------------------------------------------------------
# Krippendorff's alpha — nominal, 3 raters, complete data (round 10)
# ---------------------------------------------------------------------------

_KRIPP_ORACLE = f"""
WITH {RATED3_CTE},
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(CASE WHEN r1 = r2 THEN 1 ELSE 0 END
                  + CASE WHEN r1 = r3 THEN 1 ELSE 0 END
                  + CASE WHEN r2 = r3 THEN 1 ELSE 0 END) AS BIGINT) AS a,
         {_RATED3_CLASS_TOTALS}
  FROM rated
),
d AS (
  SELECT n_items, a,
         CAST(CAST(c0 AS DECIMAL(18,0)) * CAST(c0 AS DECIMAL(18,0))
              + CAST(c1 AS DECIMAL(18,0)) * CAST(c1 AS DECIMAL(18,0))
              + CAST(c2 AS DECIMAL(18,0)) * CAST(c2 AS DECIMAL(18,0))
              AS DECIMAL(38,0)) AS csq,
         CAST(3 * n_items AS BIGINT) AS n
  FROM agg
)
SELECT n_items,
       CAST(n - a AS DOUBLE) / CAST(n AS DOUBLE) AS observed_disagreement,
       CAST(CAST(n AS DECIMAL(18,0)) * CAST(n AS DECIMAL(18,0)) - csq AS DOUBLE)
         / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS expected_disagreement,
       1.0 - CAST(CAST(n - a AS DECIMAL(18,0)) * CAST(n - 1 AS DECIMAL(18,0)) AS DOUBLE)
             / CAST(CAST(n AS DECIMAL(18,0)) * CAST(n AS DECIMAL(18,0)) - csq AS DOUBLE)
         AS krippendorff_alpha
FROM d
"""


@register("ml_eval_krippendorff_alpha", oracle=_KRIPP_ORACLE)
def ml_eval_krippendorff_alpha(spark, sf_dir):
    """Krippendorff's alpha (nominal metric, 3 raters, complete data —
    Krippendorff, 'Content Analysis', coincidence-matrix form) over the
    SAME deterministic rater panel as ml_eval_fleiss_kappa, so the two
    chance-corrected agreement statistics are directly comparable on
    identical data: Fleiss corrects by the item-marginal expected
    agreement, alpha by the COINCIDENCE-matrix expectation with its
    small-sample (n-1) correction — the reliability readout annotation
    platforms actually report.

    Exactness: with m=3 complete raters a unit has exactly 3 rating
    pairs AND 3 pairable values, so for n = 3N pairable values and A =
    total per-unit agreeing pairs, the coincidence-matrix quantities
    collapse to integers: D_o = (n − A)/n and D_e = (n² − Σ_k c_k²) /
    (n(n−1)), giving, with every division cleared,
        alpha = 1 − (n − A)(n − 1) / (n² − Σ_k c_k²).
    Numerator and denominator are exact DECIMAL(38,0) integers, so the
    single final division — and the D_o/D_e diagnostics emitted beside
    it — are bit-identical across engines. Same overflow discipline as
    Fleiss: hash args pre-reduced mod 1000003.

    Scale shape: scan → ONE 1-row hash aggregate; no per-item grouping,
    no window, no UDF."""
    rated = rated3(spark, sf_dir)

    def cat_total(k):
        return sum(
            F.sum(F.when(F.col(r) == k, 1).otherwise(0))
            for r in ("r1", "r2", "r3")
        ).cast("long")

    agg = rated.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        (
            F.sum(F.when(F.col("r1") == F.col("r2"), 1).otherwise(0))
            + F.sum(F.when(F.col("r1") == F.col("r3"), 1).otherwise(0))
            + F.sum(F.when(F.col("r2") == F.col("r3"), 1).otherwise(0))
        )
        .cast("long")
        .alias("a"),
        cat_total(0).alias("c0"),
        cat_total(1).alias("c1"),
        cat_total(2).alias("c2"),
    )
    dec = lambda c: F.col(c).cast("decimal(18,0)")  # noqa: E731
    csq = (
        (dec("c0") * dec("c0") + dec("c1") * dec("c1") + dec("c2") * dec("c2"))
        .cast("decimal(38,0)")
    )
    n = (F.lit(3) * F.col("n_items")).cast("long")
    d = agg.select(
        "n_items",
        F.col("a"),
        csq.alias("csq"),
        n.alias("n"),
    )
    n_dec = F.col("n").cast("decimal(18,0)")
    return d.select(
        "n_items",
        (
            (F.col("n") - F.col("a")).cast("double")
            / F.col("n").cast("double")
        ).alias("observed_disagreement"),
        (
            (n_dec * n_dec - F.col("csq")).cast("double")
            / (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
        ).alias("expected_disagreement"),
        (
            F.lit(1.0)
            - (
                (F.col("n") - F.col("a")).cast("decimal(18,0)")
                * (F.col("n") - 1).cast("decimal(18,0)")
            ).cast("double")
            / (n_dec * n_dec - F.col("csq")).cast("double")
        ).alias("krippendorff_alpha"),
    )


# ---------------------------------------------------------------------------
# Cochran's Q — k=3 paired binary treatments (round 10)
# ---------------------------------------------------------------------------

_COCHRAN_ORACLE = f"""
WITH p AS (
  SELECT CAST(({SQL_DET_HASH.format(col="event_id")}) % 2 AS BIGINT)
           AS truth,
         CAST(({SQL_DET_HASH.format(col="((event_id % 1000003) * 7 + 3)")}) % 100 AS BIGINT)
           AS da,
         CAST(({SQL_DET_HASH.format(col="((event_id % 1000003) * 19 + 11)")}) % 100 AS BIGINT)
           AS db,
         CAST(({SQL_DET_HASH.format(col="((event_id % 1000003) * 29 + 23)")}) % 100 AS BIGINT)
           AS dc
  FROM events
),
o AS (
  SELECT CASE WHEN da < 50 THEN 1 ELSE 0 END AS x1,
         CASE WHEN db < 70 THEN 1 ELSE 0 END AS x2,
         CASE WHEN dc < 60 THEN 1 ELSE 0 END AS x3
  FROM p
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x1) AS BIGINT) AS c1,
         CAST(sum(x2) AS BIGINT) AS c2,
         CAST(sum(x3) AS BIGINT) AS c3,
         CAST(sum((x1 + x2 + x3) * (x1 + x2 + x3)) AS BIGINT) AS sum_r2
  FROM o
),
d AS (
  SELECT n, c1, c2, c3, sum_r2,
         c1 + c2 + c3 AS t,
         CAST(2 * (3 * (CAST(c1 AS DECIMAL(18,0)) * c1
                        + CAST(c2 AS DECIMAL(18,0)) * c2
                        + CAST(c3 AS DECIMAL(18,0)) * c3)
                   - CAST(c1 + c2 + c3 AS DECIMAL(18,0))
                     * (c1 + c2 + c3)) AS DECIMAL(38,0)) AS num,
         CAST(3 * (c1 + c2 + c3) - sum_r2 AS BIGINT) AS den
  FROM agg
)
SELECT n, c1, c2, c3,
       CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS cochran_q,
       CAST(num * 1000000 AS DECIMAL(38,0))
         >= CAST(5991465 AS DECIMAL(38,0)) * den AS reject_h0
FROM d
"""


@register("ml_eval_cochran_q", oracle=_COCHRAN_ORACLE)
def ml_eval_cochran_q(spark, sf_dir):
    """Cochran's Q for k=3 paired binary treatments — McNemar's
    k-treatment generalization (Cochran 1950): "do these three models
    have the same success rate on the SAME eval items". Correct-flags
    x_j are deterministic hash streams with designed rates 0.50 /
    0.70 / 0.60, so the fixed point is REJECT with Q growing in n.
    The first two streams are the exact models ml_eval_mcnemar_test
    compares, making the pairwise and omnibus tests directly
    comparable on identical data.

    Exactness: with divisions cleared,
        Q = (k−1)·(k·ΣC_j² − T²) / (k·T − ΣR_i²),   k = 3,
    where C_j are per-treatment success totals, T = ΣC_j, and ΣR_i²
    needs only Σ(x1+x2+x3)² — ONE more conditional sum in the same
    1-row aggregate, no per-item grouping. Numerator exact
    DECIMAL(38,0), denominator BIGINT; the alpha = 0.05 decision is
    the pure-integer comparison num·10⁶ ≥ 5991465·den with
    chi²₂,₀.₉₅ = 5.991465 frozen as a micro-unit literal (the
    McNemar/SPRT discipline — no transcendental at query time).

    Scale shape: scan → 1-row aggregate. Nothing else."""
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    ev = load_table(spark, sf_dir, "events")
    o = ev.select(
        (
            (det_hash((F.col("event_id") % 1000003) * 7 + 3) % 100) < 50
        ).cast("long").alias("x1"),
        (
            (det_hash((F.col("event_id") % 1000003) * 19 + 11) % 100) < 70
        ).cast("long").alias("x2"),
        (
            (det_hash((F.col("event_id") % 1000003) * 29 + 23) % 100) < 60
        ).cast("long").alias("x3"),
    )
    r = F.col("x1") + F.col("x2") + F.col("x3")
    agg = o.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x1").cast("long").alias("c1"),
        F.sum("x2").cast("long").alias("c2"),
        F.sum("x3").cast("long").alias("c3"),
        F.sum(r * r).cast("long").alias("sum_r2"),
    )
    dec = lambda c: F.col(c).cast("decimal(18,0)")  # noqa: E731
    t = F.col("c1") + F.col("c2") + F.col("c3")
    num = (
        2
        * (
            3 * (dec("c1") * F.col("c1") + dec("c2") * F.col("c2")
                 + dec("c3") * F.col("c3"))
            - t.cast("decimal(18,0)") * t
        )
    ).cast("decimal(38,0)")
    den = (3 * t - F.col("sum_r2")).cast("long")
    d = agg.select("n", "c1", "c2", "c3", num.alias("num"), den.alias("den"))
    return d.select(
        "n",
        "c1",
        "c2",
        "c3",
        (F.col("num").cast("double") / F.col("den").cast("double")).alias(
            "cochran_q"
        ),
        (
            (F.col("num") * 1_000_000).cast("decimal(38,0)")
            >= F.lit(5_991_465).cast("decimal(38,0)") * F.col("den")
        ).alias("reject_h0"),
    )


# ---------------------------------------------------------------------------
# Weighted Cohen's kappa: ordinal-label agreement on the rater fixture
# ---------------------------------------------------------------------------
# ml_eval_rater_kappa's unweighted kappa treats a 0-vs-2 disagreement
# the same as 0-vs-1; for ORDINAL labels (quality tiers, severity
# grades) the standard report is weighted kappa with linear or
# quadratic disagreement weights d_ij = |i-j| or (i-j)^2:
#   kappa_w = 1 - N * sum_ij d_ij o_ij / sum_ij d_ij n1_i n2_j
# (the early-division-free form; quadratic-weighted kappa is also the
# ordinal analogue of an ICC). Same two deterministic pseudo-raters as
# ml_eval_rater_kappa, so the unweighted/linear/quadratic triple is
# directly comparable. Everything is exact DECIMAL integers until ONE
# final double division per variant.

_WKAPPA_ORACLE = f"""
WITH {RATED2_CELLS_CTES},
obs AS (
  SELECT CAST(sum(n_cell) AS BIGINT) AS n_items,
         CAST(sum(CAST(abs(r1 - r2) AS DECIMAL(18,0)) * n_cell)
              AS DECIMAL(38,0)) AS od_lin,
         CAST(sum(CAST((r1 - r2) * (r1 - r2) AS DECIMAL(18,0)) * n_cell)
              AS DECIMAL(38,0)) AS od_quad
  FROM cells
),
chance AS (
  SELECT CAST(sum(CAST(abs(m1.k - m2.k) AS DECIMAL(18,0))
                  * CAST(m1.n1 AS DECIMAL(18,0)) * m2.n2)
              AS DECIMAL(38,0)) AS ed_lin,
         CAST(sum(CAST((m1.k - m2.k) * (m1.k - m2.k) AS DECIMAL(18,0))
                  * CAST(m1.n1 AS DECIMAL(18,0)) * m2.n2)
              AS DECIMAL(38,0)) AS ed_quad
  FROM m1 CROSS JOIN m2
)
SELECT n_items,
       CAST(od_lin AS DOUBLE) / n_items AS mean_lin_disagreement,
       1.0 - CAST(CAST(n_items AS DECIMAL(18,0)) * od_lin AS DOUBLE)
               / CAST(ed_lin AS DOUBLE) AS kappa_linear,
       1.0 - CAST(CAST(n_items AS DECIMAL(18,0)) * od_quad AS DOUBLE)
               / CAST(ed_quad AS DOUBLE) AS kappa_quadratic
FROM obs, chance
"""


@register("ml_eval_weighted_kappa", oracle=_WKAPPA_ORACLE)
def ml_eval_weighted_kappa(spark, sf_dir):
    """Linear- and quadratic-weighted Cohen's kappa on the
    ml_eval_rater_kappa pseudo-rater panel — the ordinal-label
    agreement statistic (severity grades, quality tiers) where the
    SIZE of a disagreement matters. See the section comment for the
    division-free algebra.

    Scale shape: one hash agg of the fact table to a 3x3 confusion
    matrix; marginals and the 9-term chance products are driver-tiny;
    both kappas are single fixed double divisions over exact DECIMAL
    integers."""
    cells = rated2_cells(spark, sf_dir)
    m1 = cells.groupBy(F.col("r1").alias("k")).agg(
        F.sum("n_cell").cast("long").alias("n1")
    )
    m2 = cells.groupBy(F.col("r2").alias("k")).agg(
        F.sum("n_cell").cast("long").alias("n2")
    )
    dec = "decimal(18,0)"
    d_lin = F.abs(F.col("r1") - F.col("r2")).cast(dec)
    d_quad = ((F.col("r1") - F.col("r2")) * (F.col("r1") - F.col("r2"))).cast(dec)
    obs = cells.agg(
        F.sum("n_cell").cast("long").alias("n_items"),
        F.sum(d_lin * F.col("n_cell")).cast("decimal(38,0)").alias("od_lin"),
        F.sum(d_quad * F.col("n_cell")).cast("decimal(38,0)").alias("od_quad"),
    )
    ka, kb = F.col("a.k"), F.col("b.k")
    chance = (
        m1.alias("a")
        .crossJoin(m2.alias("b"))
        .agg(
            F.sum(
                F.abs(ka - kb).cast(dec)
                * F.col("a.n1").cast(dec)
                * F.col("b.n2")
            )
            .cast("decimal(38,0)")
            .alias("ed_lin"),
            F.sum(
                ((ka - kb) * (ka - kb)).cast(dec)
                * F.col("a.n1").cast(dec)
                * F.col("b.n2")
            )
            .cast("decimal(38,0)")
            .alias("ed_quad"),
        )
    )
    n_dec = F.col("n_items").cast(dec)
    return obs.crossJoin(F.broadcast(chance)).select(
        "n_items",
        (F.col("od_lin").cast("double") / F.col("n_items")).alias(
            "mean_lin_disagreement"
        ),
        (
            F.lit(1.0)
            - (n_dec * F.col("od_lin")).cast("double")
            / F.col("ed_lin").cast("double")
        ).alias("kappa_linear"),
        (
            F.lit(1.0)
            - (n_dec * F.col("od_quad")).cast("double")
            / F.col("ed_quad").cast("double")
        ).alias("kappa_quadratic"),
    )


# ---------------------------------------------------------------------------
# Macro / micro F1: the multi-class classification report
# ---------------------------------------------------------------------------
# The per-class precision/recall/F1 panel plus the macro (unweighted
# class mean) and micro (= accuracy for single-label multi-class)
# aggregates — the headline numbers of every classifier eval. Fixture:
# actual = 4-class label from the event-id hash stream; predicted
# copies actual on ~65% of items and re-draws from a third stream
# otherwise — so every class has non-trivial FP *and* FN mass and no
# per-class division degenerates. Counts are exact BIGINTs from ONE
# hash agg; each per-class F1 is a single fixed double division
# 2*TP/(2*TP+FP+FN); the macro mean is a fixed left-to-right 4-term
# expression — no order-dependent reduction anywhere.

# The 16-cell confusion counts of that 4-class panel, shared with the
# multi-class MCC below (Spark side: ``_confusion4_cells``).
_CONFUSION4_CELLS_CTES = f"""
labeled AS (
  SELECT CAST(({SQL_DET_HASH.format(col="event_id")}) % 4 AS BIGINT) AS y,
         CAST(({SQL_DET_HASH.format(col="((event_id % 1000003) * 13 + 5)")}) % 20 AS BIGINT) AS flip,
         CAST(({SQL_DET_HASH.format(col="((event_id % 1000003) * 31 + 11)")}) % 4 AS BIGINT) AS alt
  FROM events
),
cells AS (
  SELECT y, CASE WHEN flip < 13 THEN y ELSE alt END AS p,
         CAST(count(*) AS BIGINT) AS n_cell
  FROM labeled GROUP BY 1, 2
)"""

_MACRO_F1_ORACLE = f"""
WITH {_CONFUSION4_CELLS_CTES},
per AS (
  SELECT CAST(sum(n_cell) AS BIGINT) AS n_items,
         CAST(sum(CASE WHEN y = p THEN n_cell ELSE 0 END) AS BIGINT)
           AS n_correct,
         {", ".join(
             f"CAST(sum(CASE WHEN y = {c} AND p = {c} THEN n_cell ELSE 0 END) AS BIGINT) AS tp{c}, "
             f"CAST(sum(CASE WHEN y <> {c} AND p = {c} THEN n_cell ELSE 0 END) AS BIGINT) AS fp{c}, "
             f"CAST(sum(CASE WHEN y = {c} AND p <> {c} THEN n_cell ELSE 0 END) AS BIGINT) AS fn{c}"
             for c in range(4)
         )}
  FROM cells
),
f AS (
  SELECT per.*,
         {", ".join(
             f"CAST(2 * tp{c} AS DOUBLE) / (2 * tp{c} + fp{c} + fn{c}) AS f1_{c}"
             for c in range(4)
         )}
  FROM per
)
SELECT n_items, n_correct,
       {", ".join(f"tp{c}, fp{c}, fn{c}, f1_{c}" for c in range(4))},
       (((f1_0 + f1_1) + f1_2) + f1_3) / 4.0 AS macro_f1,
       CAST(n_correct AS DOUBLE) / n_items AS micro_f1
FROM f
"""


def _confusion4_cells(spark, sf_dir):
    """(y, p, n_cell): the 16-cell confusion counts of the deterministic
    4-class actual/predicted panel shared by ml_eval_macro_f1 and
    ml_eval_mcc_multiclass."""
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    ev = load_table(spark, sf_dir, "events")
    labeled = ev.select(
        (det_hash("event_id") % 4).cast("long").alias("y"),
        (det_hash((F.col("event_id") % 1000003) * 13 + 5) % 20)
        .cast("long")
        .alias("flip"),
        (det_hash((F.col("event_id") % 1000003) * 31 + 11) % 4)
        .cast("long")
        .alias("alt"),
    )
    return (
        labeled.select(
            "y",
            F.when(F.col("flip") < 13, F.col("y"))
            .otherwise(F.col("alt"))
            .alias("p"),
        )
        .groupBy("y", "p")
        .agg(F.count(F.lit(1)).cast("long").alias("n_cell"))
    )


@register("ml_eval_macro_f1", oracle=_MACRO_F1_ORACLE)
def ml_eval_macro_f1(spark, sf_dir):
    """Multi-class classification report: per-class TP/FP/FN and F1,
    macro-F1 (unweighted class mean) and micro-F1 (= accuracy in
    single-label multi-class) over a deterministic 4-class
    actual/predicted panel. See the section comment.

    Scale shape: scan -> 16-row confusion hash agg -> fixed-width
    single-row arithmetic. Nothing downstream of the agg depends on
    data size."""
    cells = _confusion4_cells(spark, sf_dir)
    aggs = [
        F.sum("n_cell").cast("long").alias("n_items"),
        F.sum(F.when(F.col("y") == F.col("p"), F.col("n_cell")).otherwise(0))
        .cast("long")
        .alias("n_correct"),
    ]
    for c in range(4):
        aggs += [
            F.sum(
                F.when(
                    (F.col("y") == c) & (F.col("p") == c), F.col("n_cell")
                ).otherwise(0)
            )
            .cast("long")
            .alias(f"tp{c}"),
            F.sum(
                F.when(
                    (F.col("y") != c) & (F.col("p") == c), F.col("n_cell")
                ).otherwise(0)
            )
            .cast("long")
            .alias(f"fp{c}"),
            F.sum(
                F.when(
                    (F.col("y") == c) & (F.col("p") != c), F.col("n_cell")
                ).otherwise(0)
            )
            .cast("long")
            .alias(f"fn{c}"),
        ]
    per = cells.agg(*aggs)
    f1 = {
        c: (2 * F.col(f"tp{c}")).cast("double")
        / (2 * F.col(f"tp{c}") + F.col(f"fp{c}") + F.col(f"fn{c}"))
        for c in range(4)
    }
    f = per.select("*", *[f1[c].alias(f"f1_{c}") for c in range(4)])
    out_cols = ["n_items", "n_correct"]
    for c in range(4):
        out_cols += [f"tp{c}", f"fp{c}", f"fn{c}", f"f1_{c}"]
    macro = (
        ((F.col("f1_0") + F.col("f1_1")) + F.col("f1_2")) + F.col("f1_3")
    ) / 4.0
    return f.select(
        *out_cols,
        macro.alias("macro_f1"),
        (F.col("n_correct").cast("double") / F.col("n_items")).alias(
            "micro_f1"
        ),
    )


# ---------------------------------------------------------------------------
# Rank-biased overlap: top-weighted similarity of two rankings
# ---------------------------------------------------------------------------
# Webber/Moffat/Zobel (TOIS 2010): RBO compares two ranked lists with
# geometrically decaying depth weights — the standard "how much did the
# ranking change" number for search/feed/recsys regression dashboards,
# robust to the lists being indefinite and non-conjoint (unlike
# Kendall/Spearman, which need both lists to rank the SAME item set).
#   RBO_trunc(p, D) = (1-p)/p * sum_{d=1..D} p^d * |A_d ∩ B_d| / d
# with A_d/B_d the depth-d prefixes. Rankings under audit: users by
# total click cents vs users by total view cents (tie-break user_id),
# truncated at D = 50, p = 0.9. Every per-depth weight is a Python
# double literal embedded in BOTH engines' plans; the overlap counts
# X_d are exact BIGINTs (X_d = #{common users with max(rankA, rankB)
# <= d}); the weighted sum is a fixed left-to-right 50-term
# expression — no order-dependent reduction anywhere. rbo_ext adds the
# standard residual extrapolation p^D * X_D / D.

_RBO_P = 0.9
_RBO_D = 50
_RBO_W = [
    (1.0 - _RBO_P) / _RBO_P * _RBO_P ** d / d for d in range(1, _RBO_D + 1)
]
_RBO_PD = _RBO_P ** _RBO_D

_RBO_XS_SQL = ", ".join(
    f"CAST(sum(CASE WHEN m <= {d} THEN 1 ELSE 0 END) AS BIGINT) AS x{d}"
    for d in range(1, _RBO_D + 1)
)
# CAST each weight literal to DOUBLE: DuckDB parses a bare decimal
# literal as DECIMAL and would carry exact decimal*BIGINT per-term
# arithmetic where Spark does double*long — a 1-ulp class divergence.
_RBO_SUM_SQL = " + ".join(
    f"CAST({w!r} AS DOUBLE) * x{d}"
    for d, w in zip(range(1, _RBO_D + 1), _RBO_W)
)

_RBO_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'click'
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN event_type = 'view'
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS cb
  FROM events GROUP BY 1
),
ra AS (
  SELECT user_id, row_number() OVER (ORDER BY ca DESC, user_id) AS r
  FROM u QUALIFY r <= {_RBO_D}
),
rb AS (
  SELECT user_id, row_number() OVER (ORDER BY cb DESC, user_id) AS r
  FROM u QUALIFY r <= {_RBO_D}
),
j AS (
  SELECT greatest(ra.r, rb.r) AS m
  FROM ra JOIN rb USING (user_id)
),
xs AS (SELECT {_RBO_XS_SQL} FROM j)
SELECT CAST({_RBO_D} AS BIGINT) AS depth,
       x{_RBO_D} AS n_common,
       CAST(x{_RBO_D} AS DOUBLE) / {_RBO_D} AS overlap_at_d,
       {_RBO_SUM_SQL} AS rbo_trunc,
       ({_RBO_SUM_SQL}) + CAST({_RBO_PD!r} AS DOUBLE) * x{_RBO_D}
         / CAST({float(_RBO_D)!r} AS DOUBLE) AS rbo_ext
FROM xs
"""


@register("ml_eval_rbo_rankings", oracle=_RBO_ORACLE)
def ml_eval_rbo_rankings(spark, sf_dir):
    """Rank-biased overlap (p=0.9, depth 50) between the click-revenue
    and view-revenue user rankings — the top-weighted list-similarity
    metric for ranking-regression dashboards. See the section comment
    for the exactness argument (literal weights, integer overlaps,
    fixed-order 50-term sum).

    Scale shape: one hash agg to per-user cents; each ranking is
    orderBy+limit(D) — TakeOrderedAndProject, partial top-D per
    partition, never a full sort — with the rank window running over
    the <= D surviving rows (the task1_dictionary W1/W3 pattern); then
    a D^2-free overlap count via max(rank) bucketing and a
    driver-sized final row."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", cents).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("event_type") == "view", cents).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    # one fact agg feeds both rankings — persist the entity relation
    u = pin(u)

    def top_rank(col: str, out: str):
        # TakeOrderedAndProject + rank window over <= D rows
        w = Window.orderBy(F.desc(col), F.asc("user_id"))
        return (
            u.orderBy(F.desc(col), F.asc("user_id"))
            .limit(_RBO_D)
            .withColumn(out, F.row_number().over(w).cast("long"))
            .select("user_id", out)
        )

    ra = top_rank("ca", "ra")
    rb = top_rank("cb", "rb")
    j = ra.join(rb, "user_id").select(
        F.greatest(F.col("ra"), F.col("rb")).alias("m")
    )
    xs = j.agg(
        *[
            F.sum(F.when(F.col("m") <= d, 1).otherwise(0))
            .cast("long")
            .alias(f"x{d}")
            for d in range(1, _RBO_D + 1)
        ]
    )
    rbo = None
    for d, w in zip(range(1, _RBO_D + 1), _RBO_W):
        term = F.lit(w) * F.col(f"x{d}")
        rbo = term if rbo is None else rbo + term
    xd = F.col(f"x{_RBO_D}")
    return xs.select(
        F.lit(_RBO_D).cast("long").alias("depth"),
        xd.alias("n_common"),
        (xd.cast("double") / _RBO_D).alias("overlap_at_d"),
        rbo.alias("rbo_trunc"),
        (rbo + F.lit(_RBO_PD) * xd / F.lit(float(_RBO_D))).alias("rbo_ext"),
    )


# ---------------------------------------------------------------------------
# Multi-class Matthews correlation (Gorodkin R_K)
# ---------------------------------------------------------------------------
# The single-number summary of the ml_eval_macro_f1 confusion matrix
# that stays honest under class imbalance (macro-F1 does not):
#   R_K = (c*s - sum_k t_k p_k)
#           / (sqrt(s^2 - sum_k p_k^2) * sqrt(s^2 - sum_k t_k^2))
# with c = total correct, s = total items, t_k / p_k the true /
# predicted class-k counts (Gorodkin 2004, reducing to binary MCC at
# K=2). Same deterministic 4-class panel as ml_eval_macro_f1, so the
# two reports are directly comparable. All sums are exact DECIMAL
# integers from the 16-row confusion matrix; R_K is one fixed double
# expression (two sqrts, one division).

_MCC_ORACLE = f"""
WITH {_CONFUSION4_CELLS_CTES},
t AS (SELECT y AS k, CAST(sum(n_cell) AS BIGINT) AS t_k FROM cells GROUP BY 1),
pr AS (SELECT p AS k, CAST(sum(n_cell) AS BIGINT) AS p_k FROM cells GROUP BY 1),
tot AS (
  SELECT CAST(sum(n_cell) AS BIGINT) AS s,
         CAST(sum(CASE WHEN y = p THEN n_cell ELSE 0 END) AS BIGINT) AS c
  FROM cells
),
cross_m AS (
  SELECT CAST(sum(CAST(t.t_k AS DECIMAL(18,0)) * pr.p_k) AS DECIMAL(38,0))
           AS sum_tp,
         CAST(sum(CAST(pr.p_k AS DECIMAL(18,0)) * pr.p_k) AS DECIMAL(38,0))
           AS sum_pp,
         CAST(sum(CAST(t.t_k AS DECIMAL(18,0)) * t.t_k) AS DECIMAL(38,0))
           AS sum_tt
  FROM t JOIN pr USING (k)
)
SELECT s, c,
       CAST(CAST(c AS DECIMAL(18,0)) * s - sum_tp AS DOUBLE)
         / (sqrt(CAST(CAST(s AS DECIMAL(18,0)) * s - sum_pp AS DOUBLE))
            * sqrt(CAST(CAST(s AS DECIMAL(18,0)) * s - sum_tt AS DOUBLE)))
         AS mcc
FROM tot, cross_m
"""


@register("ml_eval_mcc_multiclass", oracle=_MCC_ORACLE)
def ml_eval_mcc_multiclass(spark, sf_dir):
    """Gorodkin's multi-class Matthews correlation R_K over the
    ml_eval_macro_f1 4-class panel — the imbalance-honest single
    number next to that query's per-class report. See the section
    comment for the exact-moment construction.

    Scale shape: scan -> 16-row confusion hash agg; marginals and
    the K-term products are driver-tiny."""
    cells = _confusion4_cells(spark, sf_dir)
    cells = pin(cells)
    t = cells.groupBy(F.col("y").alias("k")).agg(
        F.sum("n_cell").cast("long").alias("t_k")
    )
    pr = cells.groupBy(F.col("p").alias("k")).agg(
        F.sum("n_cell").cast("long").alias("p_k")
    )
    dec = "decimal(18,0)"
    cross_m = t.join(pr, "k").agg(
        F.sum(F.col("t_k").cast(dec) * F.col("p_k"))
        .cast("decimal(38,0)")
        .alias("sum_tp"),
        F.sum(F.col("p_k").cast(dec) * F.col("p_k"))
        .cast("decimal(38,0)")
        .alias("sum_pp"),
        F.sum(F.col("t_k").cast(dec) * F.col("t_k"))
        .cast("decimal(38,0)")
        .alias("sum_tt"),
    )
    tot = cells.agg(
        F.sum("n_cell").cast("long").alias("s"),
        F.sum(F.when(F.col("y") == F.col("p"), F.col("n_cell")).otherwise(0))
        .cast("long")
        .alias("c"),
    )
    sd = F.col("s").cast(dec)
    cd = F.col("c").cast(dec)
    return tot.crossJoin(F.broadcast(cross_m)).select(
        "s",
        "c",
        (
            (cd * F.col("s") - F.col("sum_tp")).cast("double")
            / (
                F.sqrt((sd * F.col("s") - F.col("sum_pp")).cast("double"))
                * F.sqrt((sd * F.col("s") - F.col("sum_tt")).cast("double"))
            )
        ).alias("mcc"),
    )
