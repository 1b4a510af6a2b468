"""ML evaluation metrics: exact AUC via rank-sum on the hierarchical
ordered_scan, decile gains/lift via global_ntile, NDCG, calibration /
ECE bins, Cohen's kappa, fairness gaps, conformal thresholds, IPS /
SNIPS off-policy value, and pass@k. Feature-prep, embedding-QA and
paired-test families split into features_queries / embedding_queries /
mleval_paired_queries (round 10)."""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators.ranks import pin
from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table
from wikipedia_data_pipeline_spark.operators.sampling import SQL_DET_HASH


@register(
    "ml_eval_auc_events",
    oracle=f"""
WITH scored AS (
  SELECT event_id, value AS score,
         CAST(({SQL_DET_HASH.format(col="user_id")}) % 2 AS BIGINT) AS label
  FROM events
),
rk AS (
  SELECT label,
         row_number() OVER (ORDER BY score, event_id) AS r
  FROM scored
),
s AS (
  SELECT CAST(sum(CASE WHEN label = 1 THEN r ELSE 0 END) AS BIGINT) AS rpos,
         CAST(sum(label) AS BIGINT) AS n_pos,
         CAST(count(*) - sum(label) AS BIGINT) AS n_neg
  FROM rk
),
topk AS (
  SELECT CAST(sum(label) AS BIGINT) AS hits
  FROM (SELECT label FROM scored ORDER BY score DESC, event_id LIMIT 100) q
)
SELECT s.n_pos, s.n_neg,
       CAST(s.rpos - s.n_pos * (s.n_pos + 1) // 2 AS DOUBLE)
         / (s.n_pos * s.n_neg) AS auc,
       CAST(topk.hits AS DOUBLE) / 100 AS precision_at_100
FROM s, topk
""",
)
def ml_eval_auc_events(spark, sf_dir):
    """Exact large-scale model-evaluation metrics — the audit a quality
    classifier over a 100 TB corpus needs without sampling: AUC from
    the Mann-Whitney rank-sum identity (positives' global rank sum,
    ranks via the hierarchical ordered_scan — no single-partition sort
    of the score column) and precision@100 via TakeOrderedAndProject.
    Scores are the event values, labels a deterministic hash parity
    (so AUC ≈ 0.5 by construction — it's the machinery under audit,
    not the model). Ties resolved by the (score, event_id) total
    order, making every rank — and therefore the statistic — integer-
    exact and bit-identical in both engines. The n_pos(n_pos+1)/2
    correction is computed with exact integer division (ranks.py's idiv
    discipline; DuckDB `//`) BEFORE the double cast — rpos and the
    triangular term individually exceed 2^53 near 1e8 rows, so only the
    difference (bounded by n_pos*n_neg) may safely become a double."""
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    scored = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("value").alias("score"),
        (det_hash("user_id") % 2).cast("long").alias("label"),
    )
    rk = ordered_scan(scored, ["score", "event_id"], rank_col="r")
    s = rk.agg(
        F.sum(F.when(F.col("label") == 1, F.col("r")).otherwise(0))
        .cast("long")
        .alias("rpos"),
        F.sum("label").cast("long").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("label")).cast("long").alias("n_neg"),
    )
    topk = (
        scored.orderBy(F.desc("score"), F.asc("event_id"))
        .limit(100)
        .agg(F.sum("label").cast("long").alias("hits"))
    )
    # exact triangular number: n_pos*(n_pos+1) is always even, so the
    # idiv (via DECIMAL(38,0), like ranks.global_ntile) is lossless;
    # the rpos - tri difference is <= n_pos*n_neg, double-safe.
    prod = F.col("n_pos") * (F.col("n_pos") + 1)
    tri = ((prod - prod % 2).cast("decimal(38,0)") / 2).cast("long")
    return (
        s.crossJoin(F.broadcast(topk))
        .select(
            "n_pos",
            "n_neg",
            (
                (F.col("rpos") - tri).cast("double")
                / (F.col("n_pos") * F.col("n_neg")).cast("double")
            ).alias("auc"),
            (F.col("hits").cast("double") / 100).alias("precision_at_100"),
        )
    )


@register(
    "ml_eval_gains_table",
    oracle=f"""
WITH scored AS (
  SELECT event_id, value AS score,
         CAST(({SQL_DET_HASH.format(col="user_id")}) % 2 AS BIGINT) AS label
  FROM events
),
deciled AS (
  SELECT label,
         ntile(10) OVER (ORDER BY score DESC, event_id) AS decile
  FROM scored
),
per AS (
  SELECT decile, count(*) AS n, CAST(sum(label) AS BIGINT) AS n_pos
  FROM deciled GROUP BY decile
),
tot AS (SELECT sum(n) AS nn, sum(n_pos) AS np FROM per)
SELECT p.decile, CAST(p.n AS BIGINT) AS n, p.n_pos,
       CAST(sum(p.n_pos) OVER (ORDER BY p.decile
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_pos,
       CAST(sum(p.n_pos) OVER (ORDER BY p.decile ROWS UNBOUNDED PRECEDING)
            AS DOUBLE) / t.np AS gain,
       (CAST(p.n_pos AS DOUBLE) / p.n)
         / (CAST(t.np AS DOUBLE) / t.nn) AS lift
FROM per p, tot t
""",
)
def ml_eval_gains_table(spark, sf_dir):
    """Decile gains/lift table for a score column — the campaign-
    targeting companion to ml_eval_auc_events: rows ranked by score
    fall into 10 equal tiles via global_ntile (the hierarchical NTILE —
    no single-partition window over the scored corpus), then per-tile
    capture and lift are pure integer/count arithmetic. The cumulative
    window runs over the 10-row decile relation. Hash-parity labels
    again: the machinery is under audit, so gain≈decile/10 and lift≈1
    are the expected fixed points."""
    from wikipedia_data_pipeline_spark.operators.ranks import global_ntile
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash
    from pyspark.sql import Window

    scored = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("value").alias("score"),
        (det_hash("user_id") % 2).cast("long").alias("label"),
    )
    deciled = global_ntile(
        scored, [F.desc("score"), F.asc("event_id")], 10, "decile"
    )
    per = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("label").cast("long").alias("n_pos"),
    )
    tot = per.agg(
        F.sum("n").alias("nn"), F.sum("n_pos").alias("np")
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .withColumn("cum_pos", F.sum("n_pos").over(w).cast("long"))
        .select(
            "decile",
            "n",
            "n_pos",
            "cum_pos",
            (F.col("cum_pos").cast("double") / F.col("np")).alias("gain"),
            (
                (F.col("n_pos").cast("double") / F.col("n"))
                / (F.col("np").cast("double") / F.col("nn"))
            ).alias("lift"),
        )
    )


# --- Exact ranking evaluation: NDCG@10 (round 7) ------------------------
#
# Discount table 1/log2(i+1) for positions 1..10, frozen as shortest
# round-trip double literals so BOTH engines parse the identical IEEE
# values — transcendentals never cross engines unrounded (the
# quantize-once discipline of events_kl_user_vs_global, here
# degenerating to ten compile-time constants).

_NDCG_K = 10
_NDCG_DISC = [
    1.0, 0.6309297535714575, 0.5, 0.43067655807339306,
    0.38685280723454163, 0.3562071871080222, 0.3333333333333333,
    0.31546487678572877, 0.3010299956639812, 0.2890648263178879,
]
_SQL_DISC = "CASE rnk " + " ".join(
    f"WHEN {i + 1} THEN {d!r}" for i, d in enumerate(_NDCG_DISC)
) + " END"


@register(
    "ml_eval_ndcg_events",
    oracle=f"""
WITH scored AS (
  SELECT user_id, event_id, value AS score,
         CAST(({SQL_DET_HASH.format(col="event_id")}) % 3 AS BIGINT) AS rel
  FROM events
),
by_score AS (
  SELECT user_id, rel,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY score DESC, event_id) AS rnk
  FROM scored
),
dcg AS (
  SELECT user_id,
         CAST(sum(CAST(round(rel * ({_SQL_DISC}) * 1000000000) AS BIGINT))
              AS BIGINT) AS dcg_q
  FROM by_score WHERE rnk <= {_NDCG_K} GROUP BY user_id
),
by_rel AS (
  SELECT user_id, rel,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY rel DESC, event_id) AS rnk
  FROM scored
),
idcg AS (
  SELECT user_id,
         CAST(sum(CAST(round(rel * ({_SQL_DISC}) * 1000000000) AS BIGINT))
              AS BIGINT) AS idcg_q
  FROM by_rel WHERE rnk <= {_NDCG_K} GROUP BY user_id
),
per_user AS (
  SELECT dcg.user_id,
         CAST(round(CAST(dcg_q AS DOUBLE) / idcg_q * 1000000000) AS BIGINT)
           AS ndcg_q
  FROM dcg JOIN idcg ON dcg.user_id = idcg.user_id
  WHERE idcg_q > 0
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(CAST(sum(ndcg_q) AS BIGINT) AS DOUBLE) / count(*) / 1000000000
         AS mean_ndcg_at_10
FROM per_user
""",
)
def ml_eval_ndcg_events(spark, sf_dir):
    """Exact NDCG@10 — the ranking metric that completes the
    model-evaluation family (AUC: ml_eval_auc_events; gains/lift:
    ml_eval_gains_table): per user, events ranked by score with graded
    hash relevance (0/1/2), DCG against the per-user ideal ordering.
    Exactness: each rel*discount term is quantized once to nano-units
    and summed as BIGINT (per-user sums are order-free), the per-user
    NDCG ratio re-quantized before the corpus mean — so the one output
    double is bit-identical in both engines despite ten transcendental
    constants and two divisions. Scale: two user-partitioned top-10
    windows (user-sized groups, fully parallel) + one user-keyed join;
    nothing global but the final 1-row mean."""
    from pyspark.sql import Window

    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    k = _NDCG_K
    disc = F.element_at(
        F.array(*[F.lit(d) for d in _NDCG_DISC]), F.col("rnk").cast("int")
    )
    term = F.round(F.col("rel") * disc * 1_000_000_000).cast("long")
    scored = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("value").alias("score"),
        (det_hash("event_id") % 3).cast("long").alias("rel"),
    )
    w_score = Window.partitionBy("user_id").orderBy(
        F.desc("score"), F.asc("event_id")
    )
    dcg = (
        scored.withColumn("rnk", F.row_number().over(w_score))
        .filter(F.col("rnk") <= k)
        .groupBy("user_id")
        .agg(F.sum(term).cast("long").alias("dcg_q"))
    )
    w_rel = Window.partitionBy("user_id").orderBy(
        F.desc("rel"), F.asc("event_id")
    )
    idcg = (
        scored.withColumn("rnk", F.row_number().over(w_rel))
        .filter(F.col("rnk") <= k)
        .groupBy("user_id")
        .agg(F.sum(term).cast("long").alias("idcg_q"))
    )
    per_user = (
        dcg.join(idcg, "user_id")
        .filter(F.col("idcg_q") > 0)
        .select(
            F.round(
                F.col("dcg_q").cast("double")
                / F.col("idcg_q")
                * 1_000_000_000
            )
            .cast("long")
            .alias("ndcg_q")
        )
    )
    return per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        (
            F.sum("ndcg_q").cast("double")
            / F.count(F.lit(1))
            / 1_000_000_000
        ).alias("mean_ndcg_at_10"),
    )



# The min-max 10-bin layout of a micro-unit score (events.value) against
# a hash-parity label (det_hash(user_id) % 2), shared by
# ml_eval_calibration_bins and ml_eval_brier_decomposition
# (mleval_paired_queries). The bin id is integer arithmetic against the
# global [lo, hi] range, so no float boundary can flip a row.
SCORE_BINS_CTES = f"""
ev AS (
  SELECT CAST(round(value * 1000000) AS BIGINT) AS v_u,
         CAST(({SQL_DET_HASH.format(col="user_id")}) % 2 AS BIGINT) AS label
  FROM events
),
rng AS (
  SELECT CAST(min(v_u) AS BIGINT) AS lo, CAST(max(v_u) AS BIGINT) AS hi
  FROM ev
),
binned AS (
  SELECT least(9, ((ev.v_u - rng.lo) * 10) // (rng.hi - rng.lo + 1)) AS bin,
         ev.v_u - rng.lo AS dv, ev.label, rng.hi - rng.lo AS rng_w
  FROM ev, rng
)"""


def score_bins(spark, sf_dir):
    """(bin, dv, label, rng_w) per event: the Spark side of
    ``SCORE_BINS_CTES``."""
    from wikipedia_data_pipeline_spark.functions import cents_units
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    ev = load_table(spark, sf_dir, "events").select(
        cents_units("value").alias("v_u"),
        (det_hash("user_id") % 2).cast("long").alias("label"),
    )
    rng = ev.agg(
        F.min("v_u").cast("long").alias("lo"),
        F.max("v_u").cast("long").alias("hi"),
    )
    return ev.crossJoin(F.broadcast(rng)).select(
        F.least(
            F.lit(9).cast("long"),
            F.expr("((v_u - lo) * 10) div (hi - lo + 1)"),
        ).alias("bin"),
        (F.col("v_u") - F.col("lo")).alias("dv"),
        "label",
        (F.col("hi") - F.col("lo")).alias("rng_w"),
    )


# Two deterministic pseudo-raters over events, shared by
# ml_eval_rater_kappa and ml_eval_weighted_kappa (mleval_paired_queries):
# rater 1 labels by event-id hash into 3 classes; rater 2 copies rater 1
# on ~70% of items and re-draws from a third stream otherwise. The 3x3
# confusion cells and both raters' marginals.
RATED2_CELLS_CTES = f"""
rated AS (
  SELECT CAST(({SQL_DET_HASH.format(col="event_id")}) % 3 AS BIGINT) AS r1,
         CAST(({SQL_DET_HASH.format(col="((event_id % 1000003) * 13 + 5)")}) % 10 AS BIGINT) AS flip,
         CAST(({SQL_DET_HASH.format(col="((event_id % 1000003) * 31 + 11)")}) % 3 AS BIGINT) AS alt
  FROM events
),
cells AS (
  SELECT r1, CASE WHEN flip < 7 THEN r1 ELSE alt END AS r2,
         CAST(count(*) AS BIGINT) AS n_cell
  FROM rated GROUP BY 1, 2
),
m1 AS (SELECT r1 AS k, CAST(sum(n_cell) AS BIGINT) AS n1 FROM cells GROUP BY 1),
m2 AS (SELECT r2 AS k, CAST(sum(n_cell) AS BIGINT) AS n2 FROM cells GROUP BY 1)"""


def rated2_cells(spark, sf_dir):
    """(r1, r2, n_cell): the Spark side of the ``cells`` CTE in
    ``RATED2_CELLS_CTES``, pinned: every caller reads the 9-row matrix
    from several branches (marginals, chance product, agreement), so
    the fact agg runs once, not per branch."""
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    ev = load_table(spark, sf_dir, "events")
    rated = ev.select(
        (det_hash("event_id") % 3).cast("long").alias("r1"),
        (det_hash((F.col("event_id") % 1000003) * 13 + 5) % 10)
        .cast("long")
        .alias("flip"),
        (det_hash((F.col("event_id") % 1000003) * 31 + 11) % 3)
        .cast("long")
        .alias("alt"),
    )
    cells = (
        rated.select(
            "r1",
            F.when(F.col("flip") < 7, F.col("r1"))
            .otherwise(F.col("alt"))
            .alias("r2"),
        )
        .groupBy("r1", "r2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_cell"))
    )
    return pin(cells)


@register(
    "ml_eval_calibration_bins",
    oracle=f"""
WITH {SCORE_BINS_CTES},
per AS (
  SELECT bin, CAST(max(rng_w) AS BIGINT) AS rng_w,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(label) AS BIGINT) AS n_pos,
         CAST(sum(dv) AS BIGINT) AS sum_dv
  FROM binned GROUP BY bin
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM per)
SELECT bin, n, n_pos,
       CAST(n_pos AS DOUBLE) / n AS mean_label,
       CAST(sum_dv AS DOUBLE) / n / rng_w AS mean_score,
       abs(CAST(n_pos AS DOUBLE) / n
           - CAST(sum_dv AS DOUBLE) / n / rng_w)
         * CAST(n AS DOUBLE) / CAST(t.nn AS DOUBLE) AS ece_term
FROM per, tot t
ORDER BY bin
""",
)
def ml_eval_calibration_bins(spark, sf_dir):
    """Reliability table + Expected-Calibration-Error terms for a score
    column — the companion to ml_eval_auc_events/gains_table that asks
    not "does the score RANK well" but "does it mean what it says":
    per fixed-width score bin, mean predicted score vs observed
    positive rate, and the bin's |gap|·n/N contribution to ECE.

    Exactness: the score is quantized to integer micro-units
    (functions.cents_units' quantum — events.value is cent-quantized),
    the bin id is pure integer arithmetic against the broadcast global
    [lo, hi] range (least(9, (v-lo)*10 div (hi-lo+1)) — no float
    boundary can flip a row), and every per-bin statistic is an exact
    BIGINT sum; mean/ECE doubles come from single divisions of exact
    integers in a fixed order, so both engines emit identical bits.
    Hash-parity labels (the det_hash machinery under audit): mean_label
    ~= 0.5 per bin and ECE picks up |mean_score - 0.5| by construction.

    Scale shape: one scan -> hash agg to <=10 rows + one broadcast
    1-row range; sum_dv stays exact below 2^63 up to ~1.8e10 rows of
    full-range micro-unit scores (same 2^53-class bound family as
    cents_sum, documented there)."""
    binned = score_bins(spark, sf_dir)
    per = binned.groupBy("bin").agg(
        F.max("rng_w").cast("long").alias("rng_w"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("label").cast("long").alias("n_pos"),
        F.sum("dv").cast("long").alias("sum_dv"),
    )
    # <=10 rows consumed by two branches (total + final) — persist so
    # the fact agg above runs once, not per branch

    per = pin(per)
    tot = per.agg(F.sum("n").cast("long").alias("nn"))
    mean_label = F.col("n_pos").cast("double") / F.col("n")
    mean_score = (
        F.col("sum_dv").cast("double") / F.col("n") / F.col("rng_w")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n",
            "n_pos",
            mean_label.alias("mean_label"),
            mean_score.alias("mean_score"),
            (
                F.abs(mean_label - mean_score)
                * F.col("n").cast("double")
                / F.col("nn").cast("double")
            ).alias("ece_term"),
        )
        .orderBy("bin")
    )


@register(
    "ml_eval_rater_kappa",
    oracle=f"""
WITH {RATED2_CELLS_CTES},
s AS (
  SELECT CAST(sum(CAST(m1.n1 AS DECIMAL(18,0)) * CAST(m2.n2 AS DECIMAL(18,0)))
              AS DECIMAL(38,0)) AS chance
  FROM m1 JOIN m2 USING (k)
),
t AS (
  SELECT CAST(sum(n_cell) AS BIGINT) AS n_items,
         CAST(sum(CASE WHEN r1 = r2 THEN n_cell ELSE 0 END) AS BIGINT) AS agree
  FROM cells
)
SELECT n_items,
       CAST(agree AS DOUBLE) / n_items AS observed_agreement,
       CAST(chance AS DOUBLE) / n_items / n_items AS expected_agreement,
       CAST(CAST(n_items AS DECIMAL(18,0)) * CAST(agree AS DECIMAL(18,0))
            - chance AS DOUBLE)
         / CAST(CAST(n_items AS DECIMAL(18,0)) * CAST(n_items AS DECIMAL(18,0))
                - chance AS DOUBLE) AS kappa
FROM t, s
""",
)
def ml_eval_rater_kappa(spark, sf_dir):
    """Cohen's kappa inter-rater agreement — the label-QA statistic for
    human/model annotation pipelines (does rater agreement beat the
    agreement their marginal label rates would produce by chance?).
    Two deterministic pseudo-raters over events: rater 1 labels by
    event-id hash into 3 classes; rater 2 copies rater 1 on ~70% of
    items (second hash stream) and re-draws from a third stream
    otherwise — expected kappa ~= 0.7 - 0.3/3 chance-corrected, a
    non-trivial fixed point that breaks if any hash stream drifts.

    Exactness: the 3x3 confusion matrix is exact BIGINT counts from
    ONE hash aggregate of the fact table; kappa's textbook
    (po - pe)/(1 - pe) is algebraically cleared of early divisions to
    (N*agree - sum_k n1_k*n2_k) / (N^2 - sum_k n1_k*n2_k) — both sides
    exact DECIMAL integers (products via DECIMAL(18,0) operands, big
    enough for N ~ 9e17) — so the single final double division is
    bit-identical across engines; po/pe doubles likewise come from
    fixed-order divisions of exact integers.

    Scale shape: scan -> 9-row hash agg; marginals/products are
    driver-tiny. The hash arguments are pre-reduced mod 1000003 before
    the *13/*31 stretches so the key expression can't overflow BIGINT
    at any event_id (DuckDB errors on overflow where the JVM wraps)."""
    cells = rated2_cells(spark, sf_dir)
    m1 = cells.groupBy(F.col("r1").alias("k")).agg(
        F.sum("n_cell").cast("long").alias("n1")
    )
    m2 = cells.groupBy(F.col("r2").alias("k")).agg(
        F.sum("n_cell").cast("long").alias("n2")
    )
    dec = "decimal(18,0)"
    s = (
        m1.join(m2, "k")
        .agg(
            F.sum(F.col("n1").cast(dec) * F.col("n2").cast(dec))
            .cast("decimal(38,0)")
            .alias("chance")
        )
    )
    t = cells.agg(
        F.sum("n_cell").cast("long").alias("n_items"),
        F.sum(F.when(F.col("r1") == F.col("r2"), F.col("n_cell")).otherwise(0))
        .cast("long")
        .alias("agree"),
    )
    n_dec = F.col("n_items").cast(dec)
    return t.crossJoin(F.broadcast(s)).select(
        "n_items",
        (F.col("agree").cast("double") / F.col("n_items")).alias(
            "observed_agreement"
        ),
        (
            F.col("chance").cast("double")
            / F.col("n_items")
            / F.col("n_items")
        ).alias("expected_agreement"),
        (
            (n_dec * F.col("agree").cast(dec) - F.col("chance")).cast(
                "double"
            )
            / (n_dec * n_dec - F.col("chance")).cast("double")
        ).alias("kappa"),
    )


@register(
    "ml_eval_fairness_gaps",
    oracle=f"""
WITH scored AS (
  SELECT CAST(({SQL_DET_HASH.format(col="((user_id % 1000003) * 17 + 3)")}) % 2 AS BIGINT) AS grp,
         CAST(({SQL_DET_HASH.format(col="user_id")}) % 2 AS BIGINT) AS label,
         CASE WHEN CAST(round(value * 1000000) AS BIGINT) >= 25000000
              THEN 1 ELSE 0 END AS yhat
  FROM events
),
per AS (
  SELECT grp,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN label = 1 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN label = 0 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN label = 0 AND yhat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         CAST(sum(CASE WHEN label = 1 AND yhat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM scored GROUP BY grp
)
SELECT grp, n, tp, fp, tn, fn,
       CAST(tp AS DOUBLE) / (tp + fn) AS tpr,
       CAST(fp AS DOUBLE) / (fp + tn) AS fpr,
       CAST(tp + fp AS DOUBLE) / n AS positive_rate
FROM per
ORDER BY grp
""",
)
def ml_eval_fairness_gaps(spark, sf_dir):
    """Group-fairness audit of a thresholded classifier — per protected
    group, the exact confusion matrix and the three rates behind the
    standard criteria: positive_rate (demographic parity), tpr/fpr
    (equalized odds). Group and label come from INDEPENDENT hash
    streams over user_id (different affine stretches of the reduced
    key, the ml_eval_rater_kappa discipline) and the prediction is a
    fixed micro-unit threshold (value >= 25.0) — so near-zero gaps
    between the two group rows are the designed fixed point, and any
    drift flags the hash or threshold plumbing, not the users.

    Exactness: counts are one hash aggregate of exact BIGINTs; the
    rates are single fixed-order divisions of those integers — both
    engines emit identical bits. Scale: scan -> 2-row agg, nothing
    else."""
    from wikipedia_data_pipeline_spark.functions import cents_units
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    scored = load_table(spark, sf_dir, "events").select(
        (det_hash((F.col("user_id") % 1000003) * 17 + 3) % 2)
        .cast("long")
        .alias("grp"),
        (det_hash("user_id") % 2).cast("long").alias("label"),
        F.when(cents_units("value") >= 25_000_000, F.lit(1))
        .otherwise(F.lit(0))
        .alias("yhat"),
    )
    agree = lambda l, y: F.sum(  # noqa: E731
        F.when((F.col("label") == l) & (F.col("yhat") == y), 1).otherwise(0)
    ).cast("long")
    per = scored.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        agree(1, 1).alias("tp"),
        agree(0, 1).alias("fp"),
        agree(0, 0).alias("tn"),
        agree(1, 0).alias("fn"),
    )
    return per.select(
        "grp",
        "n",
        "tp",
        "fp",
        "tn",
        "fn",
        (
            F.col("tp").cast("double") / (F.col("tp") + F.col("fn"))
        ).alias("tpr"),
        (
            F.col("fp").cast("double") / (F.col("fp") + F.col("tn"))
        ).alias("fpr"),
        ((F.col("tp") + F.col("fp")).cast("double") / F.col("n")).alias(
            "positive_rate"
        ),
    ).orderBy("grp")


@register(
    "ml_eval_conformal_threshold",
    oracle=f"""
WITH ev AS (
  SELECT event_id,
         CAST(round(value * 1000000) AS BIGINT) AS v_u,
         CAST(({SQL_DET_HASH.format(col="user_id")}) % 2 AS BIGINT) AS label,
         CAST(({SQL_DET_HASH.format(col="((event_id % 1000003) * 7 + 1)")}) % 2 AS BIGINT) AS split
  FROM events
),
rng AS (
  SELECT CAST(min(v_u) AS BIGINT) AS lo, CAST(max(v_u) AS BIGINT) AS hi FROM ev
),
scored AS (
  SELECT ev.event_id, ev.split,
         CASE WHEN ev.label = 1 THEN rng.hi - ev.v_u
              ELSE ev.v_u - rng.lo END AS a_u
  FROM ev, rng
),
cal AS (
  SELECT a_u, event_id,
         row_number() OVER (ORDER BY a_u, event_id) AS rnk,
         count(*) OVER () AS n_cal
  FROM scored WHERE split = 0
),
sel AS (
  SELECT a_u AS q_u, CAST(n_cal AS BIGINT) AS n_cal
  FROM cal WHERE rnk = (9 * n_cal + 9) // 10
),
evl AS (
  SELECT CAST(count(*) AS BIGINT) AS n_eval,
         CAST(sum(CASE WHEN s.a_u <= sel.q_u THEN 1 ELSE 0 END) AS BIGINT)
           AS n_covered
  FROM scored s, sel WHERE s.split = 1
)
SELECT sel.n_cal, e.n_eval, 0.1 AS alpha,
       CAST(sel.q_u AS DOUBLE) / 1000000 AS q_hat,
       CAST(e.n_covered AS DOUBLE) / e.n_eval AS coverage
FROM sel, evl e
""",
)
def ml_eval_conformal_threshold(spark, sf_dir):
    """Split-conformal calibration — the distribution-free coverage
    machinery modern selective-prediction stacks run over their score
    column: hash-split events into calibration/evaluation halves,
    nonconformity a = (hi - v) for positives / (v - lo) for negatives
    in EXACT integer micro-units, pick the ceil(0.9·n_cal)-th smallest
    calibration score by distributed order-statistic SELECTION
    (operators.ranks.exact_quantiles — per-block counts + a local sort
    of only the boundary block, never a rank-everything pass), and
    audit the empirical coverage of "predict the label whose
    nonconformity clears q_hat" on the held-out half. Coverage ~= 0.9
    is the designed fixed point (labels independent of scores by
    construction, so eval nonconformity is exchangeable with
    calibration's).

    Exactness: the threshold is a SELECTED row of an integer column
    under the total order (a_u, event_id) — identical in both engines
    by construction — and coverage is one division of exact counts.
    Scale: one scan for the range, one slim range-exchange of the
    calibration half for the selection, one map-side comparison pass
    for coverage — no global sort anywhere."""
    from wikipedia_data_pipeline_spark.functions import cents_units
    from wikipedia_data_pipeline_spark.operators.ranks import exact_quantiles
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        cents_units("value").alias("v_u"),
        (det_hash("user_id") % 2).cast("long").alias("label"),
        (det_hash((F.col("event_id") % 1000003) * 7 + 1) % 2)
        .cast("long")
        .alias("split"),
    )
    rng = ev.agg(
        F.min("v_u").cast("long").alias("lo"),
        F.max("v_u").cast("long").alias("hi"),
    )
    scored = ev.crossJoin(F.broadcast(rng)).select(
        "event_id",
        "split",
        F.when(F.col("label") == 1, F.col("hi") - F.col("v_u"))
        .otherwise(F.col("v_u") - F.col("lo"))
        .alias("a_u"),
    )
    cal = scored.filter(F.col("split") == 0).select("a_u", "event_id")
    ks = cal.agg(F.count(F.lit(1)).cast("long").alias("n_cal")).select(
        "n_cal", F.expr("(9 * n_cal + 9) div 10").alias("k")
    )
    sel = exact_quantiles(cal, ["a_u", "event_id"], ks).select(
        F.col("a_u").alias("q_u"), "n_cal"
    )
    evl = (
        scored.filter(F.col("split") == 1)
        .crossJoin(F.broadcast(sel))
        .agg(
            F.max("q_u").alias("q_u"),
            F.max("n_cal").alias("n_cal"),
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum(
                F.when(F.col("a_u") <= F.col("q_u"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
        )
    )
    return evl.select(
        "n_cal",
        "n_eval",
        F.lit(0.1).alias("alpha"),
        (F.col("q_u").cast("double") / F.lit(1_000_000)).alias("q_hat"),
        (F.col("n_covered").cast("double") / F.col("n_eval")).alias(
            "coverage"
        ),
    )


# logged action (0..2) and its reward-stream hash key, shared between
# the two oracle references below (the reward depends on the ACTION, so
# the key folds a_log in — precomputed here because str.format cannot
# nest)
_IPS_ALOG = f"(({SQL_DET_HASH.format(col='event_id')}) % 3)"
_IPS_RKEY = f"((user_id % 1000003) * 41 + 13 * {_IPS_ALOG})"


@register(
    "ml_eval_ips_value",
    oracle=f"""
WITH logged AS (
  SELECT CAST({_IPS_ALOG} AS BIGINT) AS a_log,
         CASE WHEN CAST(({SQL_DET_HASH.format(col=_IPS_RKEY)}) % 10 AS BIGINT)
                   < 3 + CAST({_IPS_ALOG} AS BIGINT)
              THEN 1 ELSE 0 END AS r
  FROM events
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN a_log = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
         CAST(sum(CASE WHEN a_log = 2 THEN r ELSE 0 END) AS BIGINT) AS k_r
  FROM logged
)
SELECT n, n_matched, k_r,
       CAST(3 * k_r AS DOUBLE) / n AS ips_value,
       CAST(k_r AS DOUBLE) / n_matched AS snips_value
FROM agg
""",
)
def ml_eval_ips_value(spark, sf_dir):
    """Off-policy evaluation by inverse-propensity scoring — the
    counterfactual "what would the new policy have earned on the old
    logs" estimate a ranking/recommendation team computes before any
    online test: uniform-random logged actions (propensity exactly
    1/3), a reward channel whose success rate rises with the action
    ((3+a)/10 by independent hash stream), and a deterministic target
    policy pi = "always action 2". The importance weight collapses to
    the constant 3 on matched rows, so IPS = 3*sum(r*match)/n and
    SNIPS = sum(r*match)/sum(match) are single divisions of exact
    BIGINT counts — bit-identical across engines. Designed fixed
    points: SNIPS ~= E[r|a=2] = 0.5, IPS ~= 0.5 (its extra variance is
    exactly the n_matched/(n/3) fluctuation), and IPS ~= SNIPS iff the
    logging propensities really are uniform — drift flags the hash
    plumbing.

    Scale shape: one scan -> 1-row agg; nothing else."""
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    ev = load_table(spark, sf_dir, "events")
    a_log = (det_hash("event_id") % 3).cast("long")
    r = F.when(
        (
            det_hash(
                (F.col("user_id") % 1000003) * 41
                + 13 * (det_hash("event_id") % 3)
            )
            % 10
        ).cast("long")
        < 3 + a_log,
        1,
    ).otherwise(0)
    logged = ev.select(a_log.alias("a_log"), r.alias("r"))
    agg = logged.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("a_log") == 2, 1).otherwise(0))
        .cast("long")
        .alias("n_matched"),
        F.sum(F.when(F.col("a_log") == 2, F.col("r")).otherwise(0))
        .cast("long")
        .alias("k_r"),
    )
    return agg.select(
        "n",
        "n_matched",
        "k_r",
        ((F.lit(3) * F.col("k_r")).cast("double") / F.col("n")).alias(
            "ips_value"
        ),
        (F.col("k_r").cast("double") / F.col("n_matched")).alias(
            "snips_value"
        ),
    )


@register(
    "ml_eval_pass_at_k",
    oracle=f"""
WITH samples AS (
  SELECT user_id,
         CASE WHEN CAST(({SQL_DET_HASH.format(col="((event_id % 1000003) * 11 + 3)")}) % 5 AS BIGINT) = 0
              THEN 1 ELSE 0 END AS ok
  FROM events
),
per AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n, CAST(sum(ok) AS BIGINT) AS c
  FROM samples GROUP BY user_id
  HAVING count(*) >= 5
),
terms AS (
  SELECT user_id, n, c,
         CASE WHEN n - c < 5 THEN CAST(1000000000 AS BIGINT)
              ELSE CAST(round((1.0
                - CAST(CAST(n-c AS DECIMAL(38,0)) * (n-c-1) * (n-c-2)
                       * (n-c-3) * (n-c-4) AS DOUBLE)
                  / CAST(CAST(n AS DECIMAL(38,0)) * (n-1) * (n-2)
                         * (n-3) * (n-4) AS DOUBLE))
                * 1000000000) AS BIGINT) END AS pass_q
  FROM per
)
SELECT CAST(count(*) AS BIGINT) AS n_tasks,
       CAST(5 AS BIGINT) AS k,
       CAST(sum(pass_q) AS DOUBLE) / count(*) / 1000000000
         AS mean_pass_at_k
FROM terms
""",
)
def ml_eval_pass_at_k(spark, sf_dir):
    """Unbiased pass@k (k=5) — the generation-eval aggregate for
    sampled model attempts: per task (user) with n >= k attempts and c
    successes, pass@k = 1 - C(n-c,k)/C(n,k), the Chen et al. (2021)
    estimator, averaged over tasks. Success is a 20%% hash stream, so
    mean pass@5 ~= 1 - C(0.8n,5)/C(n,5) ~= 0.67 is the designed fixed
    point.

    Exactness: the falling-factorial products C(n-c,k)/C(n,k) are
    exact DECIMAL(38,0) integers (5 factors of <= n each — overflow-
    safe to n ~ 3e7 attempts per task); their ratio is ONE fixed-order
    double division, the per-task pass is quantized once to
    nano-units, and the task mean is an exact BIGINT sum with two
    final fixed-order divisions — bit-identical across engines
    (the events_kl_user_vs_global quantization discipline). Tasks with
    n-c < k short-circuit to pass = 1 before the product (a zero
    factor would poison the DECIMAL product's sign).

    Scale shape: scan -> per-task hash agg -> 1-row mean; no joins, no
    windows."""
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    ev = load_table(spark, sf_dir, "events")
    samples = ev.select(
        "user_id",
        F.when(
            (det_hash((F.col("event_id") % 1000003) * 11 + 3) % 5) == 0, 1
        )
        .otherwise(0)
        .alias("ok"),
    )
    per = (
        samples.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("ok").cast("long").alias("c"),
        )
        .filter(F.col("n") >= 5)
    )
    dec = "decimal(38,0)"
    nc = F.col("n") - F.col("c")
    num = (
        nc.cast(dec) * (nc - 1) * (nc - 2) * (nc - 3) * (nc - 4)
    ).cast("double")
    den = (
        F.col("n").cast(dec)
        * (F.col("n") - 1)
        * (F.col("n") - 2)
        * (F.col("n") - 3)
        * (F.col("n") - 4)
    ).cast("double")
    pass_q = F.when(nc < 5, F.lit(1_000_000_000).cast("long")).otherwise(
        F.round((F.lit(1.0) - num / den) * F.lit(1_000_000_000)).cast(
            "long"
        )
    )
    terms = per.select("n", "c", pass_q.alias("pass_q"))
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_tasks"),
        F.lit(5).cast("long").alias("k"),
        (
            F.sum("pass_q").cast("double")
            / F.count(F.lit(1))
            / F.lit(1_000_000_000)
        ).alias("mean_pass_at_k"),
    )



# ---------------------------------------------------------------------------
# Exact average precision / AUPRC (round 10)
# ---------------------------------------------------------------------------

_AP_ORACLE = f"""
WITH scored AS (
  SELECT event_id, value AS score,
         CAST(({SQL_DET_HASH.format(col="user_id")}) % 2 AS BIGINT) AS label
  FROM events
),
rk AS (
  SELECT label,
         row_number() OVER (ORDER BY score DESC, event_id) AS r,
         sum(label) OVER (ORDER BY score DESC, event_id
                          ROWS UNBOUNDED PRECEDING) AS cp
  FROM scored
),
terms AS (
  SELECT CAST(round(CAST(cp AS DOUBLE) / r * 1000000000.0) AS BIGINT)
           AS prec_nano
  FROM rk WHERE label = 1
)
SELECT CAST((SELECT count(*) FROM scored) AS BIGINT) AS n,
       CAST((SELECT count(*) FROM terms) AS BIGINT) AS n_pos,
       CAST((SELECT sum(prec_nano) FROM terms) AS DOUBLE)
         / (SELECT count(*) FROM terms) / 1000000000.0
         AS average_precision
"""


@register("ml_eval_average_precision", oracle=_AP_ORACLE)
def ml_eval_average_precision(spark, sf_dir):
    """Exact average precision (the area under the precision-recall
    curve by the standard step interpolation: AP = mean over positives
    of precision@rank) — the class-imbalance-robust companion to
    ml_eval_auc_events: AUC is blind to the positive rate, AP is the
    number that moves when the classifier's top of the ranking decays,
    which is what a 1-in-10⁴-positives quality-filter audit actually
    cares about. Labels are the USER-level hash-parity stream, so the
    designed fixed point is AP ≈ the empirical positive rate (NOT 0.5:
    with few users per small fixture the user-level parity split is
    lopsided — 0.592 at sf0.001 — and AP tracks it, plus the
    vanishing (1-p)·mean(1/rank) conditioning bump).

    Exactness: global rank AND the running positive count come from
    ONE hierarchical ordered_scan over (score DESC, event_id) — no
    single-partition window; each positive's precision cp/r quantizes
    once to nano-units (fixed-order division of exact integers), the
    AP numerator is then an associative BIGINT sum, and the final mean
    is one double division — bit-identical across engines.

    Scale shape: the same two-pass range-partitioned scan every
    ordered_scan consumer uses; positives-only term relation; 1-row
    result."""
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    scored = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("value").alias("score"),
        (det_hash("user_id") % 2).cast("long").alias("label"),
    )
    rk = ordered_scan(
        scored,
        [F.desc("score"), F.asc("event_id")],
        rank_col="r",
        running=[("cp", F.col("label"), "sum")],
    )
    terms = rk.filter(F.col("label") == 1).select(
        F.round(F.col("cp").cast("double") / F.col("r") * 1_000_000_000.0)
        .cast("long")
        .alias("prec_nano")
    )
    n = scored.agg(F.count(F.lit(1)).cast("long").alias("n"))
    agg = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_pos"),
        F.sum("prec_nano").cast("long").alias("s"),
    )
    return n.crossJoin(F.broadcast(agg)).select(
        "n",
        "n_pos",
        (
            F.col("s").cast("double")
            / F.col("n_pos").cast("double")
            / 1_000_000_000.0
        ).alias("average_precision"),
    )


# ---------------------------------------------------------------------------
# Pinball (quantile) loss for a per-type p90 forecast (round 10)
# ---------------------------------------------------------------------------

_US_PER_DAY = 86_400_000_000

_PINBALL_ORACLE = f"""
WITH t0 AS (SELECT min(epoch_us(ts)) AS ts0 FROM events),
ev AS (
  SELECT event_type,
         CAST(round(value * 1000000) AS BIGINT) AS v_u,
         event_id,
         (epoch_us(ts) - ts0) // {_US_PER_DAY} < 24 AS is_train
  FROM events, t0
),
trn AS (
  SELECT event_type, v_u,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY v_u, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM ev WHERE is_train
),
fc AS (
  SELECT event_type, v_u AS q90_u FROM trn
  WHERE rn = (9 * n + 9) // 10
),
tst AS (
  SELECT ev.event_type, v_u, q90_u,
         CASE WHEN v_u >= q90_u THEN 9 * (v_u - q90_u)
              ELSE (q90_u - v_u) END AS loss_du
  FROM ev JOIN fc ON ev.event_type = fc.event_type
  WHERE NOT is_train
)
SELECT event_type,
       CAST(max(q90_u) AS BIGINT) AS q90_u,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(loss_du) AS BIGINT) AS pinball_deci_micro_total,
       CAST(sum(loss_du) AS DOUBLE) / count(*) / 10000000.0
         AS mean_pinball_loss
FROM tst GROUP BY event_type
"""


@register("ml_eval_pinball_loss", oracle=_PINBALL_ORACLE)
def ml_eval_pinball_loss(spark, sf_dir):
    """Pinball (quantile) loss of a per-type p90 forecast — the proper
    scoring rule for quantile predictions (Koenker's check function;
    what M5-Uncertainty-style forecast evals and SLA-latency models
    are graded on): train on the first 24 days (the engine's standard
    temporal split), forecast each type's p90, score on the rest with
    L_q(y, f) = q·(y−f)⁺ + (1−q)·(f−y)⁺ at q = 0.9.

    Exactness: train p90 is the grouped_exact_quantiles SELECTION
    (rank ceil(9n/10) per type, tie-broken by event_id — never a
    rank-everything window over the fact table); every loss term is an
    exact integer in DECI-micro-units (×10 clears the 0.9/0.1
    weights), the per-type total an associative BIGINT sum, and the
    mean one double division.

    Scale shape: one pass for the split bound (1-row min), one
    range-partitioned selection over the train slice, broadcast of
    the |types|-row forecast back onto the test scan, hash-agg out."""
    from wikipedia_data_pipeline_spark.operators.ranks import (
        grouped_exact_quantiles,
    )
    from wikipedia_data_pipeline_spark.functions import ts_us

    ev0 = load_table(spark, sf_dir, "events")
    t0 = ev0.agg(F.min("ts").alias("ts0"))
    ev = ev0.crossJoin(F.broadcast(t0)).select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 1_000_000).cast("long").alias("v_u"),
        (F.expr(f"(ts - ts0) div {_US_PER_DAY}") < 24).alias("is_train"),
    )
    trn = ev.filter(F.col("is_train")).select("event_type", "v_u", "event_id")
    fc = grouped_exact_quantiles(
        trn,
        ["event_type"],
        ["v_u", "event_id"],
        [("p90", 9, 10)],
        tag_col="qtag",
    ).select("event_type", F.col("v_u").alias("q90_u"))
    tst = ev.filter(~F.col("is_train")).join(F.broadcast(fc), "event_type")
    loss = F.when(
        F.col("v_u") >= F.col("q90_u"), 9 * (F.col("v_u") - F.col("q90_u"))
    ).otherwise(F.col("q90_u") - F.col("v_u"))
    return (
        tst.select("event_type", "q90_u", loss.alias("loss_du"))
        .groupBy("event_type")
        .agg(
            F.max("q90_u").cast("long").alias("q90_u"),
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum("loss_du").cast("long").alias("pinball_deci_micro_total"),
            (
                F.sum("loss_du").cast("double")
                / F.count(F.lit(1))
                / 10_000_000.0
            ).alias("mean_pinball_loss"),
        )
    )


# ---------------------------------------------------------------------------
# Isotonic calibration over the reliability bins (round 10)
# ---------------------------------------------------------------------------

_ISO_ORACLE = f"""
WITH ev AS (
  SELECT CAST(round(value * 1000000) AS BIGINT) AS v_u,
         CAST(({SQL_DET_HASH.format(col="user_id")}) % 2 AS BIGINT) AS label
  FROM events
),
rng AS (SELECT CAST(min(v_u) AS BIGINT) AS lo, CAST(max(v_u) AS BIGINT) AS hi
        FROM ev),
per AS (
  SELECT least(9, ((ev.v_u - rng.lo) * 10) // (rng.hi - rng.lo + 1)) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(label) AS BIGINT) AS n_pos
  FROM ev, rng GROUP BY 1
),
cum AS (
  SELECT bin,
         sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cn,
         sum(n_pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cp
  FROM per
),
ranges AS (
  SELECT j.bin AS j, k.bin AS k,
         CAST(k.cp - coalesce(jp.cp, 0) AS DOUBLE)
           / CAST(k.cn - coalesce(jp.cn, 0) AS DOUBLE) AS avg_rate
  FROM cum j
  JOIN cum k ON j.bin <= k.bin
  LEFT JOIN cum jp ON jp.bin = j.bin - 1
),
inner_min AS (
  SELECT p.bin AS i, r.j, min(r.avg_rate) AS m
  FROM per p JOIN ranges r ON r.j <= p.bin AND r.k >= p.bin
  GROUP BY p.bin, r.j
),
iso AS (SELECT i AS bin, max(m) AS iso_rate FROM inner_min GROUP BY i)
SELECT per.bin, per.n, per.n_pos,
       CAST(per.n_pos AS DOUBLE) / per.n AS raw_rate,
       iso.iso_rate AS isotonic_rate
FROM per JOIN iso ON per.bin = iso.bin
"""


@register("ml_eval_isotonic_calibration", oracle=_ISO_ORACLE)
def ml_eval_isotonic_calibration(spark, sf_dir):
    """Isotonic-regression calibration of the reliability bins — the
    actual CALIBRATOR next to ml_eval_calibration_bins' diagnostic:
    the weighted L2 isotonic fit of per-bin positive rates by the
    exact minimax identity (Robertson-Wright-Dykstra; what sklearn's
    IsotonicRegression / PAV computes):
        iso_i = max_{j<=i} min_{k>=i} avg(rate over bins j..k).
    PAV's pooling is sequential, but over B = 10 bins the minimax form
    is a PURE RELATIONAL double aggregate on a B²-range relation —
    <= 1000 rows — so no driver loop and no sequential state anywhere.

    Exactness: bin counts are exact BIGINTs; each range average is ONE
    fixed-order double division of exact cumulative integers, so both
    engines materialize identical doubles and the min/max lattice is
    bit-identical. (At B where B³ relational work stops being free,
    PAV on the collected B-row relation is the classic driver-side
    finish — B is a CONSTANT here, never data-sized.)

    Scale shape: one fact-wide hash agg to the 10-bin relation (the
    only real work), then bounded-size joins."""
    from pyspark.sql import Window

    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    ev = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 1_000_000).cast("long").alias("v_u"),
        (det_hash("user_id") % 2).cast("long").alias("label"),
    )
    rng = ev.agg(
        F.min("v_u").cast("long").alias("lo"),
        F.max("v_u").cast("long").alias("hi"),
    )
    binned = ev.crossJoin(F.broadcast(rng)).select(
        F.least(
            F.lit(9),
            F.expr("((v_u - lo) * 10) div (hi - lo + 1)"),
        ).alias("bin"),
        "label",
    )
    per = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("label").cast("long").alias("n_pos"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "bin",
        F.sum("n").over(w).alias("cn"),
        F.sum("n_pos").over(w).alias("cp"),
    )
    j = cum.select(
        F.col("bin").alias("j"), F.col("cn").alias("jcn"), F.col("cp").alias("jcp")
    )
    jp = cum.select(
        (F.col("bin") + 1).alias("j"),
        F.col("cn").alias("pcn"),
        F.col("cp").alias("pcp"),
    )
    k = cum.select(
        F.col("bin").alias("k"), F.col("cn").alias("kcn"), F.col("cp").alias("kcp")
    )
    ranges = (
        j.join(jp, "j", "left")
        .join(k, F.col("j") <= F.col("k"))
        .select(
            "j",
            "k",
            (
                (F.col("kcp") - F.coalesce(F.col("pcp"), F.lit(0))).cast(
                    "double"
                )
                / (F.col("kcn") - F.coalesce(F.col("pcn"), F.lit(0))).cast(
                    "double"
                )
            ).alias("avg_rate"),
        )
    )
    i_rel = per.select(F.col("bin").alias("i"))
    inner_min = (
        i_rel.join(
            ranges, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i"))
        )
        .groupBy("i", "j")
        .agg(F.min("avg_rate").alias("m"))
    )
    iso = inner_min.groupBy("i").agg(F.max("m").alias("iso_rate"))
    return (
        per.join(iso, per["bin"] == iso["i"])
        .select(
            "bin",
            "n",
            "n_pos",
            (F.col("n_pos").cast("double") / F.col("n")).alias("raw_rate"),
            F.col("iso_rate").alias("isotonic_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Mean reciprocal rank (round 10)
# ---------------------------------------------------------------------------

_MRR_ORACLE = f"""
WITH scored AS (
  SELECT user_id, event_id, value AS score,
         CASE WHEN CAST(({SQL_DET_HASH.format(col="event_id")}) % 3 AS BIGINT) = 2
              THEN 1 ELSE 0 END AS rel
  FROM events
),
ranked AS (
  SELECT user_id, rel,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY score DESC, event_id) AS rnk
  FROM scored
),
first_rel AS (
  SELECT user_id, CAST(min(rnk) AS BIGINT) AS first_rank
  FROM ranked WHERE rel = 1 GROUP BY user_id
),
rr AS (
  SELECT user_id, first_rank,
         CAST(round(1000000000.0 / first_rank) AS BIGINT) AS rr_nano
  FROM first_rel
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(CASE WHEN first_rank <= 10 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hit_at_10,
       CAST(sum(rr_nano) AS DOUBLE) / count(*) / 1000000000.0 AS mrr
FROM rr
"""


@register("ml_eval_mrr", oracle=_MRR_ORACLE)
def ml_eval_mrr(spark, sf_dir):
    """Mean reciprocal rank + hit@10 — the first-relevant-result
    metric that completes the ranking-eval set (AUC orders pairs, AP
    integrates the PR curve, NDCG grades the top-k, MRR asks 'how far
    down is the FIRST good answer', the navigational-search and
    RAG-retrieval headline). Relevance = the top grade of the NDCG
    stream (rel == 2), so the two metrics are comparable on identical
    data.

    Exactness: the first-relevant rank is an exact integer from a
    user-partitioned rank window + MIN; each reciprocal quantizes once
    to nano-units; the mean is one double division of BIGINTs.

    Scale shape: ONE user-partitioned window (user-sized groups, fully
    parallel), a user-keyed min-agg, and the 1-row mean. Nothing
    global."""
    from pyspark.sql import Window

    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    ev = load_table(spark, sf_dir, "events")
    scored = ev.select(
        "user_id",
        "event_id",
        F.col("value").alias("score"),
        ((det_hash("event_id") % 3) == 2).cast("int").alias("rel"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("score"), F.asc("event_id")
    )
    ranked = scored.withColumn("rnk", F.row_number().over(w))
    first_rel = (
        ranked.filter(F.col("rel") == 1)
        .groupBy("user_id")
        .agg(F.min("rnk").cast("long").alias("first_rank"))
    )
    rr = first_rel.select(
        "first_rank",
        F.round(1_000_000_000.0 / F.col("first_rank"))
        .cast("long")
        .alias("rr_nano"),
    )
    return rr.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.when(F.col("first_rank") <= 10, 1).otherwise(0))
        .cast("long")
        .alias("n_hit_at_10"),
        (
            F.sum("rr_nano").cast("double")
            / F.count(F.lit(1))
            / 1_000_000_000.0
        ).alias("mrr"),
    )


# ---------------------------------------------------------------------------
# Label-noise screen: Cleanlab-style confident joint (round 11)
# ---------------------------------------------------------------------------

_CJ_ORACLE = f"""
WITH per AS (
  SELECT user_id,
         CAST(({SQL_DET_HASH.format(col="user_id")}) % 2 AS BIGINT) AS y,
         (sum(CAST(round(value * 1000000) AS BIGINT)) // count(*)) AS v
  FROM events GROUP BY user_id
),
rng AS (SELECT min(v) AS lo, max(v) AS hi FROM per),
sc AS (
  SELECT y, v - rng.lo AS sv, rng.hi - rng.lo AS w
  FROM per, rng
),
cls AS (
  SELECT
    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(sum(CASE WHEN y = 1 THEN sv ELSE 0 END) AS BIGINT) AS ssv1,
    CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
    CAST(sum(CASE WHEN y = 0 THEN w - sv ELSE 0 END) AS BIGINT) AS ssv0c
  FROM sc
),
pred AS (
  SELECT y,
         CASE
           WHEN sv * n1 >= ssv1 AND (w - sv) * n0 >= ssv0c
             THEN CASE WHEN 2 * sv >= w THEN 1 ELSE 0 END
           WHEN sv * n1 >= ssv1 THEN 1
           WHEN (w - sv) * n0 >= ssv0c THEN 0
         END AS c
  FROM sc, cls
),
cj AS (
  SELECT y, c, CAST(count(*) AS BIGINT) AS n_confident
  FROM pred WHERE c IS NOT NULL GROUP BY y, c
),
spine AS (
  SELECT y, c FROM (VALUES (CAST(0 AS BIGINT)), (1)) a(y),
                   (VALUES (CAST(0 AS BIGINT)), (1)) b(c)
)
SELECT s.y AS y_label, s.c AS pred_label,
       coalesce(cj.n_confident, 0) AS n_confident,
       s.y <> s.c AS suspected_mislabel
FROM spine s LEFT JOIN cj ON s.y = cj.y AND s.c = cj.c
"""


@register("ml_eval_confident_joint", oracle=_CJ_ORACLE)
def ml_eval_confident_joint(spark, sf_dir):
    """Label-noise screen via the confident joint (Northcutt et al.
    2021, "Confident Learning") — the data-quality question the rest of
    the eval suite assumes away: how many examples' NOISY labels
    disagree with what a confidently-thresholded score says? Binary
    form: per class c, the threshold t_c is the class's own mean
    predicted probability; an example counts into C[y][ĉ] when its
    probability for ĉ clears t_ĉ (ties to the argmax class), and the
    off-diagonal cells are the suspected-mislabel mass that drives
    pruning/reweighting.

    Construction on this data: score = per-user mean event value
    (micro-units, floored once by integer division), min-max normalized
    — but every threshold comparison CROSS-MULTIPLIES so the
    normalizing range w cancels: qualify₁ ⇔ sv·n₁ ≥ Σsv₁, qualify₀ ⇔
    (w−sv)·n₀ ≥ Σ(w−sv)₀, argmax ⇔ 2·sv ≥ w — pure BIGINT (products
    ≤ ~1e18 at 1e9 users × full range; past that the same comparisons
    route through DECIMAL). Labels are the det_hash parity stream.

    Scale shape: one user-keyed aggregate (the only data shuffle), one
    broadcast 1-row range + 1-row class-stats relation, dense 2×2
    output spine."""
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.call_function(
            "div",
            F.sum(F.round(F.col("value") * 1_000_000).cast("long")),
            F.count(F.lit(1)),
        ).alias("v"),
    ).select(
        (det_hash("user_id") % 2).cast("long").alias("y"), "v"
    )
    rng = per.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    sc = per.crossJoin(F.broadcast(rng)).select(
        "y",
        (F.col("v") - F.col("lo")).alias("sv"),
        (F.col("hi") - F.col("lo")).alias("w"),
    )
    cls = sc.agg(
        F.sum(F.when(F.col("y") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("y") == 1, F.col("sv")).otherwise(0))
        .cast("long")
        .alias("ssv1"),
        F.sum(F.when(F.col("y") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("y") == 0, F.col("w") - F.col("sv")).otherwise(0))
        .cast("long")
        .alias("ssv0c"),
    )
    q1 = F.col("sv") * F.col("n1") >= F.col("ssv1")
    q0 = (F.col("w") - F.col("sv")) * F.col("n0") >= F.col("ssv0c")
    pred = sc.crossJoin(F.broadcast(cls)).select(
        "y",
        F.when(
            q1 & q0,
            F.when(2 * F.col("sv") >= F.col("w"), F.lit(1)).otherwise(0),
        )
        .when(q1, F.lit(1))
        .when(q0, F.lit(0))
        .cast("long")
        .alias("c"),
    )
    cj = (
        pred.filter(F.col("c").isNotNull())
        .groupBy("y", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("n_confident"))
    )
    spine = spark.createDataFrame(
        [(y, c) for y in (0, 1) for c in (0, 1)], "y long, c long"
    )
    return (
        spine.join(cj, ["y", "c"], "left")
        .select(
            F.col("y").alias("y_label"),
            F.col("c").alias("pred_label"),
            F.coalesce(F.col("n_confident"), F.lit(0))
            .cast("long")
            .alias("n_confident"),
            (F.col("y") != F.col("c")).alias("suspected_mislabel"),
        )
    )


_YOUDEN_ORACLE = f"""
WITH scored AS (
  SELECT event_id, value AS score,
         CAST(({SQL_DET_HASH.format(col="user_id")}) % 2 AS BIGINT) AS label
  FROM events
),
rk AS (
  SELECT score, label,
         CAST(row_number() OVER (ORDER BY score DESC, event_id) AS BIGINT)
           AS k,
         CAST(sum(label) OVER (ORDER BY score DESC, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS tp
  FROM scored
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_all,
         CAST(sum(label) AS BIGINT) AS n_pos
  FROM scored
),
j AS (
  SELECT rk.k, rk.score, rk.tp, rk.k - rk.tp AS fp,
         (t.n_all - t.n_pos) * rk.tp - t.n_pos * (rk.k - rk.tp) AS j_num,
         t.n_pos, t.n_all - t.n_pos AS n_neg
  FROM rk, tot t
),
best AS (SELECT max(j_num) AS best_num FROM j)
SELECT k AS best_k, score AS threshold, tp, fp,
       n_pos - tp AS fn, n_neg - fp AS tn,
       CAST(j_num AS DOUBLE) / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
         AS youden_j
FROM j, best
WHERE j_num = best_num
ORDER BY k LIMIT 1
"""


@register("ml_eval_youden_j_threshold", oracle=_YOUDEN_ORACLE)
def ml_eval_youden_j_threshold(spark, sf_dir):
    """Youden-J optimal operating point: the score threshold
    maximizing J = TPR − FPR over the full ROC sweep — how a quality
    classifier's gate is actually picked once AUC says it ranks well
    (fixture shared with ml_eval_auc_events: score = event value,
    label = deterministic user-hash parity). J is maximized on the
    INTEGER numerator n_neg·TP − n_pos·FP (exact at any scale, no
    division inside the argmax), ties broken toward the smallest k
    (highest threshold). Ranks and running TP come from the
    hierarchical ordered_scan — no single-partition sort of the fact
    table; the argmax is a 1-row global max broadcast back (selection,
    not rank-everything — ml_eval_pinball_loss discipline)."""
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    scored = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("value").alias("score"),
        (det_hash("user_id") % 2).cast("long").alias("label"),
    )
    rk = ordered_scan(
        scored,
        [F.desc("score"), F.asc("event_id")],
        rank_col="k",
        running=[("tp", "label", "sum")],
        with_totals=True,
    )
    n_pos = F.col("tp_total").cast("long")
    n_neg = (F.col("k_total") - F.col("tp_total")).cast("long")
    fp = F.col("k") - F.col("tp")
    j = rk.select(
        F.col("k").cast("long").alias("k"),
        "score",
        F.col("tp").cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        (n_neg * F.col("tp") - n_pos * fp).cast("long").alias("j_num"),
        n_pos.alias("n_pos"),
        n_neg.alias("n_neg"),
    )
    best = j.agg(F.max("j_num").alias("best_num"))
    return (
        j.crossJoin(F.broadcast(best))
        .filter(F.col("j_num") == F.col("best_num"))
        .orderBy("k")
        .limit(1)
        .select(
            F.col("k").alias("best_k"),
            F.col("score").alias("threshold"),
            "tp",
            "fp",
            (F.col("n_pos") - F.col("tp")).alias("fn"),
            (F.col("n_neg") - F.col("fp")).alias("tn"),
            (
                F.col("j_num").cast("double")
                / (F.col("n_pos").cast("double") * F.col("n_neg").cast("double"))
            ).alias("youden_j"),
        )
    )


_SPEARMAN_ORACLE = """
WITH s AS (
  SELECT event_id, value AS x,
         CAST(length(props) AS BIGINT) AS y
  FROM events
),
rx AS (
  SELECT event_id,
         CAST(row_number() OVER (ORDER BY x, event_id) AS BIGINT) AS r1
  FROM s
),
ry AS (
  SELECT event_id,
         CAST(row_number() OVER (ORDER BY y, event_id) AS BIGINT) AS r2
  FROM s
),
d AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST((r1 - r2) AS HUGEINT) * (r1 - r2)) AS HUGEINT)
           AS sum_d2
  FROM rx JOIN ry ON rx.event_id = ry.event_id
)
SELECT n, CAST(sum_d2 AS DOUBLE) AS sum_d2,
       CASE WHEN n > 1 THEN
         1.0 - CAST(6 * sum_d2 AS DOUBLE)
               / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                                       - 1.0))
       ELSE 0.0 END AS spearman_rho
FROM d
"""


@register("ml_eval_spearman_rho", oracle=_SPEARMAN_ORACLE)
def ml_eval_spearman_rho(spark, sf_dir):
    """Spearman rank correlation between two per-event scores (the
    event value vs. the props-payload length — a near-null pairing, so
    ρ≈0 by construction and the machinery is under audit): ρ = 1 −
    6Σd²/(n(n²−1)) over TOTAL-ORDER ranks (event_id tiebreak, the
    ml_eval_auc_events discipline — making every rank, and therefore
    Σd², an exact integer both engines reproduce bit-for-bit; Σd² sums
    in DECIMAL(38,0), bounded by n³ ≈ 1e24 at 1e8 rows, and is
    REPORTED as double since n³ exceeds BIGINT past ~2e6 rows —
    the 100×-probe overflow that motivated this). The monotone-
    relationship readout model-eval dashboards pair with Pearson.

    Both rank passes are hierarchical ordered_scans (no single-
    partition sort), FUSED: the second scan rides the first scan's
    output carrying r1 through, so the per-row (r1, r2) pairing needs
    no event_id join at all (r12 flip — interleaved A/B at the 100×
    replica measured 5.3 s fused vs 8.3 s for the join form,
    AB_SPEARMAN_r12.json)."""
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan

    s = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("value").alias("x"),
        F.length("props").cast("long").alias("y"),
    )
    rx = ordered_scan(s, ["x", "event_id"], rank_col="r1")
    rxy = ordered_scan(rx, ["y", "event_id"], rank_col="r2")
    d = (
        rxy
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                (F.col("r1") - F.col("r2")).cast("decimal(38,0)")
                * (F.col("r1") - F.col("r2"))
            )
            .cast("decimal(38,0)")
            .alias("sum_d2"),
        )
    )
    n_d = F.col("n").cast("double")
    rho = F.when(
        F.col("n") > 1,
        F.lit(1.0)
        - (F.lit(6).cast("decimal(38,0)") * F.col("sum_d2")).cast("double")
        / (n_d * (n_d * n_d - F.lit(1.0))),
    ).otherwise(F.lit(0.0))
    return d.select(
        "n",
        # exact in DECIMAL(38,0) internally; REPORTED as double — at 1e8
        # rows sum_d2 ~ n^3 = 1e24 exceeds BIGINT, and the decimal->double
        # cast is the same round-to-nearest in both engines
        F.col("sum_d2").cast("double").alias("sum_d2"),
        rho.alias("spearman_rho"),
    )


_DELONG_ORACLE = f"""
WITH scored AS (
  SELECT value AS v,
         CAST(({SQL_DET_HASH.format(col="user_id")}) % 2 AS BIGINT) AS label
  FROM events
),
vals AS (
  SELECT v,
         CAST(sum(label) AS BIGINT) AS cpos,
         CAST(count(*) - sum(label) AS BIGINT) AS cneg
  FROM scored GROUP BY v
),
tot AS (
  SELECT CAST(sum(cpos) AS BIGINT) AS npos,
         CAST(sum(cneg) AS BIGINT) AS nneg
  FROM vals
),
scan AS (
  SELECT v, cpos, cneg,
         COALESCE(sum(cneg) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS neg_below,
         COALESCE(sum(cpos) OVER (ORDER BY v
             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
           AS pos_above
  FROM vals
),
s AS (
  SELECT
    CAST(sum(CAST(cpos AS HUGEINT) * (2 * neg_below + cneg)) AS HUGEINT)
      AS psi_sum,
    CAST(sum(CAST(cpos AS HUGEINT) * (2 * neg_below + cneg)
             * (2 * neg_below + cneg)) AS HUGEINT) AS psi_sq,
    CAST(sum(CAST(cneg AS HUGEINT) * (2 * pos_above + cpos)) AS HUGEINT)
      AS phi_sum,
    CAST(sum(CAST(cneg AS HUGEINT) * (2 * pos_above + cpos)
             * (2 * pos_above + cpos)) AS HUGEINT) AS phi_sq
  FROM scan
),
f AS (
  SELECT t.npos, t.nneg,
         CAST(s.psi_sum AS DOUBLE)
           / (2.0 * CAST(t.npos AS DOUBLE) * CAST(t.nneg AS DOUBLE)) AS auc,
         CAST(t.npos * s.psi_sq - s.psi_sum * s.psi_sum AS DOUBLE)
           / (CAST(t.npos AS DOUBLE) * (CAST(t.npos AS DOUBLE) - 1.0)
              * 4.0 * CAST(t.nneg AS DOUBLE) * CAST(t.nneg AS DOUBLE))
           AS var10,
         CAST(t.nneg * s.phi_sq - s.phi_sum * s.phi_sum AS DOUBLE)
           / (CAST(t.nneg AS DOUBLE) * (CAST(t.nneg AS DOUBLE) - 1.0)
              * 4.0 * CAST(t.npos AS DOUBLE) * CAST(t.npos AS DOUBLE))
           AS var01
  FROM s, tot t
)
SELECT npos, nneg, auc, var10, var01,
       sqrt(var10 / npos + var01 / nneg) AS se,
       auc - 1.959963984540054 * sqrt(var10 / npos + var01 / nneg) AS ci_lo,
       auc + 1.959963984540054 * sqrt(var10 / npos + var01 / nneg) AS ci_hi
FROM f
"""


@register("ml_eval_auc_delong_ci", oracle=_DELONG_ORACLE)
def ml_eval_auc_delong_ci(spark, sf_dir):
    """DeLong (1988) confidence interval for AUC — the error bar the
    point estimate in ml_eval_auc_events needs before two models can
    be compared honestly. Midrank (tie-correct) AUC plus the
    structural-component variance: per distinct score v the placement
    ψ(v) = (#neg<v + ½#neg=v)/n_neg is kept as the exact DOUBLED
    integer 2·#neg<v + #neg=v (no halves anywhere); Σψ and Σψ² weight
    by the positive count at v, accumulate in DECIMAL(38,0) (bound
    n·4n² ≈ 4e32 at 1e8 rows), and the symmetric φ components mirror
    it for negatives. Var, se, and the Wald 95% CI are one canonical
    IEEE finale (z frozen full-precision).

    Scale shape: one hash agg to per-value label counts, then BOTH
    prefix directions from ONE hierarchical `ordered_scan` over the
    distinct-value relation — neg_below is the exclusive forward prefix
    (inclusive running sum − current), pos_above the backward suffix
    (global total − inclusive running sum). A real model-score DOUBLE
    column is near-unique, so the distinct relation is fact-sized and
    an unpartitioned window here would serialize it through one task;
    the scan keeps it range-partitioned (SURVEY §2.5 scale note).
    Exactness unchanged: running sums are order-insensitive BIGINT, so
    the two-level scan is bit-identical to the one-pass window."""
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    scored = load_table(spark, sf_dir, "events").select(
        F.col("value").alias("v"),
        (det_hash("user_id") % 2).cast("long").alias("label"),
    )
    vals = scored.groupBy("v").agg(
        F.sum("label").cast("long").alias("cpos"),
        (F.count(F.lit(1)) - F.sum("label")).cast("long").alias("cneg"),
    )
    scan = ordered_scan(
        vals,
        ["v"],
        running=[("run_cneg", "cneg", "sum"), ("run_cpos", "cpos", "sum")],
        with_totals=True,
    ).select(
        "cpos",
        "cneg",
        (F.col("run_cneg") - F.col("cneg")).alias("neg_below"),
        (F.col("run_cpos_total") - F.col("run_cpos")).alias("pos_above"),
    )
    psi2 = (F.lit(2) * F.col("neg_below") + F.col("cneg")).cast(
        "decimal(38,0)"
    )
    phi2 = (F.lit(2) * F.col("pos_above") + F.col("cpos")).cast(
        "decimal(38,0)"
    )
    s = scan.agg(
        F.sum(F.col("cpos").cast("decimal(38,0)") * psi2)
        .cast("decimal(38,0)")
        .alias("psi_sum"),
        F.sum(F.col("cpos").cast("decimal(38,0)") * psi2 * psi2)
        .cast("decimal(38,0)")
        .alias("psi_sq"),
        F.sum(F.col("cneg").cast("decimal(38,0)") * phi2)
        .cast("decimal(38,0)")
        .alias("phi_sum"),
        F.sum(F.col("cneg").cast("decimal(38,0)") * phi2 * phi2)
        .cast("decimal(38,0)")
        .alias("phi_sq"),
        F.sum("cpos").cast("long").alias("npos"),
        F.sum("cneg").cast("long").alias("nneg"),
    )
    np_d = F.col("npos").cast("double")
    nn_d = F.col("nneg").cast("double")
    auc = F.col("psi_sum").cast("double") / (F.lit(2.0) * np_d * nn_d)
    var10 = (
        F.col("npos").cast("decimal(38,0)") * F.col("psi_sq")
        - F.col("psi_sum") * F.col("psi_sum")
    ).cast("double") / (np_d * (np_d - F.lit(1.0)) * F.lit(4.0) * nn_d * nn_d)
    var01 = (
        F.col("nneg").cast("decimal(38,0)") * F.col("phi_sq")
        - F.col("phi_sum") * F.col("phi_sum")
    ).cast("double") / (nn_d * (nn_d - F.lit(1.0)) * F.lit(4.0) * np_d * np_d)
    se = F.sqrt(var10 / F.col("npos") + var01 / F.col("nneg"))
    z = F.lit(1.959963984540054)
    return s.select(
        "npos",
        "nneg",
        auc.alias("auc"),
        var10.alias("var10"),
        var01.alias("var01"),
        se.alias("se"),
        (auc - z * se).alias("ci_lo"),
        (auc + z * se).alias("ci_hi"),
    )
