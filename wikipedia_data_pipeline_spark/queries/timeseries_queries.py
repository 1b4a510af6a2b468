"""Time-series / sequence analytics + classic data-mining operators
(round 5, session 2).

Reference scope: the reference engine (Main.java's thread-pool stages)
has no time-series surface at all — everything here is the extension
family the brief asks for: operations a large-scale training-data /
analytics pipeline needs beyond the reference's own operators.

Determinism strategy (same contract as the rest of the registry):

* Path-dependent recursions (EWMA, CUSUM) are re-expressed in closed
  form so they become plain window aggregates: zero-padded EWMA as a
  fixed left-to-right weighted sum of K lags, and the one-sided CUSUM
  ``S_t = max(0, S_{t-1} + d_t)`` via the prefix-sum identity
  ``S_t = C_t - min(0, min_{j<=t} C_j)`` — both exactly portable.
* Float moments (autocorrelation) are computed from DECIMAL-exact sums
  of integer-scaled values, so the parallel reduction order cannot
  perturb a bit; the final Pearson formula is a fixed IEEE expression.
* Log-probabilities (Naive Bayes) are quantized to BIGINT micro-nats
  ONCE per (class, token); per-document scores are then integer sums —
  associative, so the argmax is identical under any partitioning.

Scale notes per query are in the docstrings; the common theme: each
query is one or two shuffles on the natural key (user_id / lang /
suppkey), no driver-side loops, windows always partitioned.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.functions import dec_sum, sql_dec_sum
from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# EWMA — exponentially weighted moving average as a fixed-lag kernel
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.3
_EWMA_K = 8
# Literal weights embedded as Python float repr → both engines parse the
# identical double.
_EWMA_W = [_EWMA_ALPHA * (1.0 - _EWMA_ALPHA) ** j for j in range(_EWMA_K)]


def _ewma_expr(lag_fmt: str) -> str:
    """Left-to-right weighted sum of the current value and K-1 lags.

    ``lag_fmt`` renders the j-th lag (j=0 is the current row). Addition
    associates left-to-right identically in Spark SQL and DuckDB, and
    every weight is the same double literal, so the result is
    bit-identical on both engines.
    """
    terms = [f"{w!r} * coalesce({lag_fmt.format(j=j)}, 0.0)" for j, w in enumerate(_EWMA_W)]
    return " + ".join(terms)


_EWMA_WIN = "PARTITION BY user_id ORDER BY ts, event_id"


@register(
    "events_ewma_value",
    oracle=f"""
SELECT user_id, event_id, value,
       {_ewma_expr("lag(value, {j}) OVER (" + _EWMA_WIN + ")")} AS ewma
FROM events
""",
)
def events_ewma_value(spark, sf_dir):
    """Per-user EWMA of event values (α=0.3, zero-padded 8-term kernel).

    The textbook EWMA is the recursion s_t = αx_t + (1−α)s_{t−1} —
    path-dependent, so a naive implementation is a sequential scan.
    Truncating the kernel at K=8 terms (weight mass 1−0.7⁸ ≈ 94%, tail
    < 2% of α) turns it into a *fixed window expression*: K−1 LAGs over
    (user_id, event-time) summed left-to-right. That is one shuffle on
    user_id and a single window pass — embarrassingly parallel across
    users at 100 TB, and deterministic because no reduction order is
    involved at all (pure per-row expression over already-sorted
    frames). Ties on ts are broken by event_id so the lag sequence is a
    total order.
    """
    ev = load_table(spark, sf_dir, "events")
    lag_fmt = "lag(value, {j}) OVER (" + _EWMA_WIN + ")"
    return ev.selectExpr(
        "user_id",
        "event_id",
        "value",
        f"{_ewma_expr(lag_fmt)} AS ewma",
    )


# ---------------------------------------------------------------------------
# Lag-1 autocorrelation — exact Pearson from integer-scaled moments
# ---------------------------------------------------------------------------

# events.value is a 2-decimal quantity ≤ ~1e4; scaled by 1e6 it fits
# comfortably in BIGINT and every pairwise product in ~1e17 << 2^63.
_ACF_SCALE = 1_000_000

_ACF_ORACLE = f"""
WITH p AS (
  SELECT user_id,
         CAST(round(value * {_ACF_SCALE}) AS BIGINT) AS a,
         lag(CAST(round(value * {_ACF_SCALE}) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b
  FROM events
),
s AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(a AS DECIMAL(38,0))) AS sa,
         sum(CAST(b AS DECIMAL(38,0))) AS sb,
         sum(CAST(a * b AS DECIMAL(38,0))) AS sab,
         sum(CAST(a * a AS DECIMAL(38,0))) AS saa,
         sum(CAST(b * b AS DECIMAL(38,0))) AS sbb
  FROM p WHERE b IS NOT NULL GROUP BY user_id
)
SELECT user_id, n,
       (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
        - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
       / (sqrt(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
               - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
          * sqrt(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                 - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))) AS acf1
FROM s
WHERE CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) > 0
  AND CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
      - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) > 0
"""


@register("events_autocorr_lag1", oracle=_ACF_ORACLE)
def events_autocorr_lag1(spark, sf_dir):
    """Per-user lag-1 autocorrelation of event values — the standard
    "is this metric mean-reverting or trending?" screen, and (near ±1)
    a bot signature: scripted traffic emits near-deterministic value
    sequences.

    Pearson corr is a ratio of second moments, and float moment sums
    are reduction-order-dependent — ``F.corr`` on a cluster is not
    reproducible in the low bits. Here the values are scaled to BIGINT
    (×1e6, exact for the 2-decimal domain), the five moment sums ride
    DECIMAL(38,0) (associative → partitioning-independent), and only
    the final Pearson ratio is IEEE double — a fixed scalar expression,
    bit-identical on any engine. One shuffle (user_id) for the window
    lag + one for the aggregate; AQE coalesces both at small SF.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    a = F.round(F.col("value") * _ACF_SCALE).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = ev.select(
        "user_id",
        a.alias("a"),
        F.lag(a).over(w).alias("b"),
    ).filter(F.col("b").isNotNull())
    dec = "decimal(38,0)"
    s = p.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("a").cast(dec)).alias("sa"),
        F.sum(F.col("b").cast(dec)).alias("sb"),
        F.sum((F.col("a") * F.col("b")).cast(dec)).alias("sab"),
        F.sum((F.col("a") * F.col("a")).cast(dec)).alias("saa"),
        F.sum((F.col("b") * F.col("b")).cast(dec)).alias("sbb"),
    )
    nd = F.col("n").cast("double")
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    sab = F.col("sab").cast("double")
    saa, sbb = F.col("saa").cast("double"), F.col("sbb").cast("double")
    var_a = nd * saa - sa * sa
    var_b = nd * sbb - sb * sb
    return (
        s.filter((var_a > 0) & (var_b > 0))
        .select(
            "user_id",
            "n",
            ((nd * sab - sa * sb) / (F.sqrt(var_a) * F.sqrt(var_b))).alias(
                "acf1"
            ),
        )
    )


# ---------------------------------------------------------------------------
# CUSUM drift detection — closed-form one-sided cumulative sum
# ---------------------------------------------------------------------------

_CUSUM_H = 100 * _ACF_SCALE  # alarm when cumulative excess tops 100 value-units

_CUSUM_ORACLE = f"""
WITH v AS (
  SELECT user_id, ts, event_id,
         CAST(round(value * {_ACF_SCALE}) AS BIGINT) AS a
  FROM events
),
k AS (
  SELECT user_id,
         CAST(floor(CAST(sum(CAST(a AS DECIMAL(38,0))) AS DOUBLE)
                    / count(*)) AS BIGINT) AS target
  FROM v GROUP BY user_id
),
c AS (
  SELECT v.user_id, ts, event_id,
         CAST(sum(a - target) OVER (PARTITION BY v.user_id
                                    ORDER BY ts, event_id) AS BIGINT) AS run
  FROM v JOIN k ON v.user_id = k.user_id
),
s AS (
  SELECT user_id,
         run - least(min(run) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW), 0) AS cusum
  FROM c
)
SELECT user_id, CAST(max(cusum) AS BIGINT) AS max_cusum,
       CAST(sum(CASE WHEN cusum > {_CUSUM_H} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_alarms
FROM s GROUP BY user_id
"""


@register("events_cusum_drift", oracle=_CUSUM_ORACLE)
def events_cusum_drift(spark, sf_dir):
    """One-sided CUSUM drift screen per user: S_t = max(0, S_{t−1} +
    (x_t − target)) with target = per-user mean — the classic
    change-point / sustained-shift detector (Page 1954).

    The recursion looks inherently sequential, but has an exact closed
    form: with C_t the prefix sum of deviations, S_t = C_t − min(0,
    min_{j≤t} C_j). Both the prefix sum and the running min are plain
    partitioned window aggregates — one shuffle on user_id, then one
    sorted pass per partition, fully parallel across users. All
    arithmetic is BIGINT in the ×1e6 scaled domain (target uses an
    explicit floor, since double→int casts round differently across
    engines), so the alarm counts are exactly portable.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * _ACF_SCALE).cast("long").alias("a"),
    )
    k = v.groupBy("user_id").agg(
        F.floor(
            F.sum(F.col("a").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("target")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = v.join(k, "user_id").select(
        "user_id",
        "ts",
        "event_id",
        F.sum(F.col("a") - F.col("target")).over(w).alias("run"),
    )
    s = c.select(
        "user_id",
        (
            F.col("run")
            - F.least(F.min("run").over(w), F.lit(0).cast("long"))
        ).alias("cusum"),
    )
    return s.groupBy("user_id").agg(
        F.max("cusum").alias("max_cusum"),
        F.sum(F.when(F.col("cusum") > _CUSUM_H, 1).otherwise(0))
        .cast("long")
        .alias("n_alarms"),
    )


# ---------------------------------------------------------------------------
# Day-of-week seasonality — calendar-portable dow via epoch-day arithmetic
# ---------------------------------------------------------------------------


@register(
    "orders_dow_seasonality",
    oracle=f"""
WITH d AS (
  SELECT (datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 4) % 7
           AS dow_idx,
         o_totalprice
  FROM orders
),
byday AS (
  SELECT dow_idx, CAST(count(*) AS BIGINT) AS n_orders,
         {sql_dec_sum("o_totalprice", "revenue")}
  FROM d GROUP BY dow_idx
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_tot,
         {sql_dec_sum("o_totalprice", "rev_tot")}
  FROM d
)
SELECT dow_idx, n_orders, revenue,
       (revenue / n_orders) / (rev_tot / n_tot) AS seasonality_idx
FROM byday, tot
""",
)
def orders_dow_seasonality(spark, sf_dir):
    """Day-of-week seasonality index: average order value per weekday
    relative to the overall average — the additive-decomposition
    building block for demand forecasting.

    Day-of-week is computed as (epoch_days + 4) mod 7 (0 = Sunday;
    1970-01-01 was a Thursday) instead of each engine's dayofweek()
    — those disagree on numbering AND on locale, epoch-day arithmetic
    never does. Two tiny aggregates; the totals row is a 1-row
    broadcast cross join, so the whole query is one shuffle over 7
    groups regardless of table size.
    """
    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        F.pmod(
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")) + 4,
            F.lit(7),
        ).alias("dow_idx"),
        "o_totalprice",
    )
    byday = d.groupBy("dow_idx").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dec_sum("o_totalprice", "revenue"),
    )
    tot = d.agg(
        F.count(F.lit(1)).alias("n_tot"),
        dec_sum("o_totalprice", "rev_tot"),
    )
    return byday.crossJoin(F.broadcast(tot)).select(
        "dow_idx",
        "n_orders",
        "revenue",
        (
            (F.col("revenue") / F.col("n_orders"))
            / (F.col("rev_tot") / F.col("n_tot"))
        ).alias("seasonality_idx"),
    )


# ---------------------------------------------------------------------------
# LATERAL correlated subquery — per-customer top-N without a window
# ---------------------------------------------------------------------------

_LATERAL_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 3
) t
"""


@register("lateral_top_orders_per_customer", oracle=_LATERAL_SQL)
def lateral_top_orders_per_customer(spark, sf_dir):
    """Per-customer top-3 orders via a LATERAL correlated subquery —
    the SQL-surface feature (SQL:1999 LATERAL, supported by Spark 3.2+
    and DuckDB with identical syntax) that expresses dependent joins
    declaratively.

    Catalyst decorrelates this into the same physical shape as the
    window row_number() ≤ 3 formulation (DomainJoin → ranked filter):
    ONE shuffle on the correlation key, no per-customer re-scan of
    orders — which is exactly why the lateral form is safe at 100 TB
    while a driver-side loop over customers never is. The identical
    string runs on both engines.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_LATERAL_SQL)


# ---------------------------------------------------------------------------
# Naive Bayes language classifier — training as pure aggregation
# ---------------------------------------------------------------------------

_NB_SCALE = 1_000_000  # BIGINT micro-nats: integer log-prob domain

_NB_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
  FROM documents
),
doc_tok AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY doc_id, token
),
train AS (
  SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt
  FROM tok GROUP BY lang, token
),
lang_tot AS (
  SELECT lang, CAST(sum(cnt) AS BIGINT) AS tot FROM train GROUP BY lang
),
vocab AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS v FROM train),
doc_lang AS (SELECT doc_id, lang AS true_lang FROM documents),
priors AS (
  SELECT lang,
         CAST(round({_NB_SCALE} * ln(CAST(count(*) AS DOUBLE)
              / (SELECT count(*) FROM documents))) AS BIGINT) AS prior_l
  FROM documents GROUP BY lang
),
model AS (
  SELECT t.lang, t.token,
         CAST(round({_NB_SCALE} * ln((CAST(cnt AS DOUBLE) + 1.0)
              / (CAST(tot AS DOUBLE) + CAST(v AS DOUBLE)))) AS BIGINT) AS lp
  FROM train t JOIN lang_tot lt ON t.lang = lt.lang CROSS JOIN vocab
),
unseen AS (
  SELECT lt.lang,
         CAST(round({_NB_SCALE} * ln(1.0
              / (CAST(tot AS DOUBLE) + CAST(v AS DOUBLE)))) AS BIGINT) AS lp0
  FROM lang_tot lt CROSS JOIN vocab
),
scores AS (
  SELECT dt.doc_id, u.lang,
         max(p.prior_l) + sum(dt.c * coalesce(m.lp, u.lp0)) AS score
  FROM doc_tok dt
  CROSS JOIN unseen u
  LEFT JOIN model m ON m.lang = u.lang AND m.token = dt.token
  JOIN priors p ON p.lang = u.lang
  GROUP BY dt.doc_id, u.lang
),
ranked AS (
  SELECT doc_id, lang AS pred_lang,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lang ASC) AS rn
  FROM scores
)
SELECT r.doc_id, r.pred_lang, d.true_lang,
       r.pred_lang = d.true_lang AS correct
FROM ranked r JOIN doc_lang d ON r.doc_id = d.doc_id
WHERE rn = 1
"""


@register("text_naive_bayes_langid", oracle=_NB_ORACLE, eager=True)
def text_naive_bayes_langid(spark, sf_dir):
    """Multinomial Naive Bayes language classifier, trained AND scored
    entirely as DataFrame aggregation — the canonical example of ML
    training that needs no ML runtime: the model is a (class, token) →
    count table plus Laplace smoothing.

    Determinism: per-(lang, token) log-probs are quantized ONCE to
    BIGINT micro-nats (round(1e6·ln p)); each document's score is then
    an *integer* sum Σ c_t·lp_t + prior — associative, so the argmax
    cannot be flipped by reduction order (float log-sums can, and at
    1e-16 relative wobble, ties near decision boundaries would
    otherwise make the prediction cluster-size-dependent).

    Scale shape: training is one groupBy over (lang, token) — the
    model table is vocabulary-sized, broadcastable; scoring is
    doc_tokens × |langs| (a 5-row broadcast) left-joined against the
    broadcast model. One shuffle over doc_id for the final score
    aggregation. At 100 TB the model stays small (vocab × langs) while
    the scoring pass is embarrassingly parallel.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()

    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    )
    doc_tok = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("c")
    )
    train = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("cnt"))
    lang_tot = train.groupBy("lang").agg(F.sum("cnt").alias("tot"))
    vocab = train.agg(F.countDistinct("token").alias("v"))

    lp = (
        F.round(
            _NB_SCALE
            * F.log(
                (F.col("cnt").cast("double") + 1.0)
                / (F.col("tot").cast("double") + F.col("v").cast("double"))
            )
        )
        .cast("long")
        .alias("lp")
    )
    model = (
        train.join(lang_tot, "lang")
        .crossJoin(F.broadcast(vocab))
        .select("lang", "token", lp)
    )
    lp0 = (
        F.round(
            _NB_SCALE
            * F.log(
                1.0 / (F.col("tot").cast("double") + F.col("v").cast("double"))
            )
        )
        .cast("long")
        .alias("lp0")
    )
    unseen = lang_tot.crossJoin(F.broadcast(vocab)).select("lang", lp0)
    priors = docs.groupBy("lang").agg(
        F.round(
            _NB_SCALE
            * F.log(F.count(F.lit(1)).cast("double") / F.lit(float(n_docs)))
        )
        .cast("long")
        .alias("prior_l")
    )

    scores = (
        doc_tok.crossJoin(F.broadcast(unseen))
        .join(F.broadcast(model), ["lang", "token"], "left")
        .join(F.broadcast(priors), "lang")
        .groupBy("doc_id", "lang")
        .agg(
            (
                F.max("prior_l")
                + F.sum(F.col("c") * F.coalesce(F.col("lp"), F.col("lp0")))
            ).alias("score")
        )
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(
            F.desc("score"), F.asc("lang")
        )
    )
    ranked = scores.select(
        "doc_id", F.col("lang").alias("pred_lang"), rn.alias("rn")
    ).filter(F.col("rn") == 1)
    truth = docs.select("doc_id", F.col("lang").alias("true_lang"))
    return ranked.join(truth, "doc_id").select(
        "doc_id",
        "pred_lang",
        "true_lang",
        (F.col("pred_lang") == F.col("true_lang")).alias("correct"),
    )


# ---------------------------------------------------------------------------
# Neighborhood Jaccard — link-prediction similarity over the co-supply graph
# ---------------------------------------------------------------------------

_NJ_THRESHOLD = 0.15

_NJ_ORACLE = f"""
WITH e AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
deg AS (SELECT s, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY s),
common AS (
  SELECT a.s AS s1, b.s AS s2, CAST(count(*) AS BIGINT) AS n_common
  FROM e a JOIN e b ON a.p = b.p AND a.s < b.s
  GROUP BY a.s, b.s
)
SELECT s1, s2, n_common, d1.d AS deg1, d2.d AS deg2,
       CAST(n_common AS DOUBLE) / (d1.d + d2.d - n_common) AS jaccard
FROM common
JOIN deg d1 ON d1.s = s1
JOIN deg d2 ON d2.s = s2
WHERE CAST(n_common AS DOUBLE) / (d1.d + d2.d - n_common) >= {_NJ_THRESHOLD}
"""


@register("graph_jaccard_suppliers", oracle=_NJ_ORACLE)
def graph_jaccard_suppliers(spark, sf_dir):
    """Neighborhood-Jaccard link prediction over the supplier–part
    bipartite graph: suppliers whose part portfolios overlap ≥ 15% —
    the set-similarity join that powers "related entities" and
    substitute-vendor detection.

    Candidate pairs are generated by the co-neighbor join (two
    suppliers must share ≥1 part to score > 0 — no all-pairs blowup);
    the per-part fan-out is Σ deg(p)², so at 100 TB the scale path is
    the same prefix-filtering used in dedup_prefix_filter: drop the
    highest-degree hub parts (they contribute candidates but almost
    never decide the threshold) or process them with a dedicated
    salted pass. Counts are exact integers; Jaccard is one IEEE
    division per surviving pair.
    """
    li = load_table(spark, sf_dir, "lineitem")
    e = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct()
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    a, b = e.alias("a"), e.alias("b")
    common = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    d1 = deg.select(F.col("s").alias("s1"), F.col("d").alias("deg1"))
    d2 = deg.select(F.col("s").alias("s2"), F.col("d").alias("deg2"))
    jac = F.col("n_common").cast("double") / (
        F.col("deg1") + F.col("deg2") - F.col("n_common")
    )
    return (
        common.join(F.broadcast(d1), "s1")
        .join(F.broadcast(d2), "s2")
        .filter(jac >= _NJ_THRESHOLD)
        .select("s1", "s2", "n_common", "deg1", "deg2", jac.alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Higher central moments — exact skewness / excess kurtosis
# ---------------------------------------------------------------------------

# value scaled by 100 keeps y^4 <= 5.8e18 < 2^63 for the testdata domain
# (value <= ~5e2 per sf; headroom to ~9.6e3 before per-row overflow).
_MOM_SCALE = 100

# Shared expression fragments: the SAME strings are compiled by Spark and
# DuckDB, so the IEEE evaluation trees are identical and the results
# bit-equal. Central moments from raw moments, all over nd = n as double.
_MOM_MEAN = "d1 / nd"
_MOM_M2 = "d2 / nd - (d1 / nd) * (d1 / nd)"
_MOM_M3 = (
    "d3 / nd - 3.0 * (d1 / nd) * (d2 / nd)"
    " + 2.0 * (d1 / nd) * (d1 / nd) * (d1 / nd)"
)
_MOM_M4 = (
    "d4 / nd - 4.0 * (d1 / nd) * (d3 / nd)"
    " + 6.0 * (d1 / nd) * (d1 / nd) * (d2 / nd)"
    " - 3.0 * (d1 / nd) * (d1 / nd) * (d1 / nd) * (d1 / nd)"
)

_MOMENTS_ORACLE = f"""
WITH p AS (
  SELECT event_type,
         CAST(round(value * {_MOM_SCALE}) AS BIGINT) AS y
  FROM events
),
s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(y AS DECIMAL(38,0))) AS s1,
         sum(CAST(y * y AS DECIMAL(38,0))) AS s2,
         sum(CAST(y * y * y AS DECIMAL(38,0))) AS s3,
         -- y^4 exceeds BIGINT (y=56021 -> 9.8e18 > 2^63): square y^2 in
         -- 128-bit instead of 64-bit integers
         sum(CAST(CAST(y * y AS HUGEINT) * (y * y) AS DECIMAL(38,0))) AS s4
  FROM p GROUP BY event_type
),
d AS (
  -- s3/s4 can exceed 2^64: a direct decimal->double cast is 1-ULP
  -- engine-dependent (DuckDB's hugeint path double-rounds). Split into
  -- three exactly-representable 32-bit words instead; for sums below
  -- 2^85 (ours are <= ~1e24) the recombination costs exactly ONE IEEE
  -- rounding (power-of-two scalings are exact and hi*2^32+mid stays
  -- under 2^53), identically on any engine.
  SELECT event_type, n, CAST(n AS DOUBLE) AS nd,
         CAST(s1 AS DOUBLE) AS d1, CAST(s2 AS DOUBLE) AS d2,
         (CAST(CAST(s3 AS HUGEINT) // 4294967296 // 4294967296 AS DOUBLE)
            * 4294967296.0
          + CAST(CAST(s3 AS HUGEINT) // 4294967296 % 4294967296 AS DOUBLE))
           * 4294967296.0
         + CAST(CAST(s3 AS HUGEINT) % 4294967296 AS DOUBLE) AS d3,
         (CAST(CAST(s4 AS HUGEINT) // 4294967296 // 4294967296 AS DOUBLE)
            * 4294967296.0
          + CAST(CAST(s4 AS HUGEINT) // 4294967296 % 4294967296 AS DOUBLE))
           * 4294967296.0
         + CAST(CAST(s4 AS HUGEINT) % 4294967296 AS DOUBLE) AS d4
  FROM s
),
m AS (
  SELECT event_type, n,
         {_MOM_MEAN} AS mean_scaled, {_MOM_M2} AS m2,
         {_MOM_M3} AS m3, {_MOM_M4} AS m4
  FROM d
)
SELECT event_type, n, mean_scaled,
       m3 / (m2 * sqrt(m2)) AS skewness,
       m4 / (m2 * m2) - 3.0 AS excess_kurtosis
FROM m WHERE m2 > 0
"""


@register("events_skew_kurtosis", oracle=_MOMENTS_ORACLE)
def events_skew_kurtosis(spark, sf_dir):
    """Exact per-type skewness and excess kurtosis — the distribution-
    shape screen behind outlier policy (heavy tails → MAD fences, not
    z-scores) and drift monitors.

    Spark's builtin `skewness`/`kurtosis` stream float moments whose
    low bits depend on partition merge order — unreproducible across
    cluster sizes. Here the four raw moments are integer-scaled and
    summed as DECIMAL(38,0) (associative → any partitioning yields the
    same bits), and the central-moment formulas are *shared expression
    strings* compiled by both engines — the whole query is one
    map-side-combined shuffle of five counters per event type.
    """
    ev = load_table(spark, sf_dir, "events")
    y = F.round(F.col("value") * _MOM_SCALE).cast("long")
    dec = "decimal(38,0)"
    s = (
        ev.select("event_type", y.alias("y"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("y").cast(dec)).alias("s1"),
            F.sum((F.col("y") * F.col("y")).cast(dec)).alias("s2"),
            F.sum(
                (F.col("y") * F.col("y") * F.col("y")).cast(dec)
            ).alias("s3"),
            # y^4 > 2^63 for values past ~542: square y^2 as DECIMAL
            F.sum(
                (F.col("y") * F.col("y")).cast(dec)
                * (F.col("y") * F.col("y"))
            ).alias("s4"),
        )
    )
    # s3/s4 > 2^64: split into three exact 32-bit words and recombine
    # with the identical one-rounding IEEE expression the oracle uses
    # (direct decimal->double casts of >64-bit values differ by 1 ULP
    # between engines).
    def _words(col: str) -> str:
        return (
            f"(cast({col} div 4294967296 div 4294967296 as double)"
            f" * 4294967296.0"
            f" + cast(({col} div 4294967296) % 4294967296 as double))"
            f" * 4294967296.0"
            f" + cast({col} % 4294967296 as double)"
        )

    d = s.selectExpr(
        "event_type",
        "n",
        "cast(n as double) AS nd",
        "cast(s1 as double) AS d1",
        "cast(s2 as double) AS d2",
        f"{_words('s3')} AS d3",
        f"{_words('s4')} AS d4",
    )
    m = d.selectExpr(
        "event_type",
        "n",
        f"{_MOM_MEAN} AS mean_scaled",
        f"{_MOM_M2} AS m2",
        f"{_MOM_M3} AS m3",
        f"{_MOM_M4} AS m4",
    )
    return m.filter("m2 > 0").selectExpr(
        "event_type",
        "n",
        "mean_scaled",
        "m3 / (m2 * sqrt(m2)) AS skewness",
        "m4 / (m2 * m2) - 3.0 AS excess_kurtosis",
    )


@register(
    "events_rolling_median_value",
    oracle="""
WITH daily AS (
  SELECT CAST(epoch(CAST(date_trunc('day', ts) AS DATE)) // 86400
              AS BIGINT) AS d,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
  FROM events GROUP BY 1
),
win AS (
  SELECT a.d, b.v
  FROM daily a JOIN daily b ON b.d BETWEEN a.d - 6 AND a.d
),
med AS (SELECT d, median(v) AS med7, count(*) AS n_days FROM win GROUP BY d),
dev AS (
  SELECT w.d, abs(w.v - m.med7) AS adev
  FROM win w JOIN med m ON w.d = m.d
)
SELECT m.d AS day_idx, m.med7, q.mad7, CAST(m.n_days AS BIGINT) AS n_days
FROM med m JOIN (SELECT d, median(adev) AS mad7 FROM dev GROUP BY d) q
  ON m.d = q.d
""",
)
def events_rolling_median_value(spark, sf_dir):
    """Rolling 7-day median and MAD of daily event value — the robust
    band behind outlier-tolerant monitoring, and a frame no native
    window supports (median isn't an algebraic aggregate). Scale
    shape: collapse to the day spine first (one hash agg over events),
    then a bounded range self-join materializes each window's ≤ 7
    members and two tiny median aggregates finish — O(days·w) rows
    total, never a data-sized sort. DECIMAL daily sums and both
    engines' identical even-count median interpolation keep it exactly
    replayable."""
    from wikipedia_data_pipeline_spark.sources.tables import load_table

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.unix_date(
                F.date_trunc("day", F.timestamp_micros(F.col("ts")))
                .cast("date")
            ).cast("long").alias("d")
        )
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("v")
        )
    )
    b = daily.select(F.col("d").alias("d2"), F.col("v").alias("v2"))
    win = daily.select("d").join(
        b,
        (F.col("d2") >= F.col("d") - 6) & (F.col("d2") <= F.col("d")),
    )
    med = win.groupBy("d").agg(
        F.median("v2").alias("med7"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    dev = win.join(F.broadcast(med), "d").select(
        "d", F.abs(F.col("v2") - F.col("med7")).alias("adev")
    )
    mad = dev.groupBy("d").agg(F.median("adev").alias("mad7"))
    return (
        med.join(mad, "d")
        .select(F.col("d").alias("day_idx"), "med7", "mad7", "n_days")
    )


def _daily_event_counts(spark, sf_dir):
    """(d, n): events per epoch day, the only fact-sized work of the
    seasonal-naive forecast evaluations."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.unix_date(
                F.date_trunc("day", F.timestamp_micros(F.col("ts")))
                .cast("date")
            ).cast("long").alias("d")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "events_seasonal_naive_eval",
    oracle="""
WITH daily AS (
  SELECT CAST(epoch(CAST(date_trunc('day', ts) AS DATE)) // 86400
              AS BIGINT) AS d,
         count(*) AS n
  FROM events GROUP BY 1
),
lagd AS (
  SELECT d, n,
         lag(n, 7) OVER (ORDER BY d) AS season7,
         lag(n, 1) OVER (ORDER BY d) AS naive1
  FROM daily
),
e AS (
  SELECT abs(n - season7) AS e7, abs(n - naive1) AS e1
  FROM lagd WHERE season7 IS NOT NULL AND naive1 IS NOT NULL
)
SELECT CAST(count(*) AS BIGINT) AS n_days_eval,
       CAST(sum(e7) AS DOUBLE) / count(*) AS mae_seasonal,
       CAST(sum(e1) AS DOUBLE) / count(*) AS mae_naive,
       CAST(sum(e7) AS DOUBLE) / sum(e1) AS mase_ratio
FROM e
""",
)
def events_seasonal_naive_eval(spark, sf_dir):
    """Forecast-baseline evaluation on the daily event count: the MAE
    of a weekly seasonal-naive forecast (ŷ_t = y_{t−7}) against the
    1-step naive, and their MASE-style ratio — the sanity floor every
    real forecasting pipeline must beat before it ships. Integer
    counts make every error term and sum exact in BIGINT (no float
    reduction order anywhere); the two final divisions replay
    identically. Day-spine window is driver-tiny; the only data-sized
    work is the daily count aggregate. Dense-day assumption: lag
    counts rows like orders_yoy_growth, noted there."""
    from pyspark.sql import Window

    daily = _daily_event_counts(spark, sf_dir)
    w = Window.orderBy("d")
    lagd = daily.select(
        "d",
        "n",
        F.lag("n", 7).over(w).alias("season7"),
        F.lag("n", 1).over(w).alias("naive1"),
    )
    e = lagd.filter(
        F.col("season7").isNotNull() & F.col("naive1").isNotNull()
    ).select(
        F.abs(F.col("n") - F.col("season7")).alias("e7"),
        F.abs(F.col("n") - F.col("naive1")).alias("e1"),
    )
    return e.agg(
        F.count(F.lit(1)).cast("long").alias("n_days_eval"),
        (F.sum("e7").cast("double") / F.count(F.lit(1))).alias(
            "mae_seasonal"
        ),
        (F.sum("e1").cast("double") / F.count(F.lit(1))).alias("mae_naive"),
        (F.sum("e7").cast("double") / F.sum("e1")).alias("mase_ratio"),
    )


@register(
    "events_ccf_view_click",
    oracle="""
WITH daily AS (
  SELECT CAST(epoch(CAST(date_trunc('day', ts) AS DATE)) // 86400
              AS BIGINT) AS d,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS a,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS b
  FROM events GROUP BY 1
),
lags AS (SELECT CAST(unnest(generate_series(-7, 7)) AS BIGINT) AS lag),
paired AS (
  SELECT l.lag, x.a, y.b
  FROM lags l
  JOIN daily x ON TRUE
  JOIN daily y ON y.d = x.d + l.lag
),
m AS (
  SELECT lag, count(*) AS n,
         sum(a) AS sa, sum(b) AS sb,
         sum(a * a) AS saa, sum(b * b) AS sbb, sum(a * b) AS sab
  FROM paired GROUP BY lag
)
SELECT lag, CAST(n AS BIGINT) AS n_days,
       CAST(n * sab - sa * sb AS DOUBLE)
         / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                * CAST(n * sbb - sb * sb AS DOUBLE)) AS ccf
FROM m
""",
)
def events_ccf_view_click(spark, sf_dir):
    """Cross-correlation function between the daily view and click
    series at lags −7..+7 — the lead-lag discovery behind 'do views
    drive clicks N days later'. All moments are integer sums over the
    day spine (bit-exact in any reduction order); the only floating
    point is the final Pearson assembly, whose one transcendental is
    sqrt — IEEE-correctly-rounded everywhere, unlike ln/exp, so the
    oracle replays it exactly (the same trick events_autocorr_lag1
    relies on). The lag expansion is a 15-row broadcast against the
    driver-tiny day relation."""

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            F.unix_date(
                F.date_trunc("day", F.timestamp_micros(F.col("ts")))
                .cast("date")
            ).cast("long").alias("d")
        )
        .agg(
            F.sum((F.col("event_type") == "view").cast("int"))
            .cast("long")
            .alias("a"),
            F.sum((F.col("event_type") == "click").cast("int"))
            .cast("long")
            .alias("b"),
        )
    )
    lags = spark.range(-7, 8).select(F.col("id").alias("lag"))
    x = daily.select("d", "a")
    y = daily.select(F.col("d").alias("d2"), "b")
    paired = (
        x.crossJoin(F.broadcast(lags))
        .join(y, F.col("d2") == F.col("d") + F.col("lag"))
    )
    m = paired.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum(F.col("a") * F.col("a")).alias("saa"),
        F.sum(F.col("b") * F.col("b")).alias("sbb"),
        F.sum(F.col("a") * F.col("b")).alias("sab"),
    )
    num = (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")).cast(
            "double"
        )
        * (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")).cast(
            "double"
        )
    )
    return m.select(
        "lag",
        F.col("n").cast("long").alias("n_days"),
        (num / den).alias("ccf"),
    )


# --- Symbolic representation (round 11, session 2) ----------------------

_SAX_ORACLE = """
WITH v AS (
  SELECT user_id,
         CAST(round(value * 1000000) AS BIGINT) AS v_u,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) - 1 AS BIGINT) AS idx,
         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
  FROM events
),
el AS (SELECT * FROM v WHERE n >= 8),
seg AS (
  SELECT user_id, n, (idx * 8) // n AS seg,
         CAST(sum(v_u) AS HUGEINT) AS s_seg,
         CAST(count(*) AS BIGINT) AS c_seg
  FROM el GROUP BY user_id, n, (idx * 8) // n
),
u AS (
  SELECT user_id,
         CAST(sum(v_u) AS HUGEINT) AS s,
         CAST(sum(CAST(v_u AS HUGEINT) * v_u) AS HUGEINT) AS q,
         CAST(count(*) AS BIGINT) AS n
  FROM el GROUP BY user_id
),
z AS (
  SELECT seg.user_id, seg.seg,
         CAST(seg.s_seg * u.n - CAST(seg.c_seg AS HUGEINT) * u.s AS DOUBLE)
           AS a_d,
         CAST(seg.c_seg AS DOUBLE) AS c_d,
         CAST(u.n * u.q - u.s * u.s AS DOUBLE) AS dd
  FROM seg JOIN u ON u.user_id = seg.user_id
),
sym AS (
  SELECT user_id, seg,
         CASE
           WHEN dd = 0.0 THEN 'c'
           WHEN a_d < -0.6745 * c_d * sqrt(dd) THEN 'a'
           WHEN a_d < 0.0 THEN 'b'
           WHEN a_d < 0.6745 * c_d * sqrt(dd) THEN 'c'
           ELSE 'd'
         END AS sym
  FROM z
),
words AS (
  SELECT user_id, string_agg(sym, '' ORDER BY seg) AS sax_word
  FROM sym GROUP BY user_id
)
SELECT sax_word, CAST(count(*) AS BIGINT) AS n_users
FROM words GROUP BY sax_word
ORDER BY n_users DESC, sax_word
"""


@register("events_sax_symbols", oracle=_SAX_ORACLE)
def events_sax_symbols(spark, sf_dir):
    """SAX symbolization (Lin et al. 2003) of each user's event-value
    series: PAA into w=8 frames (frame of the 0-based position i is
    (i·8) div n — deterministic integer binning, every frame non-empty
    once n ≥ 8), per-user z-normalization, then the 4-letter alphabet
    via the standard Gaussian breakpoints ±0.6745/0 — the symbolic
    index that makes motif/novelty search over billions of series a
    string problem. Output: corpus histogram of SAX words.

    Exactness: values quantize ONCE to micro-units; per-user moments
    (S, Q=Σv², D=nQ−S²) and the per-frame deviation A = n·s_seg −
    c_seg·S are exact integers in DECIMAL(38,0); the symbol compare
    A ≶ ±0.6745·c·√D runs in doubles built from those exact integers
    by one canonical tree (IEEE sqrt is correctly rounded, so both
    engines agree bit-for-bit). Flat series (D=0, z undefined) map to
    'c' explicitly.

    Scale shape: one user-partitioned rank window over the fact scan,
    then two co-keyed hash aggs (user×frame, user) joined on the user
    key and an 8-row-per-user pivot — no global window, no skew hazard
    beyond the per-user event count itself."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    v = ev.select(
        "user_id",
        F.round(F.col("value") * 1_000_000).cast("long").alias("v_u"),
        (F.row_number().over(w_u) - 1).cast("long").alias("idx"),
        F.count(F.lit(1))
        .over(Window.partitionBy("user_id"))
        .cast("long")
        .alias("n"),
    ).filter(F.col("n") >= 8)
    seg = v.groupBy(
        "user_id", "n", F.expr("(idx * 8) div n").alias("seg")
    ).agg(
        F.sum("v_u").cast("decimal(38,0)").alias("s_seg"),
        F.count(F.lit(1)).cast("long").alias("c_seg"),
    )
    u = v.groupBy("user_id").agg(
        F.sum("v_u").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("v_u").cast("decimal(38,0)") * F.col("v_u")).alias("q"),
        F.count(F.lit(1)).cast("long").alias("n_u"),
    )
    z = seg.join(u, "user_id").select(
        "user_id",
        "seg",
        (
            F.col("s_seg") * F.col("n_u")
            - F.col("c_seg").cast("decimal(38,0)") * F.col("s")
        )
        .cast("double")
        .alias("a_d"),
        F.col("c_seg").cast("double").alias("c_d"),
        (F.col("n_u") * F.col("q") - F.col("s") * F.col("s"))
        .cast("double")
        .alias("dd"),
    )
    t = F.lit(0.6745) * F.col("c_d") * F.sqrt(F.col("dd"))
    sym = (
        F.when(F.col("dd") == 0.0, F.lit("c"))
        .when(F.col("a_d") < -t, F.lit("a"))
        .when(F.col("a_d") < 0.0, F.lit("b"))
        .when(F.col("a_d") < t, F.lit("c"))
        .otherwise(F.lit("d"))
    )
    words = (
        z.select("user_id", "seg", sym.alias("sym"))
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "", F.array_sort(F.collect_list(F.struct("seg", "sym"))).getField("sym")
            ).alias("sax_word")
        )
    )
    return (
        words.groupBy("sax_word")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("sax_word"))
    )


# ---------------------------------------------------------------------------
# Full regression-metrics panel for the seasonal-naive forecast (r12)
# ---------------------------------------------------------------------------

_REGPANEL_ORACLE = """
WITH daily AS (
  SELECT CAST(epoch(CAST(date_trunc('day', ts) AS DATE)) // 86400
              AS BIGINT) AS d,
         count(*) AS n
  FROM events GROUP BY 1
),
lagd AS (
  SELECT d, n, lag(n, 7) OVER (ORDER BY d) AS f
  FROM daily
),
e AS (
  SELECT n, f, n - f AS err,
         CAST(round(2000000000.0 * abs(CAST(n - f AS DOUBLE))
                    / (CAST(n AS DOUBLE) + CAST(f AS DOUBLE)))
           AS BIGINT) AS smape_nano
  FROM lagd WHERE f IS NOT NULL
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(err) AS BIGINT) AS s_err,
         CAST(sum(abs(err)) AS BIGINT) AS s_abs,
         CAST(sum(err * err) AS BIGINT) AS s_sq,
         CAST(sum(n) AS BIGINT) AS s_y,
         CAST(sum(n * n) AS BIGINT) AS s_y2,
         CAST(sum(smape_nano) AS BIGINT) AS s_smape_nano
  FROM e
)
SELECT n_days, s_err, s_abs, s_sq, s_smape_nano,
       CAST(s_err AS DOUBLE) / CAST(n_days AS DOUBLE) AS bias,
       CAST(s_abs AS DOUBLE) / CAST(n_days AS DOUBLE) AS mae,
       sqrt(CAST(s_sq AS DOUBLE) / CAST(n_days AS DOUBLE)) AS rmse,
       1.0 - CAST(n_days AS DOUBLE) * CAST(s_sq AS DOUBLE)
             / (CAST(n_days AS DOUBLE) * CAST(s_y2 AS DOUBLE)
                - CAST(s_y AS DOUBLE) * CAST(s_y AS DOUBLE)) AS r2,
       CAST(s_smape_nano AS DOUBLE) / CAST(n_days AS DOUBLE)
         / 1000000000.0 AS smape
FROM s
"""


@register("ml_eval_regression_panel", oracle=_REGPANEL_ORACLE)
def ml_eval_regression_panel(spark, sf_dir):
    """Full regression-metrics panel for the weekly seasonal-naive
    forecast of the daily event count: bias, MAE, RMSE, R², sMAPE —
    the standard scorecard a forecasting/regression eval pipeline
    reports next to `events_seasonal_naive_eval`'s MASE floor.

    Exactness: integer daily counts make every error sum (Σe, Σ|e|,
    Σe², Σy, Σy²) an exact BIGINT; R² = 1 − n·Σe²/(n·Σy² − (Σy)²) is
    one fixed double of exact integers (no rational mean anywhere);
    the per-day sMAPE quotient is nano-quantized before its exact sum
    (privacy_dp_release_counts discipline). Scale: the only fact-sized
    work is the daily count hash agg; the day-spine lag window is
    driver-tiny (same dense-day note as events_seasonal_naive_eval)."""
    from pyspark.sql import Window

    daily = _daily_event_counts(spark, sf_dir)
    w = Window.orderBy("d")
    lagd = daily.select("d", "n", F.lag("n", 7).over(w).alias("f"))
    err = F.col("n") - F.col("f")
    e = lagd.filter(F.col("f").isNotNull()).select(
        "n",
        "f",
        err.alias("err"),
        F.round(
            F.lit(2_000_000_000.0)
            * F.abs(err.cast("double"))
            / (F.col("n").cast("double") + F.col("f").cast("double"))
        )
        .cast("long")
        .alias("smape_nano"),
    )
    s = e.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("err").cast("long").alias("s_err"),
        F.sum(F.abs(F.col("err"))).cast("long").alias("s_abs"),
        F.sum(F.col("err") * F.col("err")).cast("long").alias("s_sq"),
        F.sum("n").cast("long").alias("s_y"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("s_y2"),
        F.sum("smape_nano").cast("long").alias("s_smape_nano"),
    )
    nd = F.col("n_days").cast("double")
    return s.select(
        "n_days",
        "s_err",
        "s_abs",
        "s_sq",
        "s_smape_nano",
        (F.col("s_err").cast("double") / nd).alias("bias"),
        (F.col("s_abs").cast("double") / nd).alias("mae"),
        F.sqrt(F.col("s_sq").cast("double") / nd).alias("rmse"),
        (
            F.lit(1.0)
            - nd
            * F.col("s_sq").cast("double")
            / (
                nd * F.col("s_y2").cast("double")
                - F.col("s_y").cast("double") * F.col("s_y").cast("double")
            )
        ).alias("r2"),
        (
            F.col("s_smape_nano").cast("double") / nd / 1_000_000_000.0
        ).alias("smape"),
    )


# ---------------------------------------------------------------------------
# Hurst exponent via rescaled-range (R/S) analysis (round 12 s4)
# ---------------------------------------------------------------------------
# Long-memory screen on hourly event volume: H ~ 0.5 means iid-like
# traffic, H -> 1 means persistent (bursty/trending) load — the thing
# that decides whether capacity planning can use sqrt(n) pooling. Block
# R/S stays EXACT-integer right up to the final per-block double:
# with integer counts x over a w-point block, w*Y_k = w*cumsum_k - k*S
# is integral, the range R*w = max(w*Y, 0) - min(w*Y, 0) is integral,
# and R/S = Rw / sqrt(w*SS - S^2) — ONE double from two exact integers
# per block (population std folds into the same radical). Per-block
# values are nano-quantized before averaging; the log-log OLS slope
# over the <=4 (log2 w, log2 mean_rs) points runs on nano-quantized
# BIGINTs so the 4-term sums are order-free.

_HURST_WINDOWS = [8, 16, 32, 64]

_HURST_ORACLE = f"""
WITH hc AS (
  SELECT epoch_us(ts) // 3600000000 AS h, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
idx AS (
  SELECT x, CAST(row_number() OVER (ORDER BY h) - 1 AS BIGINT) AS t
  FROM hc
),
blk AS (
  SELECT ws.w, idx.t // ws.w AS b, idx.t % ws.w + 1 AS kk, idx.x
  FROM idx, (SELECT unnest({_HURST_WINDOWS}) AS w) ws
),
full_blk AS (SELECT w, b FROM blk GROUP BY w, b HAVING count(*) = w),
cum AS (
  SELECT blk.w, blk.b, blk.kk, blk.x,
         sum(x) OVER (PARTITION BY blk.w, blk.b ORDER BY kk
                      ROWS UNBOUNDED PRECEDING) AS cx,
         sum(x) OVER (PARTITION BY blk.w, blk.b) AS s,
         sum(x * x) OVER (PARTITION BY blk.w, blk.b) AS ss
  FROM blk JOIN full_blk USING (w, b)
),
per_blk AS (
  SELECT w, b,
         greatest(max(w * cx - kk * s), 0)
           - least(min(w * cx - kk * s), 0) AS rw,
         max(w * ss - s * s) AS rad
  FROM cum GROUP BY w, b
),
rs AS (
  SELECT w,
         CAST(round(1e9 * CAST(rw AS DOUBLE) / sqrt(CAST(rad AS DOUBLE)))
              AS BIGINT) AS rs_nano
  FROM per_blk WHERE rad > 0
),
perw AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n_blocks,
         CAST(sum(rs_nano) AS BIGINT) AS sum_rs_nano
  FROM rs GROUP BY w
),
pts AS (
  SELECT w, n_blocks,
         CAST(sum_rs_nano AS DOUBLE) / CAST(n_blocks AS DOUBLE) / 1e9
           AS mean_rs,
         CAST(round(log2(CAST(w AS DOUBLE))) AS BIGINT) AS lx,
         CAST(round(1e9 * log2(CAST(sum_rs_nano AS DOUBLE)
                    / CAST(n_blocks AS DOUBLE) / 1e9)) AS BIGINT) AS y_nano
  FROM perw
),
ols AS (
  SELECT (CAST(count(*) AS DOUBLE) * CAST(sum(lx * y_nano) AS DOUBLE)
          - CAST(sum(lx) AS DOUBLE) * CAST(sum(y_nano) AS DOUBLE))
         / (CAST(count(*) AS DOUBLE) * CAST(sum(lx * lx) AS DOUBLE)
            - CAST(sum(lx) AS DOUBLE) * CAST(sum(lx) AS DOUBLE)) / 1e9
           AS hurst
  FROM pts
)
SELECT CAST(pts.w AS BIGINT) AS w, pts.n_blocks, pts.mean_rs, ols.hurst
FROM pts, ols
"""


@register("events_hurst_rs", oracle=_HURST_ORACLE)
def events_hurst_rs(spark, sf_dir):
    """Hurst exponent of hourly event volume by rescaled-range (R/S)
    analysis over block sizes {8,16,32,64}: slope of log2(mean R/S)
    on log2(w). See the module-level derivation comment: per-block R/S
    is one double from two exact integers (w*cumdev range over
    sqrt(w*SS - S^2)), nano-quantized before the block average, and
    the final OLS runs on quantized BIGINTs. The series is calendar-
    bounded (one hash agg off the fact); all windows are per-block or
    above that bounded relation."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hc = ev.groupBy(F.expr("ts div 3600000000").alias("h")).agg(
        F.count(F.lit(1)).alias("x")
    )
    wh = Window.orderBy("h")
    idx = hc.select(
        "x", (F.row_number().over(wh) - 1).cast("long").alias("t")
    )
    ws = spark.range(len(_HURST_WINDOWS)).select(
        F.element_at(
            F.array(*[F.lit(w) for w in _HURST_WINDOWS]),
            (F.col("id") + 1).cast("int"),
        )
        .cast("long")
        .alias("w")
    )
    blk = idx.crossJoin(F.broadcast(ws)).select(
        "w",
        F.expr("t div w").alias("b"),
        (F.col("t") % F.col("w") + 1).alias("kk"),
        "x",
    )
    full_blk = (
        blk.groupBy("w", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") == F.col("w"))
        .select("w", "b")
    )
    wb = Window.partitionBy("w", "b")
    wbo = wb.orderBy("kk").rowsBetween(Window.unboundedPreceding, 0)
    cum = blk.join(full_blk, ["w", "b"]).select(
        "w",
        "b",
        "kk",
        F.sum("x").over(wbo).alias("cx"),
        F.sum("x").over(wb).alias("s"),
        F.sum(F.col("x") * F.col("x")).over(wb).alias("ss"),
    )
    wy = F.col("w") * F.col("cx") - F.col("kk") * F.col("s")
    per_blk = cum.groupBy("w", "b").agg(
        (
            F.greatest(F.max(wy), F.lit(0).cast("long"))
            - F.least(F.min(wy), F.lit(0).cast("long"))
        ).alias("rw"),
        F.max(F.col("w") * F.col("ss") - F.col("s") * F.col("s")).alias(
            "rad"
        ),
    )
    rs = per_blk.filter(F.col("rad") > 0).select(
        "w",
        F.round(
            1e9 * F.col("rw").cast("double") / F.sqrt(F.col("rad").cast("double"))
        )
        .cast("long")
        .alias("rs_nano"),
    )
    perw = rs.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum("rs_nano").cast("long").alias("sum_rs_nano"),
    )
    mean_rs = (
        F.col("sum_rs_nano").cast("double")
        / F.col("n_blocks").cast("double")
        / 1e9
    )
    pts = perw.select(
        "w",
        "n_blocks",
        mean_rs.alias("mean_rs"),
        F.round(F.log2(F.col("w").cast("double"))).cast("long").alias("lx"),
        F.round(1e9 * F.log2(mean_rs)).cast("long").alias("y_nano"),
    )
    ols = pts.agg(
        (
            (
                F.count(F.lit(1)).cast("double")
                * F.sum(F.col("lx") * F.col("y_nano")).cast("double")
                - F.sum("lx").cast("double") * F.sum("y_nano").cast("double")
            )
            / (
                F.count(F.lit(1)).cast("double")
                * F.sum(F.col("lx") * F.col("lx")).cast("double")
                - F.sum("lx").cast("double") * F.sum("lx").cast("double")
            )
            / 1e9
        ).alias("hurst")
    )
    return pts.crossJoin(F.broadcast(ols)).select(
        F.col("w").cast("long").alias("w"), "n_blocks", "mean_rs", "hurst"
    )


# ---------------------------------------------------------------------------
# Partial autocorrelation (Durbin-Levinson) on hourly counts (r12s6)
# ---------------------------------------------------------------------------
# PACF phi_kk — the correlation at lag k AFTER removing the shorter
# lags — is what actually identifies an AR(p) order; the raw ACF that
# stats_ljung_box reports decays geometrically for ANY AR(1) and so
# over-reads memory. rho_1..4 reuse the Ljung-Box construction (exact
# n-scaled DECIMAL cross-products, calendar-lag self-join on the
# bounded hourly relation, one double division each); the
# Durbin-Levinson recursion is then FIXED-DEPTH scalar double algebra
# over those four identical-in-both-engines doubles, unrolled
# identically in Spark and SQL — no iteration, no quantization.

def _pacf_oracle() -> str:
    from wikipedia_data_pipeline_spark.queries.statsseries_queries import (
        _HOURLY_CNT,
    )

    return f"""
WITH hc AS ({_HOURLY_CNT}),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx
  FROM hc
),
den AS (
  SELECT sum(CAST(t.n * hc.x - t.sx AS DECIMAL(38,0))
             * (t.n * hc.x - t.sx)) AS den2
  FROM hc, tot t
),
pairs AS (
  SELECT lg.lag, a.x AS a, b.x AS b
  FROM (SELECT unnest(range(1, 5)) AS lag) lg
  JOIN hc a ON true
  JOIN hc b ON a.h - lg.lag = b.h
),
num AS (
  SELECT lag,
         sum(CAST(t.n * a - t.sx AS DECIMAL(38,0)) * (t.n * b - t.sx))
           AS num2
  FROM pairs, tot t GROUP BY lag
),
p AS (
  SELECT
    max(CASE WHEN lag = 1 THEN CAST(num2 AS DOUBLE) / CAST(d.den2 AS DOUBLE) END) AS p1,
    max(CASE WHEN lag = 2 THEN CAST(num2 AS DOUBLE) / CAST(d.den2 AS DOUBLE) END) AS p2,
    max(CASE WHEN lag = 3 THEN CAST(num2 AS DOUBLE) / CAST(d.den2 AS DOUBLE) END) AS p3,
    max(CASE WHEN lag = 4 THEN CAST(num2 AS DOUBLE) / CAST(d.den2 AS DOUBLE) END) AS p4
  FROM num, den d
),
l2 AS (SELECT *, (p2 - p1 * p1) / (1 - p1 * p1) AS f22 FROM p),
l2b AS (SELECT *, p1 - f22 * p1 AS f21 FROM l2),
l3 AS (SELECT *, (p3 - f21 * p2 - f22 * p1)
                   / (1 - f21 * p1 - f22 * p2) AS f33 FROM l2b),
l3b AS (SELECT *, f21 - f33 * f22 AS f31, f22 - f33 * f21 AS f32 FROM l3),
l4 AS (SELECT *, (p4 - f31 * p3 - f32 * p2 - f33 * p1)
                   / (1 - f31 * p1 - f32 * p2 - f33 * p3) AS f44 FROM l3b)
SELECT CAST(1 AS BIGINT) AS lag, p1 AS acf, p1 AS pacf FROM l4
UNION ALL SELECT CAST(2 AS BIGINT), p2, f22 FROM l4
UNION ALL SELECT CAST(3 AS BIGINT), p3, f33 FROM l4
UNION ALL SELECT CAST(4 AS BIGINT), p4, f44 FROM l4
"""


@register("stats_pacf_durbin_levinson", oracle=_pacf_oracle())
def stats_pacf_durbin_levinson(spark, sf_dir):
    """ACF and PACF at lags 1..4 on hourly event counts via the
    Durbin-Levinson recursion — the AR-order identification panel next
    to stats_ljung_box's whiteness test. See the section comment; the
    only fact-sized work is the one hourly hash agg."""
    from wikipedia_data_pipeline_spark.queries.statsseries_queries import (
        _hourly_counts,
    )

    hc = _hourly_counts(spark, sf_dir)
    tot = hc.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
    )
    dec = "decimal(38,0)"
    hct = hc.crossJoin(F.broadcast(tot))
    cen = (F.col("n") * F.col("x") - F.col("sx")).cast(dec)
    den = hct.agg(
        F.sum(cen * (F.col("n") * F.col("x") - F.col("sx"))).alias("den2")
    )
    lags = spark.range(1, 5).select(F.col("id").cast("int").alias("lag"))
    a = hc.select(F.col("h").alias("ha"), F.col("x").alias("a"))
    b = hc.select(F.col("h").alias("hb"), F.col("x").alias("b"))
    pairs = (
        lags.crossJoin(a)
        .join(F.broadcast(b), F.col("ha") - F.col("lag") == F.col("hb"))
        .crossJoin(F.broadcast(tot))
    )
    num = pairs.groupBy("lag").agg(
        F.sum(
            (F.col("n") * F.col("a") - F.col("sx")).cast(dec)
            * (F.col("n") * F.col("b") - F.col("sx"))
        ).alias("num2")
    )
    rho_c = F.col("num2").cast("double") / F.col("den2").cast("double")
    p = (
        num.crossJoin(F.broadcast(den))
        .select("lag", rho_c.alias("rho"))
        .agg(
            *[
                F.max(F.when(F.col("lag") == k, F.col("rho"))).alias(f"p{k}")
                for k in (1, 2, 3, 4)
            ]
        )
    )
    p1, p2, p3, p4 = (F.col(f"p{k}") for k in (1, 2, 3, 4))
    l2 = p.withColumn("f22", (p2 - p1 * p1) / (1 - p1 * p1))
    l2b = l2.withColumn("f21", p1 - F.col("f22") * p1)
    f21, f22 = F.col("f21"), F.col("f22")
    l3 = l2b.withColumn(
        "f33", (p3 - f21 * p2 - f22 * p1) / (1 - f21 * p1 - f22 * p2)
    )
    f33 = F.col("f33")
    l3b = l3.withColumn("f31", f21 - f33 * f22).withColumn(
        "f32", f22 - f33 * f21
    )
    f31, f32 = F.col("f31"), F.col("f32")
    l4 = l3b.withColumn(
        "f44",
        (p4 - f31 * p3 - f32 * p2 - f33 * p1)
        / (1 - f31 * p1 - f32 * p2 - f33 * p3),
    )
    return l4.selectExpr(
        "stack(4, CAST(1 AS BIGINT), p1, p1,"
        " CAST(2 AS BIGINT), p2, f22,"
        " CAST(3 AS BIGINT), p3, f33,"
        " CAST(4 AS BIGINT), p4, f44) AS (lag, acf, pacf)"
    )
