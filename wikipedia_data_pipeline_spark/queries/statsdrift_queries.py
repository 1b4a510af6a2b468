"""Drift screens, dependence measures, trend/change detection, and
sequential tests over the events stream: PSI, Benford, correlation
matrix, mutual information, KL divergence, lognormal fit, Theil-Sen /
Mann-Kendall trend, CUSUM change-point, and the SPRT sequential A/B.
All exact-oracle: statistics reduce to counts/ranks/decimal sums both
engines compute bit-identically. Split out of statstests_queries
(round 11 — the fixed-horizon hypothesis tests stay there)."""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.queries.streaming_queries import (
    SPRT_ORACLE,
    sprt_decisions,
)
from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table


# microseconds per day (epoch_us day bucketing; same constant as
# stats_queries._US_PER_DAY)
_US_PER_DAY = 86_400_000_000


def sprt_treated_daily_obs(events):
    """Treated-arm (day, conversion) observations for the SPRT monitor —
    the ONE definition of the arm-selection hash and the day divisor,
    shared between the batch test (``events_sprt_ab``) and its
    streaming twin (``streaming.pipeline.run_sprt_daily_counts``): the
    two must stay bit-identical, and a literal edited in only one of
    them would silently desynchronize the monitor from its batch
    oracle. ``events`` needs ``ts`` as epoch-us BIGINT and ``user_id``;
    works on both static and streaming DataFrames (pure narrow ops)."""
    from pyspark.sql import functions as F

    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    return events.filter(
        (det_hash((F.col("user_id") % 1000003) * 23 + 7) % 2) == 1
    ).select(
        F.expr(f"ts div {_US_PER_DAY}").cast("long").alias("day"),
        (det_hash("user_id") % 2).cast("long").alias("x"),
    )

# ---------------------------------------------------------------------------
# Population Stability Index — distribution drift between period halves
# ---------------------------------------------------------------------------
# Term sums over buckets are quantized to BIGINT nano-units before the
# final aggregate (same discipline as the Naive-Bayes micro-nat scores):
# integer sums are associative, so the result is identical under any
# partitioning; each term itself is a fixed IEEE expression of exact
# Laplace-smoothed count ratios.

_PSI_ORACLE = """
WITH b AS (
  SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi,
         max(value) AS vmax
  FROM events
),
tagged AS (
  SELECT event_type,
         CASE WHEN epoch_us(ts) * 2 <= lo + hi THEN 0 ELSE 1 END AS half,
         CAST(least(floor(value / (vmax / 10.0)), 9.0) AS BIGINT) AS bucket
  FROM events, b
),
spine AS (
  SELECT event_type, bucket
  FROM (SELECT DISTINCT event_type FROM tagged),
       (SELECT unnest(generate_series(0, 9)) AS bucket)
),
cnt AS (
  SELECT spine.event_type, spine.bucket,
         coalesce(sum(CASE WHEN half = 0 THEN 1 END), 0) AS ca,
         coalesce(sum(CASE WHEN half = 1 THEN 1 END), 0) AS cb
  FROM spine LEFT JOIN tagged
    ON spine.event_type = tagged.event_type
   AND spine.bucket = tagged.bucket
  GROUP BY spine.event_type, spine.bucket
),
tot AS (
  SELECT event_type, bucket, ca, cb,
         sum(ca) OVER (PARTITION BY event_type) AS ta,
         sum(cb) OVER (PARTITION BY event_type) AS tb
  FROM cnt
),
terms AS (
  SELECT event_type, ta, tb,
         CAST(round(
           ((CAST(ca + 1 AS DOUBLE) / CAST(ta + 10 AS DOUBLE))
            - (CAST(cb + 1 AS DOUBLE) / CAST(tb + 10 AS DOUBLE)))
           * ln((CAST(ca + 1 AS DOUBLE) / CAST(ta + 10 AS DOUBLE))
                / (CAST(cb + 1 AS DOUBLE) / CAST(tb + 10 AS DOUBLE)))
           * 1000000000.0
         ) AS BIGINT) AS term_nano
  FROM tot
)
SELECT event_type,
       CAST(max(ta) AS BIGINT) AS n_first_half,
       CAST(max(tb) AS BIGINT) AS n_second_half,
       CAST(sum(term_nano) AS BIGINT) AS psi_nano
FROM terms GROUP BY event_type
"""


@register("events_psi_drift", oracle=_PSI_ORACLE)
def events_psi_drift(spark, sf_dir):
    """Population Stability Index of the value distribution, first half
    of the observation window vs. second, per event type — the standard
    "did my feature distribution drift?" monitor (PSI > 0.2 = act).

    10 equal-width value buckets (bounds derived from one 1-row min/max
    agg, broadcast), Laplace-smoothed shares so empty buckets stay
    finite, and per-bucket PSI terms quantized to BIGINT nano-units so
    the cross-bucket sum is associative — reproducible on any cluster.
    Heavy lineage: one scan + one (type, bucket) aggregate over a dense
    10-row-per-type spine; everything after is window math on ≤ 50
    rows.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    b = ev.agg(
        F.min("ts").alias("lo"),
        F.max("ts").alias("hi"),
        F.max("value").alias("vmax"),
    )
    tagged = ev.crossJoin(F.broadcast(b)).select(
        "event_type",
        F.when(F.col("ts") * 2 <= F.col("lo") + F.col("hi"), 0)
        .otherwise(1)
        .alias("half"),
        F.least(
            F.floor(F.col("value") / (F.col("vmax") / 10.0)), F.lit(9.0)
        )
        .cast("long")
        .alias("bucket"),
    )
    spine = (
        tagged.select("event_type")
        .distinct()
        .crossJoin(
            F.broadcast(
                ev.sparkSession.range(0, 10).select(
                    F.col("id").alias("bucket")
                )
            )
        )
    )
    cnt = (
        spine.join(tagged, ["event_type", "bucket"], "left")
        .groupBy("event_type", "bucket")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("half") == 0, 1)), F.lit(0)
            ).alias("ca"),
            F.coalesce(
                F.sum(F.when(F.col("half") == 1, 1)), F.lit(0)
            ).alias("cb"),
        )
    )
    w = Window.partitionBy("event_type")
    tot = cnt.select(
        "event_type",
        "ca",
        "cb",
        F.sum("ca").over(w).alias("ta"),
        F.sum("cb").over(w).alias("tb"),
    )
    pa = (F.col("ca") + 1).cast("double") / (F.col("ta") + 10).cast("double")
    pb = (F.col("cb") + 1).cast("double") / (F.col("tb") + 10).cast("double")
    terms = tot.select(
        "event_type",
        "ta",
        "tb",
        F.round((pa - pb) * F.log(pa / pb) * 1_000_000_000.0)
        .cast("long")
        .alias("term_nano"),
    )
    return terms.groupBy("event_type").agg(
        F.max("ta").cast("long").alias("n_first_half"),
        F.max("tb").cast("long").alias("n_second_half"),
        F.sum("term_nano").cast("long").alias("psi_nano"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit screen
# ---------------------------------------------------------------------------

_BENFORD_ORACLE = """
WITH digits AS (
  SELECT event_type,
         CAST(floor(value / power(10.0, floor(log10(value)))) AS BIGINT)
           AS d
  FROM events WHERE value > 0
),
spine AS (
  SELECT event_type, d
  FROM (SELECT DISTINCT event_type FROM digits),
       (SELECT unnest(generate_series(1, 9)) AS d)
),
cnt AS (
  SELECT spine.event_type, spine.d,
         coalesce(count(digits.d), 0) AS obs
  FROM spine LEFT JOIN digits
    ON spine.event_type = digits.event_type AND spine.d = digits.d
  GROUP BY spine.event_type, spine.d
),
tot AS (
  SELECT event_type, d, obs,
         sum(obs) OVER (PARTITION BY event_type) AS n
  FROM cnt
),
terms AS (
  SELECT event_type, n,
         CAST(round(
           (CAST(obs AS DOUBLE)
            - CAST(n AS DOUBLE) * log10(1.0 + 1.0 / CAST(d AS DOUBLE)))
           * (CAST(obs AS DOUBLE)
              - CAST(n AS DOUBLE) * log10(1.0 + 1.0 / CAST(d AS DOUBLE)))
           / (CAST(n AS DOUBLE) * log10(1.0 + 1.0 / CAST(d AS DOUBLE)))
           * 1000000.0
         ) AS BIGINT) AS term_micro
  FROM tot
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n_values,
       CAST(sum(term_micro) AS BIGINT) AS chi2_micro
FROM terms GROUP BY event_type
"""


@register("events_benford_screen", oracle=_BENFORD_ORACLE)
def events_benford_screen(spark, sf_dir):
    """Benford's-law first-digit screen: χ² distance between the
    observed leading-digit distribution of event values and the Benford
    expectation log10(1+1/d) — the classic fabricated-data / broken-
    instrumentation detector.

    The digit extraction is a fixed double expression (log10/power of
    the same IEEE input on both engines); per-digit χ² terms are
    quantized to BIGINT micro-units before summing so the 9-term
    reduction is associative. Dense digit spine (types × 1..9) keeps
    zero-observation digits in the statistic. One scan + one small
    aggregate; the value > 0 predicate pushes to parquet.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    digits = ev.filter(F.col("value") > 0).select(
        "event_type",
        F.floor(
            F.col("value") / F.pow(F.lit(10.0), F.floor(F.log10("value")))
        )
        .cast("long")
        .alias("d"),
    )
    spine = (
        digits.select("event_type")
        .distinct()
        .crossJoin(
            F.broadcast(
                ev.sparkSession.range(1, 10).select(F.col("id").alias("d"))
            )
        )
    )
    cnt = (
        spine.alias("s")
        .join(
            digits.alias("g"),
            (F.col("s.event_type") == F.col("g.event_type"))
            & (F.col("s.d") == F.col("g.d")),
            "left",
        )
        .groupBy(F.col("s.event_type").alias("event_type"), F.col("s.d").alias("d"))
        .agg(F.count(F.col("g.d")).alias("obs"))
    )
    w = Window.partitionBy("event_type")
    tot = cnt.select(
        "event_type", "d", "obs", F.sum("obs").over(w).alias("n")
    )
    exp = F.col("n").cast("double") * F.log10(
        1.0 + 1.0 / F.col("d").cast("double")
    )
    dev = F.col("obs").cast("double") - exp
    terms = tot.select(
        "event_type",
        "n",
        F.round(dev * dev / exp * 1_000_000.0).cast("long").alias(
            "term_micro"
        ),
    )
    return terms.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_values"),
        F.sum("term_micro").cast("long").alias("chi2_micro"),
    )


# ---------------------------------------------------------------------------
# Single-pass feature correlation matrix
# ---------------------------------------------------------------------------

_CORR_EXPR = (
    "(nd * {sab} - {sa} * {sb})"
    " / (sqrt(nd * {saa} - {sa} * {sa})"
    "    * sqrt(nd * {sbb} - {sb} * {sb}))"
)

_CORRM_ORACLE = f"""
WITH p AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS v,
         (epoch_us(ts) // 3600000000) % 24 AS hod,
         (epoch_us(ts) // 86400000000 + 4) % 7 AS dow
  FROM events
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(v AS DECIMAL(38,0))) AS sv,
         sum(CAST(hod AS DECIMAL(38,0))) AS sh,
         sum(CAST(dow AS DECIMAL(38,0))) AS sd,
         sum(CAST(v * v AS DECIMAL(38,0))) AS svv,
         sum(CAST(hod * hod AS DECIMAL(38,0))) AS shh,
         sum(CAST(dow * dow AS DECIMAL(38,0))) AS sdd,
         sum(CAST(v * hod AS DECIMAL(38,0))) AS svh,
         sum(CAST(v * dow AS DECIMAL(38,0))) AS svd,
         sum(CAST(hod * dow AS DECIMAL(38,0))) AS shd
  FROM p
),
d AS (
  SELECT n, CAST(n AS DOUBLE) AS nd,
         CAST(sv AS DOUBLE) AS dv, CAST(sh AS DOUBLE) AS dh,
         CAST(sd AS DOUBLE) AS dd, CAST(svv AS DOUBLE) AS dvv,
         CAST(shh AS DOUBLE) AS dhh, CAST(sdd AS DOUBLE) AS ddd,
         CAST(svh AS DOUBLE) AS dvh, CAST(svd AS DOUBLE) AS dvd,
         CAST(shd AS DOUBLE) AS dhd
  FROM s
)
SELECT 'value' AS feat_a, 'hour_of_day' AS feat_b,
       {_CORR_EXPR.format(sab='dvh', sa='dv', sb='dh', saa='dvv', sbb='dhh')}
         AS corr FROM d
UNION ALL
SELECT 'value', 'day_of_week',
       {_CORR_EXPR.format(sab='dvd', sa='dv', sb='dd', saa='dvv', sbb='ddd')}
       FROM d
UNION ALL
SELECT 'hour_of_day', 'day_of_week',
       {_CORR_EXPR.format(sab='dhd', sa='dh', sb='dd', saa='dhh', sbb='ddd')}
       FROM d
"""


@register("events_feature_corr_matrix", oracle=_CORRM_ORACLE)
def events_feature_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlation matrix of derived event features
    (value, hour-of-day, day-of-week) in ONE scan: all 10 moment sums
    ride a single aggregate, so adding features widens the row instead
    of adding passes — the feature-screening shape that matters when
    the input is 100 TB (k features = one pass, k² counters, not k²
    passes).

    Same exactness discipline as `events_autocorr_lag1`: integer-scaled
    features, DECIMAL moment sums, fixed IEEE Pearson finale shared
    with the oracle text.
    """
    ev = load_table(spark, sf_dir, "events")
    p = ev.select(
        F.round(F.col("value") * 100).cast("long").alias("v"),
        ((F.col("ts") / 3_600_000_000).cast("long") % 24).alias("hod"),
        ((F.col("ts") / 86_400_000_000).cast("long") + 4) .alias("_d"),
    ).select("v", "hod", (F.col("_d") % 7).alias("dow"))
    dec = "decimal(38,0)"
    s = p.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast(dec)).alias("sv"),
        F.sum(F.col("hod").cast(dec)).alias("sh"),
        F.sum(F.col("dow").cast(dec)).alias("sd"),
        F.sum((F.col("v") * F.col("v")).cast(dec)).alias("svv"),
        F.sum((F.col("hod") * F.col("hod")).cast(dec)).alias("shh"),
        F.sum((F.col("dow") * F.col("dow")).cast(dec)).alias("sdd"),
        F.sum((F.col("v") * F.col("hod")).cast(dec)).alias("svh"),
        F.sum((F.col("v") * F.col("dow")).cast(dec)).alias("svd"),
        F.sum((F.col("hod") * F.col("dow")).cast(dec)).alias("shd"),
    )
    d = s.selectExpr(
        "cast(n as double) AS nd",
        "cast(sv as double) AS dv",
        "cast(sh as double) AS dh",
        "cast(sd as double) AS dd",
        "cast(svv as double) AS dvv",
        "cast(shh as double) AS dhh",
        "cast(sdd as double) AS ddd",
        "cast(svh as double) AS dvh",
        "cast(svd as double) AS dvd",
        "cast(shd as double) AS dhd",
    )
    pairs = [
        ("value", "hour_of_day", "dvh", "dv", "dh", "dvv", "dhh"),
        ("value", "day_of_week", "dvd", "dv", "dd", "dvv", "ddd"),
        ("hour_of_day", "day_of_week", "dhd", "dh", "dd", "dhh", "ddd"),
    ]
    outs = [
        d.selectExpr(
            f"'{a}' AS feat_a",
            f"'{b}' AS feat_b",
            _CORR_EXPR.format(sab=sab, sa=sa, sb=sb, saa=saa, sbb=sbb)
            + " AS corr",
        )
        for a, b, sab, sa, sb, saa, sbb in pairs
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# Mutual information (event_type ; value bucket)
# ---------------------------------------------------------------------------

_MI_ORACLE = """
WITH b AS (SELECT max(value) AS vmax FROM events),
cells AS (
  SELECT event_type AS x,
         CAST(least(floor(value / (vmax / 10.0)), 9.0) AS BIGINT) AS y,
         count(*) AS nxy
  FROM events, b GROUP BY event_type,
       CAST(least(floor(value / (vmax / 10.0)), 9.0) AS BIGINT)
),
m AS (
  SELECT x, y, nxy,
         sum(nxy) OVER (PARTITION BY x) AS nx,
         sum(nxy) OVER (PARTITION BY y) AS ny,
         sum(nxy) OVER () AS n
  FROM cells
),
terms AS (
  SELECT n,
         CAST(round(
           (CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE))
           * ln(CAST(nxy AS DOUBLE) * CAST(n AS DOUBLE)
                / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)))
           * 1000000000.0) AS BIGINT) AS term_nano
  FROM m
)
SELECT CAST(max(n) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(term_nano) AS BIGINT) AS mi_nano
FROM terms
"""


@register("events_mutual_information", oracle=_MI_ORACLE)
def events_mutual_information(spark, sf_dir):
    """Mutual information I(event_type ; value-bucket) — the model-free
    "is this feature informative about that label?" screen feature
    selection runs before training (correlation only sees linear
    dependence; MI sees any).

    All probabilities stay as ratios of the BIGINT contingency counts;
    each cell's p·ln(pN²/(nx·ny)) term quantizes to nano-nats so the
    cross-cell sum is associative. The contingency table is one
    hash-agg (≤ 50 cells); the marginals are windows over it.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.max("value").alias("vmax"))
    cells = (
        ev.crossJoin(F.broadcast(b))
        .select(
            F.col("event_type").alias("x"),
            F.least(
                F.floor(F.col("value") / (F.col("vmax") / 10.0)), F.lit(9.0)
            )
            .cast("long")
            .alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("nxy"))
    )
    m = cells.select(
        "nxy",
        F.sum("nxy").over(Window.partitionBy("x")).alias("nx"),
        F.sum("nxy").over(Window.partitionBy("y")).alias("ny"),
        F.sum("nxy").over(Window.partitionBy()).alias("n"),
    )
    p = F.col("nxy").cast("double") / F.col("n").cast("double")
    ratio = (
        F.col("nxy").cast("double")
        * F.col("n").cast("double")
        / (F.col("nx").cast("double") * F.col("ny").cast("double"))
    )
    terms = m.select(
        "n",
        F.round(p * F.log(ratio) * 1_000_000_000.0)
        .cast("long")
        .alias("term_nano"),
    )
    return terms.agg(
        F.max("n").cast("long").alias("n"),
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("term_nano").cast("long").alias("mi_nano"),
    )


# ---------------------------------------------------------------------------
# Per-user KL divergence from the global behavior mix
# ---------------------------------------------------------------------------

_KL_ORACLE = """
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_ut
  FROM events GROUP BY user_id, event_type
),
m AS (
  SELECT user_id, event_type, n_ut,
         sum(n_ut) OVER (PARTITION BY user_id) AS n_u,
         sum(n_ut) OVER (PARTITION BY event_type) AS n_t,
         sum(n_ut) OVER () AS n
  FROM c
),
terms AS (
  SELECT user_id, n_u,
         CAST(round(
           (CAST(n_ut AS DOUBLE) / CAST(n_u AS DOUBLE))
           * ln((CAST(n_ut AS DOUBLE) / CAST(n_u AS DOUBLE))
                / (CAST(n_t AS DOUBLE) / CAST(n AS DOUBLE)))
           * 1000000000.0) AS BIGINT) AS term_nano
  FROM m
)
SELECT user_id,
       CAST(max(n_u) AS BIGINT) AS n_events,
       CAST(sum(term_nano) AS BIGINT) AS kl_nano
FROM terms GROUP BY user_id
"""


@register("events_kl_user_vs_global", oracle=_KL_ORACLE)
def events_kl_user_vs_global(spark, sf_dir):
    """Per-user KL divergence of the user's event-type mix from the
    global mix — the relative counterpart to `events_user_entropy`:
    entropy flags low-variety users, KL flags users whose variety is
    *unlike everyone else's* (scripted traffic has both signatures).

    Every probability is a ratio of BIGINT contingency counts; each
    (user, type) term quantizes to nano-nats so the per-user sum is
    associative. Absent types contribute 0 (the Σ p·ln(p/q) convention
    for p=0), so no dense spine is needed.

    Marginal shapes, chosen per cardinality: the per-USER marginal is
    a window partitioned by user_id (1e8+ partitions — fully
    parallel); the per-TYPE and GRAND totals must NOT be windows over
    the (user, type) relation (|types| partitions would funnel 1e8
    rows through a handful of tasks; the grand total through one), so
    they come from a separate |types|-row aggregate of the fact table
    — broadcast back, grand total derived from those 5 rows for free.
    Cost: a second 2-column scan of events with map-side partials,
    instead of serializing the entity relation.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_ut")
    )
    per_type = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    totals = per_type.crossJoin(
        F.broadcast(per_type.select(F.sum("n_t").alias("n")))
    )
    m = c.withColumn(
        "n_u", F.sum("n_ut").over(Window.partitionBy("user_id"))
    ).join(F.broadcast(totals), "event_type")
    p = F.col("n_ut").cast("double") / F.col("n_u").cast("double")
    q = F.col("n_t").cast("double") / F.col("n").cast("double")
    terms = m.select(
        "user_id",
        "n_u",
        F.round(p * F.log(p / q) * 1_000_000_000.0)
        .cast("long")
        .alias("term_nano"),
    )
    return terms.groupBy("user_id").agg(
        F.max("n_u").cast("long").alias("n_events"),
        F.sum("term_nano").cast("long").alias("kl_nano"),
    )


# ---------------------------------------------------------------------------
# Log-normal fit of document lengths
# ---------------------------------------------------------------------------

_LOGNORM_ORACLE = """
WITH distinct_len AS (
  SELECT n_chars, CAST(count(*) AS BIGINT) AS cnt
  FROM documents WHERE n_chars > 0 GROUP BY n_chars
),
q AS (
  SELECT cnt,
         CAST(round(ln(CAST(n_chars AS DOUBLE)) * 1000000000.0) AS BIGINT)
           AS l_nano
  FROM distinct_len
),
s AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n,
         sum(CAST(cnt * l_nano AS DECIMAL(38,0))) AS sl,
         sum(CAST(cnt AS DECIMAL(38,0))
             * CAST(l_nano AS DECIMAL(38,0))
             * CAST(l_nano AS DECIMAL(38,0))) AS sll
  FROM q
)
SELECT n,
       CAST(sl AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000.0) AS mu_ln,
       sqrt(CAST(n AS DOUBLE) * CAST(sll AS DOUBLE)
            - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE))
         / (CAST(n AS DOUBLE) * 1000000000.0) AS sigma_ln
FROM s
"""


@register("documents_length_lognormal_fit", oracle=_LOGNORM_ORACLE)
def documents_length_lognormal_fit(spark, sf_dir):
    """Log-normal MLE fit (μ, σ of ln length) for document lengths —
    natural text lengths are approximately log-normal, so a corpus
    whose fitted σ drifts between snapshots has changed its mix
    (boilerplate floods narrow it; concatenation bugs widen it).

    The transcendental ln is quantized ONCE per distinct length (the
    vocabulary-level discipline — lengths are integers, so the
    quantized log table is exact and engine-portable); the weighted
    moment sums are then pure DECIMAL integer arithmetic, and μ/σ are
    fixed IEEE finales. One tiny distinct-length aggregate does all
    the math — the corpus scan only counts.
    """
    d = load_table(spark, sf_dir, "documents")
    dl = (
        d.filter(F.col("n_chars") > 0)
        .groupBy("n_chars")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    q = dl.select(
        "cnt",
        F.round(F.log(F.col("n_chars").cast("double")) * 1_000_000_000.0)
        .cast("long")
        .alias("l_nano"),
    )
    dec = "decimal(38,0)"
    s = q.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum((F.col("cnt") * F.col("l_nano")).cast(dec)).alias("sl"),
        F.sum(
            F.col("cnt").cast(dec)
            * F.col("l_nano").cast(dec)
            * F.col("l_nano").cast(dec)
        ).alias("sll"),
    )
    nd = F.col("n").cast("double")
    sl, sll = F.col("sl").cast("double"), F.col("sll").cast("double")
    return s.select(
        "n",
        (sl / (nd * 1_000_000_000.0)).alias("mu_ln"),
        (F.sqrt(nd * sll - sl * sl) / (nd * 1_000_000_000.0)).alias(
            "sigma_ln"
        ),
    )


@register(
    "events_theil_sen_trend",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         epoch(CAST(date_trunc('day', ts) AS DATE)) // 86400 AS d,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT (b.n - a.n) / (b.d - a.d) AS slope
  FROM daily a JOIN daily b ON a.d < b.d
)
SELECT median(slope) AS ts_slope,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs
""",
)
def events_theil_sen_trend(spark, sf_dir):
    """Theil-Sen slope of the daily event count — the robust companion
    to events_linear_trend's OLS fit (a single corrupted day moves OLS
    arbitrarily; the median of pairwise slopes has a 29% breakdown
    point). The pairwise self-join runs on the DAY-sized aggregate
    (30 days → 435 pairs at any corpus size), so the robustness costs
    O(days²) on a driver-tiny relation, never O(rows). Slopes are
    single double divisions and the median of an odd/even pair count
    interpolates identically in both engines, so the oracle replays
    the estimate bit-for-bit."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("day", F.timestamp_micros(F.col("ts")))
            .cast("date")
            .alias("day")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            (F.unix_date(F.col("day"))).cast("long").alias("d"),
            "n",
        )
    )
    b = daily.select(
        F.col("d").alias("d2"), F.col("n").alias("n2")
    )
    pairs = daily.join(b, F.col("d") < F.col("d2")).select(
        ((F.col("n2") - F.col("n")) / (F.col("d2") - F.col("d"))).alias(
            "slope"
        )
    )
    return pairs.agg(
        F.median("slope").alias("ts_slope"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )


@register(
    "events_mann_kendall_trend",
    oracle="""
WITH daily AS (
  SELECT epoch(CAST(date_trunc('day', ts) AS DATE)) // 86400 AS d,
         count(*) AS n
  FROM events GROUP BY 1
),
pairs AS (
  SELECT CASE WHEN b.n > a.n THEN 1 WHEN b.n < a.n THEN -1 ELSE 0 END AS sgn
  FROM daily a JOIN daily b ON a.d < b.d
),
stats AS (
  SELECT CAST(sum(sgn) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n_pairs,
         (SELECT count(*) FROM daily) AS n_days
  FROM pairs
)
SELECT s, n_pairs, n_days,
       CAST(s AS DOUBLE) / n_pairs AS kendall_tau_a,
       s > 0 AS increasing
FROM stats
""",
)
def events_mann_kendall_trend(spark, sf_dir):
    """Mann-Kendall monotonic-trend test statistic S = Σ sign(n_j−n_i)
    over day pairs, with Kendall's τ-a — the nonparametric yes/no
    companion to the Theil-Sen slope magnitude (no distributional
    assumption, ties contribute zero). Same scale shape: the pairwise
    join runs on the day-sized aggregate, integer sign sums are exact
    in any order, and the one double division replays identically."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("day", F.timestamp_micros(F.col("ts")))
            .cast("date")
            .alias("day")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_date(F.col("day")).cast("long").alias("d"), "n")
    )
    b = daily.select(F.col("d").alias("d2"), F.col("n").alias("n2"))
    pairs = daily.join(b, F.col("d") < F.col("d2")).select(
        F.when(F.col("n2") > F.col("n"), 1)
        .when(F.col("n2") < F.col("n"), -1)
        .otherwise(0)
        .alias("sgn")
    )
    n_days = daily.agg(F.count(F.lit(1)).alias("n_days"))
    return (
        pairs.agg(
            F.sum("sgn").cast("long").alias("s"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )
        .crossJoin(F.broadcast(n_days))
        .select(
            "s",
            "n_pairs",
            "n_days",
            (F.col("s").cast("double") / F.col("n_pairs")).alias(
                "kendall_tau_a"
            ),
            (F.col("s") > 0).alias("increasing"),
        )
    )


# --- CUSUM change-point detection (round 7) -----------------------------


# Per day since the first event: the event count n_t and the value sum
# u_t in exact BIGINT micro-units (the cents_sum convention), shared by
# the CUSUM change-point and the Page-Hinkley detector.
_DAILY_UNITS_CTE = f"""
daily AS (
  SELECT (epoch_us(ts) - (SELECT min(epoch_us(ts)) FROM events))
           // {_US_PER_DAY} AS day_idx,
         CAST(count(*) AS BIGINT) AS n_t,
         CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS u_t
  FROM events GROUP BY 1
)"""


def _daily_units(spark, sf_dir):
    """(day_idx, n_t, u_t): the Spark side of ``_DAILY_UNITS_CTE``, one
    hash aggregate to the calendar-bounded day relation."""
    ev = load_table(spark, sf_dir, "events")
    t0 = ev.agg(F.min(F.col("ts").cast("long")).alias("t0"))
    return (
        ev.crossJoin(F.broadcast(t0))
        .groupBy(
            # exact integer floor division, matching the oracle's `//`
            # (see statsparam_queries Grubbs note: float64 ulp > 1 us
            # beyond ~128-day spans misbins boundary events)
            F.expr(f"(cast(ts as long) - t0) div {_US_PER_DAY}")
            .cast("long")
            .alias("day_idx")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_t"),
            F.sum(F.round(F.col("value") * 1000000).cast("long"))
            .cast("long")
            .alias("u_t"),
        )
    )


@register(
    "events_changepoint_value",
    oracle=f"""
WITH {_DAILY_UNITS_CTE},
cum AS (
  SELECT day_idx, n_t, u_t,
         CAST(sum(n_t) OVER w AS BIGINT) AS cum_n,
         CAST(sum(u_t) OVER w AS BIGINT) AS cum_u,
         CAST(sum(n_t) OVER () AS BIGINT) AS tot_n,
         CAST(sum(u_t) OVER () AS BIGINT) AS tot_u
  FROM daily
  WINDOW w AS (ORDER BY day_idx ROWS UNBOUNDED PRECEDING)
),
dev AS (
  SELECT day_idx, cum_n, cum_u, tot_n, tot_u,
         abs(CAST(cum_u AS DECIMAL(38,0)) * tot_n
             - CAST(cum_n AS DECIMAL(38,0)) * tot_u) AS abs_d
  FROM cum
  WHERE cum_n < tot_n
)
SELECT day_idx AS cp_day,
       CAST(abs_d AS DOUBLE) / tot_n / 1000000 AS cusum_stat,
       CAST(cum_u AS DOUBLE) / cum_n / 1000000 AS mean_before,
       CAST(tot_u - cum_u AS DOUBLE) / (tot_n - cum_n) / 1000000
         AS mean_after
FROM dev
ORDER BY abs_d DESC, day_idx ASC
LIMIT 1
""",
)
def events_changepoint_value(spark, sf_dir):
    """Single change-point detection on the daily event-value series —
    the screen a data pipeline runs before trusting a drifting metric:
    the split point t* maximizing the CUSUM deviation |S_t| where
    S_t = cum(t) - (cum_rows(t)/N)*total. Everything up to the final
    division is integer-exact: values in BIGINT micro-units (the
    cents_sum convention), and the deviation cross-multiplied to
    D_t = cum_u*N - cum_n*total_u through DECIMAL(38,0) (the products
    reach ~1e23 at the 100x replica — past int64, trivially inside
    decimal), so the argmax day is exact in both engines, not a float
    tiebreak. The day relation is calendar-sized (~30 rows), so its
    running window and the argmax sort are legal single-partition ops;
    the only fact-sized work is one hash aggregate."""
    from pyspark.sql import Window

    daily = _daily_units(spark, sf_dir)
    w = Window.orderBy("day_idx").rowsBetween(Window.unboundedPreceding, 0)
    wa = Window.orderBy("day_idx").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = daily.select(
        "day_idx",
        F.sum("n_t").over(w).cast("long").alias("cum_n"),
        F.sum("u_t").over(w).cast("long").alias("cum_u"),
        F.sum("n_t").over(wa).cast("long").alias("tot_n"),
        F.sum("u_t").over(wa).cast("long").alias("tot_u"),
    )
    dev = cum.filter(F.col("cum_n") < F.col("tot_n")).select(
        "day_idx",
        "cum_n",
        "cum_u",
        "tot_n",
        "tot_u",
        F.abs(
            F.col("cum_u").cast("decimal(38,0)") * F.col("tot_n")
            - F.col("cum_n").cast("decimal(38,0)") * F.col("tot_u")
        ).alias("abs_d"),
    )
    return (
        dev.orderBy(F.desc("abs_d"), F.asc("day_idx"))
        .limit(1)
        .select(
            F.col("day_idx").alias("cp_day"),
            (
                F.col("abs_d").cast("double") / F.col("tot_n") / 1000000
            ).alias("cusum_stat"),
            (
                F.col("cum_u").cast("double") / F.col("cum_n") / 1000000
            ).alias("mean_before"),
            (
                (F.col("tot_u") - F.col("cum_u")).cast("double")
                / (F.col("tot_n") - F.col("cum_n"))
                / 1000000
            ).alias("mean_after"),
        )
    )


@register("events_sprt_ab", oracle=SPRT_ORACLE)
def events_sprt_ab(spark, sf_dir):
    """Wald sequential probability-ratio test (SPRT) — the always-valid
    sequential monitor an experimentation platform runs so it can stop
    an A/B arm early without peeking penalties: day-by-day cumulative
    log-likelihood ratio for H1: p=0.55 vs H0: p=0.5 over the treated
    arm's conversion stream, against the alpha=beta=0.05 decision
    boundaries ln(19)/-ln(19). Completes the testing family's fixed-
    horizon tests (z, KS, Mann-Whitney) with the sequential shape.

    Exactness: the LLR is k*ln(p1/p0) + (n-k)*ln((1-p1)/(1-p0)) — both
    transcendentals FROZEN as nano-nat integer literals (95310180,
    -105360516; the ml_eval_ndcg_events frozen-literal discipline), so
    the cumulative statistic and the boundary comparisons are pure
    BIGINT arithmetic; the reported llr double is one division of that
    exact integer. Hash-parity conversions (true p=0.5): the LLR
    drifts at -5.02 millinats/observation in expectation, so marching
    into 'accept_h0' and staying there is the designed fixed point.

    Scale shape: scan -> per-day hash agg; the cumulative window runs
    over the day spine (date-keyed, bounded by the calendar — the
    audit_windows-safe class), never over events."""
    ev = load_table(spark, sf_dir, "events")
    # ts is epoch-us BIGINT after load_table's normalize_event_time
    obs = sprt_treated_daily_obs(ev)
    daily = obs.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_day"),
        F.sum("x").cast("long").alias("k_day"),
    )
    return sprt_decisions(daily)


# --- Page-Hinkley mean-shift detection (round 12, session 6) -------------
# The sequential companion to events_changepoint_value's retrospective
# CUSUM: PH_t = m_t - min_{s<=t} m_s with m_t = sum_{i<=t}(x_i - xbar_i)
# (xbar_i = running mean through i, delta = 0) — the classic detector a
# monitoring pipeline evaluates ONLINE, alarm when PH exceeds lambda.
# Exactness: the daily mean is micro-quantized once (round(u_t/n_t)),
# each increment x_t - P_t/t is re-quantized to micro after its single
# exact-rational division (x_t*t - P_t is exact BIGINT), and both the
# running sum and the running min are over exact BIGINTs — no float
# accumulates. The day relation is calendar-sized, so its windows are
# legal single-partition ops (events_changepoint_value discipline).


@register(
    "events_page_hinkley",
    oracle=f"""
WITH {_DAILY_UNITS_CTE},
x AS (
  SELECT day_idx,
         CAST(row_number() OVER (ORDER BY day_idx) AS BIGINT) AS t,
         CAST(round(CAST(u_t AS DOUBLE) / n_t) AS BIGINT) AS x_micro
  FROM daily
),
inc AS (
  SELECT day_idx, t, x_micro,
         CAST(sum(x_micro) OVER (ORDER BY day_idx
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p_t
  FROM x
),
m AS (
  SELECT day_idx, t, x_micro,
         CAST(sum(CAST(round(CAST(x_micro * t - p_t AS DOUBLE) / t)
                       AS BIGINT))
              OVER (ORDER BY day_idx ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS m_t
  FROM inc
)
SELECT day_idx, t, x_micro,
       m_t AS m_micro,
       m_t - min(m_t) OVER (ORDER BY day_idx ROWS UNBOUNDED PRECEDING)
         AS ph_micro,
       CAST(m_t - min(m_t) OVER (ORDER BY day_idx
                                 ROWS UNBOUNDED PRECEDING) AS DOUBLE)
         / 1e6 AS ph_value
FROM m
""",
)
def events_page_hinkley(spark, sf_dir):
    """Page-Hinkley test statistic per day over the daily mean event
    value — the ONLINE mean-shift detector (alarm when ph_value
    exceeds a chosen lambda) next to the retrospective CUSUM
    change-point. See the section comment: every running aggregate is
    over exact micro-quantized BIGINTs, and the only fact-sized work
    is one hash aggregate to the calendar-bounded day relation."""
    from pyspark.sql import Window

    daily = _daily_units(spark, sf_dir)
    w_ord = Window.orderBy("day_idx")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    x = daily.select(
        "day_idx",
        F.row_number().over(w_ord).cast("long").alias("t"),
        F.round(F.col("u_t").cast("double") / F.col("n_t"))
        .cast("long")
        .alias("x_micro"),
    )
    inc = x.select(
        "day_idx",
        "t",
        "x_micro",
        F.sum("x_micro").over(w_cum).cast("long").alias("p_t"),
    )
    term = F.round(
        (F.col("x_micro") * F.col("t") - F.col("p_t")).cast("double")
        / F.col("t")
    ).cast("long")
    m = inc.select(
        "day_idx",
        "t",
        "x_micro",
        F.sum(term).over(w_cum).cast("long").alias("m_t"),
    )
    return m.select(
        "day_idx",
        "t",
        "x_micro",
        F.col("m_t").alias("m_micro"),
        (F.col("m_t") - F.min("m_t").over(w_cum)).alias("ph_micro"),
        (
            (F.col("m_t") - F.min("m_t").over(w_cum)).cast("double") / 1e6
        ).alias("ph_value"),
    )
