"""Descriptive and robust statistical screens over the events stream:
histograms, winsorize/MAD outlier gates, exact quantile tables,
min-max normalization, z-score screens, daily-count anomaly flags,
entropy, Gini, day-of-week/hour heatmaps, and burstiness. All
exact-oracle: statistics reduce to counts/ranks/decimal sums both
engines compute bit-identically. Split out of profiling_queries
(round 7); the hypothesis-test/drift/dependence half moved to
statstests_queries (round 9)."""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table

# microseconds per day (epoch_us day bucketing; same constant as
# mleval_queries._US_PER_DAY)
_US_PER_DAY = 86_400_000_000


@register(
    "histogram_event_values",
    oracle="""
SELECT CAST(least(floor(value / 5), 19) AS BIGINT) AS bucket,
       CAST(least(floor(value / 5), 19) * 5 AS DOUBLE) AS bucket_lo,
       count(*) AS n,
       min(value) AS min_v, max(value) AS max_v
FROM events GROUP BY 1, 2
""",
)
def histogram_event_values(spark, sf_dir):
    """Fixed-width value histogram (20 buckets of width 5, top bucket
    clamped) — the numeric-distribution profile a pipeline inspects
    before choosing salting/partition bounds. One hash agg; the bucket
    arithmetic is a single exact IEEE division per row."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.least(F.floor(F.col("value") / 5), F.lit(19)).cast("long")
    return (
        ev.withColumn("bucket", bucket)
        .withColumn("bucket_lo", (F.col("bucket") * 5).cast("double"))
        .groupBy("bucket", "bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )
    )


def _type_p99(ev):
    """(event_type, p99_v): each event type's DISCRETE p99 value (the
    ceil(0.99 n)-th in (value, event_id) order) by grouped exact
    selection, never a per-type window."""
    from wikipedia_data_pipeline_spark.operators.ranks import (
        grouped_exact_quantiles,
    )

    return grouped_exact_quantiles(
        ev.select("event_type", "value", "event_id"),
        ["event_type"],
        [F.asc("value"), F.asc("event_id")],
        [("p99", 99, 100)],
        tag_col="_q",
    ).select("event_type", F.col("value").alias("p99_v"))


@register(
    "events_winsorized",
    oracle="""
WITH ranked AS (
  SELECT event_id, event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id)
           AS rn,
         count(*) OVER (PARTITION BY event_type) AS cnt
  FROM events
),
p99 AS (
  SELECT event_type, min(value) AS p99_v
  FROM ranked WHERE rn >= CAST(ceil(0.99 * cnt) AS BIGINT)
  GROUP BY event_type
)
SELECT r.event_id, r.event_type, r.value,
       least(r.value, p.p99_v) AS value_capped
FROM ranked r JOIN p99 p ON r.event_type = p.event_type
""",
)
def events_winsorized(spark, sf_dir):
    """Outlier capping at the DISCRETE per-type p99 — the percentile is
    an actual data value picked by rank (ceil(0.99 * n)-th in value
    order), not an interpolation, so it is bit-portable where
    interpolated quantiles are not.

    The threshold comes from grouped exact SELECTION
    (operators.ranks.grouped_exact_quantiles, round 9), not a
    per-type window: event_type has ~5 values, so
    Window.partitionBy(event_type) sorts |events|/5 rows in ONE task —
    a scale-killer at 100 TB. Selection range-partitions on
    (type, value, id), counts blocks, and sorts only the <=5 blocks
    holding the p99 ranks; the capped projection is then a broadcast
    join of the 5-row threshold table against the raw scan."""
    ev = load_table(spark, sf_dir, "events")
    p99 = _type_p99(ev)
    return (
        ev.join(F.broadcast(p99), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.least(F.col("value"), F.col("p99_v")).alias("value_capped"),
        )
    )


@register(
    "events_value_normalized",
    oracle="""
WITH b AS (
  SELECT event_type, min(value) AS lo, max(value) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       CASE WHEN b.hi > b.lo
            THEN (e.value - b.lo) / (b.hi - b.lo) END AS value_norm
FROM events e JOIN b ON e.event_type = b.event_type
""",
)
def events_value_normalized(spark, sf_dir):
    """Per-type min-max feature scaling: two IEEE subtractions and one
    division per row over broadcast group bounds — bit-portable
    (unlike mean/std scaling, whose cross-row float sums are not).
    Degenerate groups (hi == lo) yield NULL."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.when(
                F.col("hi") > F.col("lo"),
                (F.col("value") - F.col("lo"))
                / (F.col("hi") - F.col("lo")),
            ).alias("value_norm"),
        )
    )


@register(
    "events_interarrival_histogram",
    oracle="""
WITH seq AS (
  SELECT user_id, epoch_us(ts) AS tus,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_tus
  FROM events
)
SELECT CAST(least((tus - prev_tus) // 60000000 // 10, 20) AS BIGINT)
         AS gap_10min_bucket,
       count(*) AS n
FROM seq WHERE prev_tus IS NOT NULL
GROUP BY 1
""",
)
def events_interarrival_histogram(spark, sf_dir):
    """Inter-event gap distribution per user (lag over the user
    window, gaps bucketed in 10-minute bins, clamped) — the traffic
    profile that calibrates sessionization gaps and state TTLs.
    Integer µs arithmetic; one window shuffle on user_id, one hash
    agg."""
    from pyspark.sql import Window
    from wikipedia_data_pipeline_spark.functions import ts_us

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        ts_us().alias("tus"),
        F.lag(ts_us()).over(w).alias("prev_tus"),
    ).where(F.col("prev_tus").isNotNull())
    gap_bucket = F.least(
        F.floor(F.floor((F.col("tus") - F.col("prev_tus")) / 60_000_000) / 10),
        F.lit(20),
    ).cast("long")
    return (
        seq.select(gap_bucket.alias("gap_10min_bucket"))
        .groupBy("gap_10min_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "events_user_value_outliers",
    oracle="""
WITH s AS (
  SELECT user_id, count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
         CAST(sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
              AS DOUBLE) AS s2
  FROM events GROUP BY user_id
)
SELECT event_id, e.user_id, value, n
FROM events e JOIN s ON e.user_id = s.user_id
WHERE 100 * (value * n - s1) * (value * n - s1) > 625 * (n * s2 - s1 * s1)
""",
)
def events_user_value_outliers(spark, sf_dir):
    """Per-user z-score outlier screen (|x − μ| > 2.5σ) without ever
    computing μ or σ: the predicate is cross-multiplied to
    (x·n − Σx)² · 100 > 625 · (n·Σx² − (Σx)²), so the only aggregates
    are decimal-exact (Σx, Σx², n) and every remaining operation is a
    single deterministic IEEE op on identical scalars in both engines
    — sqrt-free variance screening that is also bit-reproducible
    across cluster sizes. One shuffle for the per-user moments (tiny),
    then a broadcast join back onto the stream."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,6)")
    s = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).cast("double").alias("s1"),
        F.sum(v * v).cast("double").alias("s2"),
    )
    j = ev.join(F.broadcast(s), "user_id")
    dev = F.col("value") * F.col("n") - F.col("s1")
    return j.filter(
        100 * dev * dev
        > 625 * (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
    ).select("event_id", "user_id", "value", "n")


@register(
    "events_quantile_table",
    oracle="""
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value ASC, event_id ASC) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
qs AS (
  SELECT event_type, q,
         CASE q WHEN 'p50' THEN (n + 1) // 2
                WHEN 'p90' THEN (9 * n + 9) // 10
                ELSE (99 * n + 99) // 100 END AS pos,
         rn, value
  FROM ranked, unnest(['p50', 'p90', 'p99']) AS t(q)
)
SELECT event_type, q, value AS quantile_value
FROM qs WHERE rn = pos
ORDER BY event_type, q
""",
)
def events_quantile_table(spark, sf_dir):
    """Exact per-group quantile table (p50/p90/p99) by discrete rank
    selection — percentile_disc semantics, integer-exact positions
    (ceil(q·n) = (q·n + denom−1) div denom), no interpolation, so the
    report is a row VALUE that exists in the data and is bit-portable
    across engines.

    Computed by grouped exact SELECTION (round 9,
    operators.ranks.grouped_exact_quantiles) instead of ranking every
    row under a per-type window: ~5 event types means the window plan
    sorts |events|/5 rows per task, while selection range-partitions,
    counts blocks, and locally sorts only the <=15 blocks holding the
    3x5 target ranks — no task ever sorts more than one block."""
    from wikipedia_data_pipeline_spark.operators.ranks import (
        grouped_exact_quantiles,
    )

    ev = load_table(spark, sf_dir, "events")
    return (
        grouped_exact_quantiles(
            ev.select("event_type", "value", "event_id"),
            ["event_type"],
            [F.asc("value"), F.asc("event_id")],
            [("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)],
            tag_col="q",
        )
        .select(
            "event_type",
            "q",
            F.col("value").alias("quantile_value"),
        )
        .orderBy("event_type", "q")
    )


@register(
    "events_mad_outliers",
    oracle="""
WITH r1 AS (
  SELECT event_id, event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value ASC, event_id ASC) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
med AS (SELECT event_type, value AS med FROM r1 WHERE rn = (n + 1) // 2),
d AS (
  SELECT e.event_id, e.event_type, e.value, m.med,
         abs(e.value - m.med) AS dev
  FROM events e JOIN med m ON e.event_type = m.event_type
),
r2 AS (
  SELECT event_type, dev,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY dev ASC, event_id ASC) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM d
),
mad AS (SELECT event_type, dev AS mad FROM r2 WHERE rn = (n + 1) // 2)
SELECT d.event_id, d.event_type, d.value, d.med, mad.mad
FROM d JOIN mad ON d.event_type = mad.event_type
WHERE d.dev > 3 * mad.mad
""",
)
def events_mad_outliers(spark, sf_dir):
    """Robust outlier screen: |x − median| > 3·MAD per event type. The
    z-score screen (events_user_value_outliers) breaks down exactly
    when outliers are present — they inflate the σ they are judged
    against; median/MAD have a 50% breakdown point. Both statistics
    are discrete rank selections (median = value at rank ⌈n/2⌉), so
    every number in the predicate is an actual data value and the
    whole screen is bit-portable — no mean, no sqrt, no interpolation.
    Two grouped exact SELECTIONS (round 9,
    operators.ranks.grouped_exact_quantiles — block counts + local
    sorts of only the median blocks, never a per-type full sort in one
    task) plus two broadcast joins of the 5-row statistics."""
    from wikipedia_data_pipeline_spark.operators.ranks import (
        grouped_exact_quantiles,
    )

    ev = load_table(spark, sf_dir, "events")

    def rank_select(df, order_col, out_name):
        return grouped_exact_quantiles(
            df.select("event_type", order_col, "event_id"),
            ["event_type"],
            [F.asc(order_col), F.asc("event_id")],
            [("med", 1, 2)],
            tag_col="_q",
        ).select("event_type", F.col(order_col).alias(out_name))

    med = rank_select(ev, "value", "med")
    d = ev.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("dev"),
    )
    mad = rank_select(d, "dev", "mad")
    return (
        d.join(F.broadcast(mad), "event_type")
        .filter(F.col("dev") > 3 * F.col("mad"))
        .select("event_id", "event_type", "value", "med", "mad")
    )


@register(
    "events_daily_count_anomalies",
    oracle=f"""
WITH t0 AS (SELECT min(epoch_us(ts)) AS ts0 FROM events),
byday AS (
  SELECT (epoch_us(ts) - ts0) // {_US_PER_DAY} AS day_idx,
         count(*) AS n
  FROM events, t0 GROUP BY 1
),
m AS (SELECT CAST(sum(n) AS DOUBLE) / count(*) AS mean_n FROM byday)
SELECT day_idx, n, mean_n,
       n > mean_n + 3 * sqrt(mean_n) AS is_spike,
       n < mean_n - 3 * sqrt(mean_n) AS is_drop
FROM byday, m
ORDER BY day_idx
""",
)
def events_daily_count_anomalies(spark, sf_dir):
    """Day-level volume anomalies under the Poisson model: a day is a
    spike/drop when its count leaves mean ± 3·√mean (the variance of a
    Poisson IS its mean — no second moment needed, which is why this is
    the standard first monitor on event volumes). The mean is one
    exact division and sqrt is correctly-rounded IEEE, so flags are
    bit-portable. Day counts: one aggregate in the integer-µs domain;
    the stats ride a 1-row broadcast."""
    ev = load_table(spark, sf_dir, "events")
    t0 = ev.agg(F.min("ts").alias("ts0"))
    byday = (
        ev.crossJoin(F.broadcast(t0))
        .groupBy(F.expr(f"(ts - ts0) div {_US_PER_DAY}").alias("day_idx"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    m = byday.agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("mean_n")
    )
    return (
        byday.crossJoin(F.broadcast(m))
        .select(
            "day_idx",
            "n",
            "mean_n",
            (F.col("n") > F.col("mean_n") + 3 * F.sqrt("mean_n")).alias(
                "is_spike"
            ),
            (F.col("n") < F.col("mean_n") - 3 * F.sqrt("mean_n")).alias(
                "is_drop"
            ),
        )
        .orderBy("day_idx")
    )


@register(
    "events_user_entropy",
    oracle="""
WITH c AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events GROUP BY user_id, event_type
),
tot AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS nt FROM c GROUP BY user_id),
terms AS (
  SELECT c.user_id,
         CAST(round(-(CAST(n AS DOUBLE) / nt)
                    * log2(CAST(n AS DOUBLE) / nt), 9)
              AS DECIMAL(18,9)) AS term
  FROM c JOIN tot ON c.user_id = tot.user_id
)
SELECT user_id, CAST(sum(term) AS DOUBLE) AS entropy_bits
FROM terms GROUP BY user_id
""",
)
def events_user_entropy(spark, sf_dir):
    """Per-user behavioral entropy over the event-type distribution
    (H = −Σ p·log₂p): the diversity score that separates single-action
    bots (H≈0) from organic users (H near log₂|types|) — a standard
    bot/abuse screen. Each term is computed once per (user, type) and
    rounded; the per-user sum rides DECIMAL so partial-aggregation
    order can't flip bits."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = c.groupBy("user_id").agg(F.sum("n").alias("nt"))
    p = F.col("n").cast("double") / F.col("nt")
    terms = c.join(tot, "user_id").select(
        "user_id",
        F.round(-p * F.log2(p), 9).cast("decimal(18,9)").alias("term"),
    )
    return terms.groupBy("user_id").agg(
        F.sum("term").cast("double").alias("entropy_bits")
    )


# ---------------------------------------------------------------------------
# Gini coefficient of per-user value totals
# ---------------------------------------------------------------------------

_GINI_ORACLE = """
WITH u AS (
  SELECT user_id,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY user_id
),
r AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents, user_id) AS i
  FROM u
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(cents AS DECIMAL(38,0))) AS tot,
         sum(CAST(i * cents AS DECIMAL(38,0))) AS weighted
  FROM r
)
SELECT n,
       CAST(tot AS BIGINT) AS total_cents,
       2.0 * CAST(weighted AS DOUBLE)
         / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE))
       - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini
FROM s
"""


@register("events_value_gini", oracle=_GINI_ORACLE)
def events_value_gini(spark, sf_dir):
    """Gini coefficient of per-user spend — the inequality readout
    (0 = everyone equal, →1 = one whale) that complements
    `nation_revenue_hhi` (HHI weighs squared shares; Gini weighs the
    whole Lorenz curve).

    The rank formulation G = 2Σi·xᵢ/(nΣx) − (n+1)/n needs one global
    sort of the per-user totals — a row_number with a declared
    (cents, user_id) total order so ties are deterministic — then two
    DECIMAL sums and one fixed IEEE finale. The fact table collapses
    to |users| rows before any rank is assigned, and the rank itself
    is ``operators.ranks.ordered_scan`` — the hierarchical range-
    partitioned scan — because |users| at 100 TB is 1e8+: an
    unpartitioned row_number window would serialize the entity
    relation through one task.
    """
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    r = ordered_scan(u, ["cents", "user_id"], rank_col="i").select(
        "cents", "i"
    )
    dec = "decimal(38,0)"
    s = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cents").cast(dec)).alias("tot"),
        F.sum((F.col("i") * F.col("cents")).cast(dec)).alias("weighted"),
    )
    nd = F.col("n").cast("double")
    return s.select(
        "n",
        F.col("tot").cast("long").alias("total_cents"),
        (
            2.0
            * F.col("weighted").cast("double")
            / (nd * F.col("tot").cast("double"))
            - (nd + 1.0) / nd
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Day-of-week × hour-of-day activity heatmap with independence lift
# ---------------------------------------------------------------------------

_HEATMAP_ORACLE = """
WITH c AS (
  SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
         (epoch_us(ts) // 3600000000) % 24 AS hod,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT dow, hod, n_events,
       CAST(n_events AS DOUBLE)
         * CAST(sum(n_events) OVER () AS DOUBLE)
         / (CAST(sum(n_events) OVER (PARTITION BY dow) AS DOUBLE)
            * CAST(sum(n_events) OVER (PARTITION BY hod) AS DOUBLE))
         AS lift
FROM c
"""


@register("events_dow_hod_heatmap", oracle=_HEATMAP_ORACLE)
def events_dow_hod_heatmap(spark, sf_dir):
    """Day-of-week × hour-of-day traffic heatmap with independence
    lift: cell count over the count expected if weekday and hour were
    independent (lift > 1 = that slot is hotter than its marginals
    predict — the capacity-planning readout a plain histogram hides).

    One hash-agg collapses the fact table to ≤ 168 cells; the three
    marginal windows run over those cells. Lift is a ratio of BIGINT
    counts in one fixed expression. Weekday from epoch-day (d+4) mod 7,
    immune to engine locale/dayofweek disagreements.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        (((F.col("ts") / 86_400_000_000).cast("long") + 4) % 7).alias("dow"),
        ((F.col("ts") / 3_600_000_000).cast("long") % 24).alias("hod"),
    ).groupBy("dow", "hod").agg(F.count(F.lit(1)).alias("n_events"))
    tot = F.sum("n_events").over(Window.partitionBy())
    by_dow = F.sum("n_events").over(Window.partitionBy("dow"))
    by_hod = F.sum("n_events").over(Window.partitionBy("hod"))
    return c.select(
        "dow",
        "hod",
        "n_events",
        (
            F.col("n_events").cast("double")
            * tot.cast("double")
            / (by_dow.cast("double") * by_hod.cast("double"))
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# Interarrival burstiness index per user
# ---------------------------------------------------------------------------

_BURSTINESS_ORACLE = """
WITH g AS (
  SELECT user_id,
         (epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id)) // 1000
           AS gap_ms
  FROM events
),
s AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_gaps,
         sum(CAST(gap_ms AS DECIMAL(38,0))) AS sg,
         sum(CAST(gap_ms * gap_ms AS DECIMAL(38,0))) AS sgg
  FROM g WHERE gap_ms IS NOT NULL GROUP BY user_id
)
SELECT user_id, n_gaps,
       (sqrt(CAST(n_gaps AS DOUBLE) * CAST(sgg AS DOUBLE)
             - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
        - CAST(sg AS DOUBLE))
       / (sqrt(CAST(n_gaps AS DOUBLE) * CAST(sgg AS DOUBLE)
               - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
          + CAST(sg AS DOUBLE)) AS burstiness
FROM s WHERE n_gaps > 1 AND sg > 0
"""


@register("events_burstiness_index", oracle=_BURSTINESS_ORACLE)
def events_burstiness_index(spark, sf_dir):
    """Goh-Barabási burstiness B = (σ−μ)/(σ+μ) of per-user interarrival
    gaps: −1 = metronome (bot heartbeat), 0 = Poisson (organic), →1 =
    extreme bursts — the temporal-signature screen that complements
    the value-based `events_autocorr_lag1` and mix-based KL/entropy
    screens.

    σ and μ both come from two DECIMAL-exact integer moment sums in
    the MILLISECOND domain (µs gaps square past 2⁶³; ms keeps Σgap² —
    maximal when one gap spans the window — inside int64 for spans up
    to ~49 days, so the decimal→double casts are single correctly-
    rounded conversions on both engines; a year-scale window would
    drop to seconds or use the three-word split). The √n scale factor
    cancels in the ratio; B is one fixed IEEE expression per user. One
    lag window + one aggregate, both keyed on user_id.
    """
    ev = load_table(spark, sf_dir, "events")
    g = ev.select(
        "user_id",
        F.expr(
            "(ts - lag(ts) OVER (PARTITION BY user_id"
            " ORDER BY ts, event_id)) div 1000"
        ).alias("gap_ms"),
    ).filter(F.col("gap_ms").isNotNull())
    dec = "decimal(38,0)"
    s = g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum(F.col("gap_ms").cast(dec)).alias("sg"),
        F.sum((F.col("gap_ms") * F.col("gap_ms")).cast(dec)).alias("sgg"),
    )
    nd = F.col("n_gaps").cast("double")
    sg, sgg = F.col("sg").cast("double"), F.col("sgg").cast("double")
    sd_n = F.sqrt(nd * sgg - sg * sg)  # = n·σ... shares scale with sg = n·μ
    return (
        s.filter((F.col("n_gaps") > 1) & (F.col("sg") > 0))
        .select(
            "user_id",
            "n_gaps",
            ((sd_n - sg) / (sd_n + sg)).alias("burstiness"),
        )
    )


# ---------------------------------------------------------------------------
# Peaks-over-threshold mean excess per event type
# ---------------------------------------------------------------------------
# The extreme-value-theory screen downstream of events_winsorized's
# p99 threshold: for exceedances x > u, the mean excess E[x - u | x > u]
# is the quantity whose linearity in u diagnoses a generalized-Pareto
# tail (rising mean excess = heavy tail; the capacity-planning
# companion to stats_hill_tail_index). Thresholds come from the same
# grouped exact SELECTION as events_winsorized (never a per-type
# window over the fact table); excesses are exact cents BIGINTs, the
# mean is one fixed double division.

_POT_ORACLE = """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id)
           AS rn,
         count(*) OVER (PARTITION BY event_type) AS cnt
  FROM events
),
p99 AS (
  SELECT event_type, min(value) AS p99_v, CAST(max(cnt) AS BIGINT) AS n
  FROM ranked WHERE rn >= CAST(ceil(0.99 * cnt) AS BIGINT)
  GROUP BY event_type
),
exc AS (
  SELECT e.event_type,
         CAST(count(*) AS BIGINT) AS n_exceed,
         CAST(sum(CAST(round(e.value * 100) AS BIGINT)
                  - CAST(round(p.p99_v * 100) AS BIGINT)) AS BIGINT)
           AS excess_cents
  FROM events e JOIN p99 p ON e.event_type = p.event_type
  WHERE e.value > p.p99_v
  GROUP BY e.event_type
)
SELECT p.event_type, p.n, p.p99_v,
       coalesce(x.n_exceed, 0) AS n_exceed,
       CAST(coalesce(x.n_exceed, 0) AS DOUBLE) / p.n AS exceed_rate,
       CASE WHEN coalesce(x.n_exceed, 0) > 0
            THEN CAST(x.excess_cents AS DOUBLE) / (100.0 * x.n_exceed)
            ELSE 0.0 END AS mean_excess
FROM p99 p LEFT JOIN exc x ON p.event_type = x.event_type
"""


@register("events_mean_excess_pot", oracle=_POT_ORACLE)
def events_mean_excess_pot(spark, sf_dir):
    """Peaks-over-threshold mean excess over the per-type discrete p99
    — the EVT tail screen (rising mean excess with threshold = GPD
    heavy tail). See the section comment for the selection-not-window
    threshold discipline."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    p99 = _type_p99(ev).join(counts, "event_type")
    cents = F.round(F.col("value") * 100).cast("long")
    ucents = F.round(F.col("p99_v") * 100).cast("long")
    exc = (
        ev.join(F.broadcast(p99.select("event_type", "p99_v")), "event_type")
        .filter(F.col("value") > F.col("p99_v"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exceed"),
            F.sum(cents - ucents).cast("long").alias("excess_cents"),
        )
    )
    joined = p99.join(exc, "event_type", "left")
    n_exc = F.coalesce(F.col("n_exceed"), F.lit(0)).cast("long")
    return joined.select(
        "event_type",
        "n",
        "p99_v",
        n_exc.alias("n_exceed"),
        (n_exc.cast("double") / F.col("n")).alias("exceed_rate"),
        F.when(
            n_exc > 0,
            F.col("excess_cents").cast("double") / (100.0 * F.col("n_exceed")),
        )
        .otherwise(0.0)
        .alias("mean_excess"),
    )


# ---------------------------------------------------------------------------
# Theil T inequality index with between/within group decomposition
# ---------------------------------------------------------------------------
# The decomposable inequality measure (Theil 1967): T = sum (x/S) ln(x
# n / S) over rows, which splits EXACTLY into sum_g share_g * T_g
# (within) + sum_g share_g * ln(mean_g / mean) (between) — the property
# Gini lacks and the reason mixture/skew audits use Theil to attribute
# concentration to groups. Scale-invariant, so it is computed on exact
# integer cents. Per-row x*ln(x) terms are micro-quantized BIGINTs
# re-summed in DECIMAL (associative, partitioning-proof); every
# per-group output is ONE fixed double expression over exact integers.

_THEIL_ORACLE = """
WITH r AS (
  SELECT event_type, c FROM (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events
  ) WHERE c > 0
),
t AS (
  SELECT event_type, c,
         CAST(round((CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) * 1e6)
              AS BIGINT) AS xlnx_micro
  FROM r
),
g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(c) AS BIGINT) AS s_g,
         CAST(sum(CAST(xlnx_micro AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS l_g
  FROM t GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(sum(s_g) AS BIGINT) AS s
  FROM g
)
SELECT g.event_type, g.n_g, g.s_g AS sum_cents,
       CAST(g.l_g AS DOUBLE) / 1e6 / g.s_g
         - ln(CAST(g.s_g AS DOUBLE) / g.n_g) AS theil_within,
       CAST(g.s_g AS DOUBLE) / tot.s AS share_value,
       (CAST(g.s_g AS DOUBLE) / tot.s)
         * ln((CAST(g.s_g AS DOUBLE) / CAST(tot.s AS DOUBLE))
              * (CAST(tot.n AS DOUBLE) / CAST(g.n_g AS DOUBLE)))
         AS between_term,
       (CAST(g.s_g AS DOUBLE) / tot.s)
         * (CAST(g.l_g AS DOUBLE) / 1e6 / g.s_g
            - ln(CAST(g.s_g AS DOUBLE) / g.n_g)) AS within_term
FROM g CROSS JOIN tot
"""


@register("events_theil_inequality", oracle=_THEIL_ORACLE)
def events_theil_inequality(spark, sf_dir):
    """Theil T inequality of event values, decomposed by event type:
    per group the within-group Theil, the group's value share, and its
    between/within contributions (total T = sum of the two term
    columns — the exact decomposition `events_value_gini` cannot
    give). See the section comment for the micro-quantized x ln x
    construction; one fact scan, one k-row group agg, a broadcast
    1-row totals attach."""
    ev = load_table(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("long")
    vd = F.col("c").cast("double")
    # Theil is defined on POSITIVE values: rows rounding to 0 cents are
    # excluded on both sides (on this fixture none exist at the gate
    # SFs; the 100x replica's value perturbation can produce them, and
    # Spark's ln(0)=NULL would silently drop terms while DuckDB errors)
    t = (
        ev.select("event_type", c.alias("c"))
        .filter(F.col("c") > 0)
        .select(
            "event_type",
            "c",
            F.round((vd * F.log(vd)) * 1e6).cast("long").alias("xlnx_micro"),
        )
    )
    g = t.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("c").cast("long").alias("s_g"),
        F.sum(F.col("xlnx_micro").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("l_g"),
    )
    tot = g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
    )
    sg_d = F.col("s_g").cast("double")
    theil_within = F.col("l_g").cast("double") / 1e6 / F.col("s_g") - F.log(
        sg_d / F.col("n_g")
    )
    share = sg_d / F.col("s")
    return g.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_g",
        F.col("s_g").alias("sum_cents"),
        theil_within.alias("theil_within"),
        share.alias("share_value"),
        (
            share
            * F.log(
                (sg_d / F.col("s").cast("double"))
                * (F.col("n").cast("double") / F.col("n_g").cast("double"))
            )
        ).alias("between_term"),
        (share * theil_within).alias("within_term"),
    )


# ---------------------------------------------------------------------------
# Capture-recapture (Lincoln-Petersen / Chapman) population estimate
# ---------------------------------------------------------------------------
# Treat the first and second halves of the time range as two "capture
# occasions": n1 users seen in the first half, n2 in the second, m in
# both. N_hat = n1*n2/m (Lincoln-Petersen) and Chapman's bias-corrected
# (n1+1)(n2+1)/(m+1) - 1 estimate the TRUE distinct-user population —
# the estimator a crawl/dedup pipeline uses to ask "how many entities
# exist that we have NOT seen yet" from overlap alone, with the actual
# distinct count alongside as ground truth. One fact scan to per-user
# flags, one global agg; every estimate is a fixed double expression
# of four exact BIGINTs.

_CAPTURE_ORACLE = """
WITH b AS (
  SELECT min(epoch_us(ts)) + (max(epoch_us(ts)) - min(epoch_us(ts))) // 2
           AS mid
  FROM events
),
u AS (
  SELECT user_id,
         max(CASE WHEN epoch_us(ts) < b.mid THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN epoch_us(ts) >= b.mid THEN 1 ELSE 0 END) AS in_b
  FROM events CROSS JOIN b GROUP BY 1
),
cnt AS (
  SELECT CAST(sum(in_a) AS BIGINT) AS n1,
         CAST(sum(in_b) AS BIGINT) AS n2,
         CAST(sum(in_a * in_b) AS BIGINT) AS m,
         CAST(count(*) AS BIGINT) AS n_true
  FROM u
)
SELECT n1, n2, m, n_true,
       CAST(n1 * n2 AS DOUBLE) / m AS lp_estimate,
       CAST((n1 + 1) * (n2 + 1) AS DOUBLE) / (m + 1) - 1 AS chapman_estimate,
       CAST(n1 + 1 AS DOUBLE) * (n2 + 1) * (n1 - m) * (n2 - m)
         / (CAST(m + 1 AS DOUBLE) * (m + 1) * (m + 2)) AS chapman_variance
FROM cnt
"""


@register("events_capture_recapture", oracle=_CAPTURE_ORACLE)
def events_capture_recapture(spark, sf_dir):
    """Two-occasion capture-recapture estimate of the distinct-user
    population from first-half/second-half overlap (Lincoln-Petersen +
    Chapman, with Chapman's variance), reported next to the true
    distinct count. See the section comment; the half-split boundary
    is exact integer microseconds from the broadcast global bounds."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        (
            F.min("ts") + F.expr("(max(ts) - min(ts)) div 2")
        ).alias("mid")
    )
    u = (
        ev.crossJoin(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("ts") < F.col("mid"), 1).otherwise(0)).alias(
                "in_a"
            ),
            F.max(F.when(F.col("ts") >= F.col("mid"), 1).otherwise(0)).alias(
                "in_b"
            ),
        )
    )
    cnt = u.agg(
        F.sum("in_a").cast("long").alias("n1"),
        F.sum("in_b").cast("long").alias("n2"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("m"),
        F.count(F.lit(1)).cast("long").alias("n_true"),
    )
    n1, n2, m = F.col("n1"), F.col("n2"), F.col("m")
    return cnt.select(
        "n1",
        "n2",
        "m",
        "n_true",
        ((n1 * n2).cast("double") / m).alias("lp_estimate"),
        (((n1 + 1) * (n2 + 1)).cast("double") / (m + 1) - 1).alias(
            "chapman_estimate"
        ),
        (
            (n1 + 1).cast("double")
            * (n2 + 1)
            * (n1 - m)
            * (n2 - m)
            / ((m + 1).cast("double") * (m + 1) * (m + 2))
        ).alias("chapman_variance"),
    )


# ---------------------------------------------------------------------------
# GPD method-of-moments fit to the peaks-over-threshold excesses
# ---------------------------------------------------------------------------
# The estimation half of events_mean_excess_pot's EVT screen: fit a
# Generalized Pareto to the excesses above each type's discrete p99 by
# moments — xi = (1 - m^2/s^2)/2, beta = m(m^2/s^2 + 1)/2 (Hosking &
# Wallis 1987). xi > 0 = heavy tail (infinite higher moments
# eventually), xi < 0 = bounded tail; beta scales the exceedances —
# the two numbers a tail-risk monitor actually consumes. Excess
# moments are exact integer cents / DECIMAL cents^2; the estimates are
# fixed double expressions per type.

_GPD_ORACLE = """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id)
           AS rn,
         count(*) OVER (PARTITION BY event_type) AS cnt
  FROM events
),
p99 AS (
  SELECT event_type, min(value) AS p99_v
  FROM ranked WHERE rn >= CAST(ceil(0.99 * cnt) AS BIGINT)
  GROUP BY event_type
),
exc AS (
  SELECT e.event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(e.value * 100) AS BIGINT)
                  - CAST(round(p.p99_v * 100) AS BIGINT)) AS BIGINT) AS s,
         CAST(sum(CAST(CAST(round(e.value * 100) AS BIGINT)
                       - CAST(round(p.p99_v * 100) AS BIGINT)
                       AS DECIMAL(19,0))
                  * (CAST(round(e.value * 100) AS BIGINT)
                     - CAST(round(p.p99_v * 100) AS BIGINT)))
              AS DECIMAL(38,0)) AS q
  FROM events e JOIN p99 p ON e.event_type = p.event_type
  WHERE e.value > p.p99_v
  GROUP BY e.event_type
),
fit AS (
  SELECT p.event_type, p.p99_v, x.n, x.s, x.q,
         (CAST(x.s AS DOUBLE) / x.n)
           * (CAST(x.s AS DOUBLE) / x.n)
           / (CAST(CAST(x.n AS DECIMAL(38,0)) * x.q
                   - CAST(x.s AS DECIMAL(38,0)) * x.s AS DOUBLE)
              / (CAST(x.n AS DOUBLE) * (x.n - 1))) AS m2_over_v
  FROM p99 p JOIN exc x ON p.event_type = x.event_type
  WHERE x.n >= 2
)
SELECT event_type, p99_v, n AS n_exceed,
       CAST(s AS DOUBLE) / n / 100.0 AS mean_excess,
       0.5 * (1 - m2_over_v) AS xi_hat,
       0.5 * (CAST(s AS DOUBLE) / n / 100.0) * (m2_over_v + 1) AS beta_hat
FROM fit
"""


@register("events_gpd_moment_fit", oracle=_GPD_ORACLE)
def events_gpd_moment_fit(spark, sf_dir):
    """Generalized-Pareto method-of-moments fit (xi, beta) to the
    excesses above each event type's discrete p99 — the parametric
    completion of events_mean_excess_pot's rising-mean-excess screen.
    See the section comment; threshold selection rides the same
    grouped exact order statistics (never a per-type window), and the
    excess moments are one hash aggregate."""
    ev = load_table(spark, sf_dir, "events")
    p99 = _type_p99(ev)
    cents = F.round(F.col("value") * 100).cast("long")
    ucents = F.round(F.col("p99_v") * 100).cast("long")
    d = cents - ucents
    exc = (
        ev.join(F.broadcast(p99), "event_type")
        .filter(F.col("value") > F.col("p99_v"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(d).cast("long").alias("s"),
            F.sum(d.cast("decimal(19,0)") * d)
            .cast("decimal(38,0)")
            .alias("q"),
        )
    )
    m = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("n").cast("decimal(38,0)") * F.col("q")
        - F.col("s").cast("decimal(38,0)") * F.col("s")
    ).cast("double") / (F.col("n").cast("double") * (F.col("n") - 1))
    fit = (
        p99.join(exc, "event_type")
        .filter(F.col("n") >= 2)
        .select(
            "event_type",
            "p99_v",
            "n",
            "s",
            (m * m / var).alias("m2_over_v"),
        )
    )
    me = F.col("s").cast("double") / F.col("n") / 100.0
    return fit.select(
        "event_type",
        "p99_v",
        F.col("n").alias("n_exceed"),
        me.alias("mean_excess"),
        (0.5 * (1 - F.col("m2_over_v"))).alias("xi_hat"),
        (0.5 * me * (F.col("m2_over_v") + 1)).alias("beta_hat"),
    )
