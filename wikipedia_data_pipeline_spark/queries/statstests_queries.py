"""Fixed-horizon hypothesis tests over the events stream: A/B lift,
KS, Mann-Whitney, bootstrap CI, chi-square, BH-FDR multiple-testing
control, the hash-permutation test, and TOST equivalence.
All exact-oracle: test statistics reduce to counts/ranks/decimal sums
both engines compute bit-identically. Split out of stats_queries
(round 9), again along fixed-horizon-vs-drift/sequential lines
(round 11 — screens, trends, CUSUM, and SPRT live in
statsdrift_queries), and again in round 13 (survival / stratified-
contingency contrasts and effect sizes live in
statscontrast_queries)."""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators.sampling import SQL_DET_HASH
from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table

# --- Experimentation + entity-level splits (round 5) --------------------

@register(
    "events_ab_test_lift",
    oracle="""
WITH u AS (
  SELECT user_id, user_id % 2 AS variant,
         CASE WHEN sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) >= 15
              THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY user_id
),
s AS (
  SELECT variant, count(*) AS n,
         CAST(sum(converted) AS BIGINT) AS conv
  FROM u GROUP BY variant
),
w AS (
  SELECT
    (SELECT n FROM s WHERE variant = 0) AS n_a,
    (SELECT conv FROM s WHERE variant = 0) AS conv_a,
    (SELECT n FROM s WHERE variant = 1) AS n_b,
    (SELECT conv FROM s WHERE variant = 1) AS conv_b
)
SELECT n_a, conv_a, n_b, conv_b,
       CAST(conv_a AS DOUBLE) / n_a AS rate_a,
       CAST(conv_b AS DOUBLE) / n_b AS rate_b,
       CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a AS lift,
       (CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a)
         / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                * (1.0 / n_a + 1.0 / n_b)) AS z_score
FROM w
""",
)
def events_ab_test_lift(spark, sf_dir):
    """Two-proportion A/B readout (variant = user parity, conversion =
    ≥15 clicks — a non-saturated engagement bar on this stream): per-variant user counts, conversion rates, lift, and
    the pooled z-statistic. Every input is an integer aggregate, and
    the statistic uses only IEEE ops that are CORRECTLY-ROUNDED by the
    standard (+ − × ÷ sqrt), so even the z-score is bit-identical
    across engines with no rounding crutch. One user-keyed aggregate
    (the only data shuffle), then arithmetic on a 2-row relation."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            >= 15,
            1,
        )
        .otherwise(0)
        .alias("converted")
    ).select((F.col("user_id") % 2).alias("variant"), "converted")
    s = u.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("conv")
    )
    a = s.filter(F.col("variant") == 0).select(
        F.col("n").alias("n_a"), F.col("conv").alias("conv_a")
    )
    b = s.filter(F.col("variant") == 1).select(
        F.col("n").alias("n_b"), F.col("conv").alias("conv_b")
    )
    w = a.crossJoin(b)
    rate_a = F.col("conv_a").cast("double") / F.col("n_a")
    rate_b = F.col("conv_b").cast("double") / F.col("n_b")
    pooled = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    return w.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        rate_a.alias("rate_a"),
        rate_b.alias("rate_b"),
        (rate_b - rate_a).alias("lift"),
        (
            (rate_b - rate_a)
            / F.sqrt(
                pooled
                * (1 - pooled)
                * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
            )
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Exact two-sample tests between A/B variants (KS and Mann-Whitney)
# ---------------------------------------------------------------------------
# Both tests reduce to cumulative counts over the DISTINCT-value
# relation: every statistic is integer until one final fixed-form
# double expression, so the result is bit-reproducible under any
# partitioning. The cumulative window is global, but it runs on the
# collapsed distinct-value relation (not the fact table); at cluster
# scale the same prefix-sum runs over a repartitionByRange + running
# per-partition offsets — the plan below is the sf-appropriate form.

_KS_ORACLE = """
WITH v AS (
  SELECT value,
         sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS ca_v,
         sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS cb_v
  FROM events GROUP BY value
),
c AS (
  SELECT sum(ca_v) OVER (ORDER BY value
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS ca,
         sum(cb_v) OVER (ORDER BY value
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cb,
         sum(ca_v) OVER () AS na,
         sum(cb_v) OVER () AS nb
  FROM v
)
SELECT CAST(max(na) AS BIGINT) AS n_a,
       CAST(max(nb) AS BIGINT) AS n_b,
       CAST(max(abs(ca * max_nb - cb * max_na)) AS BIGINT) AS d_num,
       CAST(max(abs(ca * max_nb - cb * max_na)) AS DOUBLE)
         / (CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE)) AS ks_stat
FROM (SELECT ca, cb, na, nb,
             max(na) OVER () AS max_na, max(nb) OVER () AS max_nb
      FROM c)
"""


@register("events_ks_test_ab", oracle=_KS_ORACLE)
def events_ks_test_ab(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov statistic between the A/B
    variants' value distributions (variant = user_id % 2, as in
    `events_ab_test_lift`): D = max |F_a − F_b| with the CDF gap kept
    as the INTEGER |ca·n_b − cb·n_a| until one final division.

    Lineage: one hash-agg collapses the fact table to per-distinct-
    value A/B counts; the cumulative CDFs and the group totals come
    from ONE hierarchical `ordered_scan` over that collapsed relation
    (with_totals — no second scan). The value domain is a model-score
    shape: on a near-unique DOUBLE column the distinct relation is
    fact-sized, so the prefix sums must stay range-partitioned rather
    than serialize through an unpartitioned window. Integer
    cross-multiplication avoids the per-row double division a naive
    CDF comparison would do — and makes the max deterministic (no
    float ties).
    """
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan

    ev = load_table(spark, sf_dir, "events")
    is_a = (F.col("user_id") % 2 == 0).cast("long")
    v = ev.groupBy("value").agg(
        F.sum(is_a).alias("ca_v"),
        F.sum(1 - is_a).alias("cb_v"),
    )
    c = ordered_scan(
        v,
        ["value"],
        running=[("ca", "ca_v", "sum"), ("cb", "cb_v", "sum")],
        with_totals=True,
    )
    gap = F.abs(
        F.col("ca") * F.col("cb_total") - F.col("cb") * F.col("ca_total")
    )
    return c.agg(
        F.max("ca_total").cast("long").alias("n_a"),
        F.max("cb_total").cast("long").alias("n_b"),
        F.max(gap).cast("long").alias("d_num"),
        (
            F.max(gap).cast("double")
            / (
                F.max("ca_total").cast("double")
                * F.max("cb_total").cast("double")
            )
        ).alias("ks_stat"),
    )


_MWU_ORACLE = """
WITH v AS (
  SELECT value,
         sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS ca_v,
         sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS cb_v
  FROM events GROUP BY value
),
r AS (
  SELECT ca_v, cb_v, ca_v + cb_v AS t,
         coalesce(sum(ca_v + cb_v) OVER (ORDER BY value
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM v
),
s AS (
  SELECT CAST(sum(ca_v) AS BIGINT) AS na,
         CAST(sum(cb_v) AS BIGINT) AS nb,
         CAST(sum(ca_v * (2 * cum_before + t + 1)) AS BIGINT) AS s2a,
         sum(CAST(t * t * t - t AS DECIMAL(38,0))) AS tie3
  FROM r
)
SELECT na, nb,
       s2a - na * (na + 1) AS u2_a,
       (CAST(s2a - na * (na + 1) AS DOUBLE) - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
       / (2.0 * sqrt(
            CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
            * (CAST(na + nb + 1 AS DOUBLE)
               - CAST(tie3 AS DOUBLE)
                 / (CAST(na + nb AS DOUBLE) * CAST(na + nb - 1 AS DOUBLE)))
          )) AS z_stat
FROM s
"""


@register("events_mannwhitney_ab", oracle=_MWU_ORACLE)
def events_mannwhitney_ab(spark, sf_dir):
    """Exact Mann-Whitney U between the A/B variants — the rank-based
    (distribution-free) companion to the mean-based z-test in
    `events_ab_test_lift`, robust to the heavy tails that
    `events_skew_kurtosis` diagnoses.

    Tie-averaged ranks are kept integral by working in DOUBLED rank
    units: a tied run of t values starting after cum_before rows has
    average 2×rank = 2·cum_before + t + 1, so U arrives as the exact
    BIGINT u2_a = 2·U_a. The tie-corrected normal approximation is one
    fixed double expression over (na, nb, u2_a, Σt³−t). Same collapsed
    distinct-value lineage as the KS test — one hash-agg, then the
    exclusive prefix sum (inclusive running sum − current tie-run) from
    a hierarchical `ordered_scan`, so a near-unique score domain never
    serializes through an unpartitioned window.
    """
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan

    ev = load_table(spark, sf_dir, "events")
    is_a = (F.col("user_id") % 2 == 0).cast("long")
    v = ev.groupBy("value").agg(
        F.sum(is_a).alias("ca_v"),
        F.sum(1 - is_a).alias("cb_v"),
    )
    vt = v.select(
        "value", "ca_v", "cb_v", (F.col("ca_v") + F.col("cb_v")).alias("t")
    )
    r = ordered_scan(
        vt, ["value"], running=[("cum_t", "t", "sum")]
    ).select(
        "ca_v",
        "cb_v",
        "t",
        (F.col("cum_t") - F.col("t")).alias("cum_before"),
    )
    s = r.agg(
        F.sum("ca_v").cast("long").alias("na"),
        F.sum("cb_v").cast("long").alias("nb"),
        F.sum(
            F.col("ca_v") * (2 * F.col("cum_before") + F.col("t") + 1)
        )
        .cast("long")
        .alias("s2a"),
        F.sum(
            (F.col("t") * F.col("t") * F.col("t") - F.col("t")).cast(
                "decimal(38,0)"
            )
        ).alias("tie3"),
    )
    na, nb = F.col("na"), F.col("nb")
    u2a = F.col("s2a") - na * (na + 1)
    nad, nbd = na.cast("double"), nb.cast("double")
    z = (u2a.cast("double") - nad * nbd) / (
        2.0
        * F.sqrt(
            nad * nbd / 12.0
            * (
                (na + nb + 1).cast("double")
                - F.col("tie3").cast("double")
                / ((na + nb).cast("double") * (na + nb - 1).cast("double"))
            )
        )
    )
    return s.select(
        "na",
        "nb",
        u2a.alias("u2_a"),
        z.alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Deterministic distributed bootstrap (Poissonized resampling)
# ---------------------------------------------------------------------------
# The scale-canonical bootstrap: instead of materializing R resamples,
# each row carries a Poisson(1) weight per replicate (the Poissonized /
# "Bag of Little Bootstraps" trick — one scan, R weighted sums). The
# Poisson draw is the fixed inverse-CDF table below applied to a
# uniform derived from the engine's portable det_hash — so the whole
# procedure is reproducible across engines, runs, and cluster sizes,
# and the DuckDB oracle can replay it exactly.

_BOOT_REPS = 100
# Poisson(1) CDF × 1e6, capped at weight 4 (P(W>4) ≈ 0.37%).
_POIS_CUM = [367879, 735759, 919699, 981012]


def _pois_w_sql(u: str) -> str:
    return (
        f"CASE WHEN {u} < {_POIS_CUM[0]} THEN 0"
        f" WHEN {u} < {_POIS_CUM[1]} THEN 1"
        f" WHEN {u} < {_POIS_CUM[2]} THEN 2"
        f" WHEN {u} < {_POIS_CUM[3]} THEN 3"
        f" ELSE 4 END"
    )


_BOOT_ORACLE = f"""
WITH expanded AS (
  SELECT rep,
         CAST(round(value * 100) AS BIGINT) AS y,
         {SQL_DET_HASH.format(col='(event_id * 101 + rep)')} % 1000000 AS u6
  FROM events,
       (SELECT unnest(generate_series(0, {_BOOT_REPS - 1})) AS rep)
),
reps AS (
  SELECT rep,
         CAST(sum({_pois_w_sql('u6')}) AS BIGINT) AS sw,
         CAST(sum({_pois_w_sql('u6')} * y) AS BIGINT) AS swy
  FROM expanded GROUP BY rep
),
means AS (
  SELECT rep, CAST(swy AS DOUBLE) / CAST(sw AS DOUBLE) AS m,
         row_number() OVER (ORDER BY CAST(swy AS DOUBLE) / CAST(sw AS DOUBLE),
                            rep) AS rn
  FROM reps WHERE sw > 0
),
base AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS mean_scaled
  FROM events
)
SELECT base.n, base.mean_scaled,
       (SELECT m FROM means WHERE rn = 3) AS ci_lo_scaled,
       (SELECT m FROM means WHERE rn = 98) AS ci_hi_scaled,
       CAST({_BOOT_REPS} AS BIGINT) AS n_reps
FROM base
"""


@register("events_bootstrap_ci", oracle=_BOOT_ORACLE)
def events_bootstrap_ci(spark, sf_dir):
    """95% bootstrap CI for the mean event value via deterministic
    Poissonized resampling: each row carries a Poisson(1) weight per
    replicate, drawn by inverse-CDF from the portable hash of
    (event_id, rep) — R=100 resamples in ONE scan, no data
    materialization, fully reproducible (same CI on any cluster).

    This is the production form of the bootstrap at 100 TB: the naive
    version materializes R copies of the data; the Poissonized version
    is a single explode×R (row-local) followed by an R-group hash-agg
    of two BIGINT counters each — shuffle volume is R rows, not R
    datasets. Replicate means order by (mean, rep) for a total order;
    the percentile pick is exact rank 3/98 of 100.
    """
    ev = load_table(spark, sf_dir, "events")
    reps = F.explode(F.sequence(F.lit(0), F.lit(_BOOT_REPS - 1))).alias("rep")
    y = F.round(F.col("value") * 100).cast("long")
    expanded = ev.select(y.alias("y"), "event_id", reps)
    key = F.col("event_id") * 101 + F.col("rep")
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    u6 = (det_hash(key) % 1_000_000).alias("u6")
    expanded = expanded.select("rep", "y", u6)
    w = (
        F.when(F.col("u6") < _POIS_CUM[0], 0)
        .when(F.col("u6") < _POIS_CUM[1], 1)
        .when(F.col("u6") < _POIS_CUM[2], 2)
        .when(F.col("u6") < _POIS_CUM[3], 3)
        .otherwise(4)
    )
    rep_sums = (
        expanded.select("rep", w.alias("w"), "y")
        .groupBy("rep")
        .agg(
            F.sum("w").cast("long").alias("sw"),
            F.sum(F.col("w") * F.col("y")).cast("long").alias("swy"),
        )
        .filter(F.col("sw") > 0)
    )
    from pyspark.sql import Window

    m = (F.col("swy").cast("double") / F.col("sw").cast("double")).alias("m")
    rn = F.row_number().over(
        Window.orderBy(
            F.col("swy").cast("double") / F.col("sw").cast("double"),
            F.col("rep"),
        )
    )
    means = rep_sums.select(m, rn.alias("rn"))
    lo = means.filter(F.col("rn") == 3).select(
        F.col("m").alias("ci_lo_scaled")
    )
    hi = means.filter(F.col("rn") == 98).select(
        F.col("m").alias("ci_hi_scaled")
    )
    base = ev.agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(y).cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("mean_scaled"),
    )
    return (
        base.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .withColumn("n_reps", F.lit(_BOOT_REPS).cast("long"))
    )


def type_dow_cells(spark, sf_dir):
    """(event_type, dow, o): the event type x day-of-week contingency
    table, one hash aggregate. The weekday bucket is epoch-day mod 7
    (engine-free arithmetic, not locale-dependent dayofweek); shared
    with stats_g_test_type_dow (statscontrast_queries)."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            (
                F.unix_date(
                    F.date_trunc(
                        "day", F.timestamp_micros(F.col("ts"))
                    ).cast("date")
                ).cast("long")
                % 7
            ).alias("dow"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
    )


@register(
    "events_chi2_type_dow",
    oracle="""
WITH cells AS (
  SELECT event_type,
         (epoch(CAST(date_trunc('day', ts) AS DATE)) // 86400) % 7 AS dow,
         count(*) AS o
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT c.event_type, c.dow, c.o,
         sum(c.o) OVER (PARTITION BY c.event_type) AS rt,
         sum(c.o) OVER (PARTITION BY c.dow) AS ct,
         sum(c.o) OVER () AS n
  FROM cells c
)
SELECT CAST(sum(CAST(
         (o - CAST(rt * ct AS DOUBLE) / n)
         * (o - CAST(rt * ct AS DOUBLE) / n)
         / (CAST(rt * ct AS DOUBLE) / n) AS DECIMAL(18, 6)))
       AS DOUBLE) AS chi2,
       CAST((count(DISTINCT event_type) - 1)
            * (count(DISTINCT dow) - 1) AS BIGINT) AS dof,
       CAST(max(n) AS BIGINT) AS n_events
FROM m
""",
)
def events_chi2_type_dow(spark, sf_dir):
    """Chi-square independence audit of event type × day-of-week — the
    drift screen for 'does traffic mix depend on weekday'. All heavy
    work is one hash aggregate to the 35-cell contingency table;
    margins ride windows over that tiny relation. The weekday bucket
    is epoch-day mod 7 (engine-free arithmetic, not locale-dependent
    dayofweek functions), and per-cell terms round through
    DECIMAL(18,6) before summing so the statistic is bit-identical
    under any parallel addition order."""
    cells = type_dow_cells(spark, sf_dir)
    from pyspark.sql import Window

    m = (
        cells.withColumn(
            "rt", F.sum("o").over(Window.partitionBy("event_type"))
        )
        .withColumn("ct", F.sum("o").over(Window.partitionBy("dow")))
        .withColumn(
            "n",
            F.sum("o").over(
                Window.partitionBy()
            ),
        )
    )
    e = (F.col("rt") * F.col("ct")).cast("double") / F.col("n")
    term = ((F.col("o") - e) * (F.col("o") - e) / e).cast("decimal(18,6)")
    return m.agg(
        F.sum(term).cast("double").alias("chi2"),
        (
            (F.countDistinct("event_type") - 1)
            * (F.countDistinct("dow") - 1)
        )
        .cast("long")
        .alias("dof"),
        F.max("n").cast("long").alias("n_events"),
    )



_BH_ORACLE = """
WITH v AS (
  SELECT event_type, value,
         sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS ca_v,
         sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS cb_v
  FROM events GROUP BY event_type, value
),
c AS (
  SELECT event_type,
         sum(ca_v) OVER (PARTITION BY event_type ORDER BY value
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS ca,
         sum(cb_v) OVER (PARTITION BY event_type ORDER BY value
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cb,
         sum(ca_v) OVER (PARTITION BY event_type) AS na,
         sum(cb_v) OVER (PARTITION BY event_type) AS nb
  FROM v
),
per AS (
  SELECT event_type,
         CAST(max(na) AS BIGINT) AS n_a,
         CAST(max(nb) AS BIGINT) AS n_b,
         CAST(max(abs(ca * nb - cb * na)) AS BIGINT) AS d_num
  FROM c GROUP BY event_type
),
scored AS (
  SELECT event_type, n_a, n_b, d_num,
         CAST(d_num AS DOUBLE)
           / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS ks_stat,
         least(CAST(1000000000 AS BIGINT),
               CAST(round(2.0 * exp(
                 -2.0 * (CAST(d_num AS DOUBLE)
                         / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
                      * (CAST(d_num AS DOUBLE)
                         / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
                      * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                      / CAST(n_a + n_b AS DOUBLE)) * 1000000000.0)
                    AS BIGINT)) AS p_nano
  FROM per
),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM scored),
ranked AS (
  SELECT s.*, m.m,
         CAST(row_number() OVER (ORDER BY p_nano ASC, event_type ASC)
              AS BIGINT) AS bh_rank
  FROM scored s, m
),
cut AS (
  SELECT CAST(max(CASE WHEN p_nano * m <= bh_rank * 100000000
                       THEN bh_rank ELSE 0 END) AS BIGINT) AS cutoff
  FROM ranked
)
SELECT event_type, n_a, n_b, d_num, ks_stat,
       CAST(p_nano AS DOUBLE) / 1000000000.0 AS p_value,
       bh_rank,
       bh_rank <= cutoff AS rejected
FROM ranked, cut
"""


@register("stats_bh_fdr_screen", oracle=_BH_ORACLE)
def stats_bh_fdr_screen(spark, sf_dir):
    """Benjamini-Hochberg FDR control (q = 0.10) over a battery of
    per-event-type two-sample KS tests (arm = user_id % 2 — parity
    data, so every null is true and the designed fixed point is ZERO
    rejections at FDR q): the multiple-testing layer every metrics
    platform needs once it screens many slices at once. The KS
    statistic per type is the events_ks_test_ab integer
    cross-multiplication discipline partitioned by type; p-values are
    the asymptotic tail bound 2·exp(-2·D²·n_a·n_b/(n_a+n_b)), capped
    at 1 and quantized ONCE to nano-units so the BH step-up — find
    the largest rank i with p_(i) <= i·q/m, reject ranks <= i — runs
    on pure BIGINT comparisons (p_nano·m <= i·10^8) both engines
    evaluate identically.

    Scale shape: fact scan -> (type, value) hash agg -> per-type
    cumulative windows over the COLLAPSED distinct-value relation ->
    type-level rows; the BH layer (rank, step-up cutoff) runs on the
    handful of per-type rows (agg-backed low-cardinality windows)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    is_a = (F.col("user_id") % 2 == 0).cast("long")
    v = ev.groupBy("event_type", "value").agg(
        F.sum(is_a).alias("ca_v"),
        F.sum(1 - is_a).alias("cb_v"),
    )
    run = Window.partitionBy("event_type").orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tw = Window.partitionBy("event_type")
    c = v.select(
        "event_type",
        F.sum("ca_v").over(run).alias("ca"),
        F.sum("cb_v").over(run).alias("cb"),
        F.sum("ca_v").over(tw).alias("na"),
        F.sum("cb_v").over(tw).alias("nb"),
    )
    gap = F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))
    per = c.groupBy("event_type").agg(
        F.max("na").cast("long").alias("n_a"),
        F.max("nb").cast("long").alias("n_b"),
        F.max(gap).cast("long").alias("d_num"),
    )
    ks = F.col("d_num").cast("double") / (
        F.col("n_a").cast("double") * F.col("n_b").cast("double")
    )
    scored = per.select(
        "event_type",
        "n_a",
        "n_b",
        "d_num",
        ks.alias("ks_stat"),
        F.least(
            F.lit(1_000_000_000).cast("long"),
            F.round(
                F.lit(2.0)
                * F.exp(
                    F.lit(-2.0)
                    * ks
                    * ks
                    * F.col("n_a").cast("double")
                    * F.col("n_b").cast("double")
                    / (F.col("n_a") + F.col("n_b")).cast("double")
                )
                * 1_000_000_000.0
            ).cast("long"),
        ).alias("p_nano"),
    )
    m = scored.agg(F.count(F.lit(1)).cast("long").alias("m"))
    ranked = scored.crossJoin(F.broadcast(m)).withColumn(
        "bh_rank",
        F.row_number()
        .over(Window.orderBy(F.asc("p_nano"), F.asc("event_type")))
        .cast("long"),
    )
    cutoff = F.max(
        F.when(
            F.col("p_nano") * F.col("m")
            <= F.col("bh_rank") * F.lit(100_000_000),
            F.col("bh_rank"),
        ).otherwise(F.lit(0))
    ).over(Window.partitionBy())
    return ranked.select(
        "event_type",
        "n_a",
        "n_b",
        "d_num",
        "ks_stat",
        (F.col("p_nano").cast("double") / 1_000_000_000.0).alias("p_value"),
        "bh_rank",
        (F.col("bh_rank") <= cutoff).alias("rejected"),
    )


# ---------------------------------------------------------------------------
# Permutation test via deterministic hash reassignments (round 10)
# ---------------------------------------------------------------------------

_PERM_K = 199  # pseudo-permutations; k=0 is the OBSERVED assignment

_PERM_ORACLE = f"""
WITH per_user AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_u,
         CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS s_u
  FROM events GROUP BY user_id
),
assigned AS (
  SELECT k, n_u, s_u,
         CAST(({SQL_DET_HASH.format(col="((user_id % 1000003) * (2 * k + 1) + k)")}) % 2 AS BIGINT) AS arm
  FROM per_user, (SELECT unnest(generate_series(0, {_PERM_K})) AS k)
),
arms AS (
  SELECT k,
         CAST(sum(CASE WHEN arm = 1 THEN n_u ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN arm = 1 THEN s_u ELSE 0 END) AS BIGINT) AS s1,
         CAST(sum(CASE WHEN arm = 0 THEN n_u ELSE 0 END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN arm = 0 THEN s_u ELSE 0 END) AS BIGINT) AS s0
  FROM assigned GROUP BY k
),
diffs AS (
  SELECT k,
         CAST(round((CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
                    * 1000.0) AS BIGINT) AS diff_nano
  FROM arms WHERE n1 > 0 AND n0 > 0
),
obs AS (SELECT diff_nano AS obs_nano FROM diffs WHERE k = 0)
SELECT CAST((SELECT count(*) FROM diffs) AS BIGINT) AS n_perms_valid,
       (SELECT obs_nano FROM obs) AS obs_diff_nano,
       (SELECT count(*) FROM obs) = 1 AS obs_valid,
       CAST((SELECT count(*) FROM diffs, obs
             WHERE k > 0 AND abs(diff_nano) >= abs(obs_nano)) AS BIGINT)
         AS n_as_extreme,
       CASE WHEN (SELECT count(*) FROM obs) = 1 THEN
       CAST(1 + (SELECT count(*) FROM diffs, obs
                 WHERE k > 0 AND abs(diff_nano) >= abs(obs_nano)) AS DOUBLE)
         / CAST(1 + (SELECT count(*) - 1 FROM diffs) AS DOUBLE) END AS p_value
"""


@register("stats_permutation_test_ab", oracle=_PERM_ORACLE)
def stats_permutation_test_ab(spark, sf_dir):
    """Permutation test for the A/B mean-value difference with
    DETERMINISTIC pseudo-permutations: permutation k reassigns each
    user's arm by an independent hash stream (k=0 reproduces the
    engine's standard observed assignment, det_hash(user_id) % 2,
    because user ids sit far below the 1000003 pre-reduction), and the
    two-sided p-value is the add-one estimator
    (1 + #{k>0: |d_k| >= |d_obs|}) / (K + 1) — Monte-Carlo permutation
    inference (Good, 'Permutation Tests') with the repo's reproducible
    hash-stream discipline instead of an RNG, so the test is
    bit-stable across runs, partitionings, and engines.

    Exactness: per-user (n_u, Σ micro-units) are exact BIGINTs; each
    permutation's mean difference quantizes ONCE to fixed-point
    (micro-units × 1000 = nano-dollars) and every comparison is then
    integer. Randomization is user-level (clustered), matching how
    the observed assignment would be deployed. The k=0 observed row
    could in principle fail the n1>0/n0>0 validity filter (one arm
    empty); the output carries an explicit `obs_valid` flag and a
    NULL p_value for that degenerate case instead of silently
    reporting n_as_extreme = 0 against a missing observation.

    Scale shape: ONE fact-table hash-agg to the user relation (the
    only wide exchange), then a |users| × (K+1) explode of the TINY
    entity relation (users × 200 rows), one more small agg, and a
    200-row comparison against the broadcast k=0 row. The fact table
    is never replicated K ways — the permutation fan-out happens
    after aggregation, which is what makes 200 permutations viable
    at 100 TB."""
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_u"),
        F.sum(F.round(F.col("value") * 1_000_000).cast("long"))
        .cast("long")
        .alias("s_u"),
    )
    ks = F.explode(F.sequence(F.lit(0), F.lit(_PERM_K))).alias("k")
    assigned = per_user.select("user_id", "n_u", "s_u", ks).select(
        "k",
        "n_u",
        "s_u",
        (
            det_hash(
                (F.col("user_id") % 1000003) * (2 * F.col("k") + 1)
                + F.col("k")
            )
            % 2
        )
        .cast("long")
        .alias("arm"),
    )
    arms = assigned.groupBy("k").agg(
        F.sum(F.when(F.col("arm") == 1, F.col("n_u")).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("s_u")).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum(F.when(F.col("arm") == 0, F.col("n_u")).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("arm") == 0, F.col("s_u")).otherwise(0))
        .cast("long")
        .alias("s0"),
    )
    diffs = arms.filter((F.col("n1") > 0) & (F.col("n0") > 0)).select(
        "k",
        F.round(
            (
                F.col("s1").cast("double") / F.col("n1")
                - F.col("s0").cast("double") / F.col("n0")
            )
            * 1000.0
        )
        .cast("long")
        .alias("diff_nano"),
    )
    obs = diffs.filter(F.col("k") == 0).select(
        F.col("diff_nano").alias("obs_nano")
    )
    # LEFT join (not crossJoin): if the k=0 observed assignment were
    # ever dropped by the n1>0/n0>0 validity filter, a cross join
    # would silently empty the whole relation — the left join keeps
    # the permutation rows and surfaces the degeneracy as
    # obs_valid = false / p_value = NULL instead.
    joined = diffs.join(F.broadcast(obs), F.lit(True), "left")
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_perms_valid"),
        F.max("obs_nano").alias("obs_diff_nano"),
        F.sum(
            F.when(
                (F.col("k") > 0)
                & (F.abs("diff_nano") >= F.abs("obs_nano")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_as_extreme"),
    ).select(
        "n_perms_valid",
        "obs_diff_nano",
        F.col("obs_diff_nano").isNotNull().alias("obs_valid"),
        "n_as_extreme",
        F.when(
            F.col("obs_diff_nano").isNotNull(),
            (1 + F.col("n_as_extreme")).cast("double")
            / (F.col("n_perms_valid")).cast("double"),
        ).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# TOST equivalence test for two proportions (round 10)
# ---------------------------------------------------------------------------

_TOST_DELTA_U = 30_000  # equivalence margin, micro-units (0.03)
_TOST_ZC_U = 1_644_854  # z_{0.95}, micro-units (one-sided alpha=0.05)

_TOST_ORACLE = f"""
WITH u AS (
  SELECT user_id, user_id % 2 AS variant,
         CASE WHEN sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) >= 15
              THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY user_id
),
s AS (
  SELECT variant, count(*) AS n, CAST(sum(converted) AS BIGINT) AS conv
  FROM u GROUP BY variant
),
w AS (
  SELECT
    (SELECT n FROM s WHERE variant = 0) AS n_a,
    (SELECT conv FROM s WHERE variant = 0) AS conv_a,
    (SELECT n FROM s WHERE variant = 1) AS n_b,
    (SELECT conv FROM s WHERE variant = 1) AS conv_b
),
m AS (
  SELECT n_a, conv_a, n_b, conv_b,
         conv_b * n_a - conv_a * n_b AS d,
         n_a * n_b AS mm,
         conv_a + conv_b AS c,
         n_a + n_b AS nn
  FROM w
),
dec AS (
  SELECT m.*,
         d * 1000000 + {_TOST_DELTA_U} * mm AS a_low,
         d * 1000000 - {_TOST_DELTA_U} * mm AS a_up,
         CAST({_TOST_ZC_U} AS HUGEINT) * {_TOST_ZC_U}
           * (c * (nn - c)) * CAST(mm AS HUGEINT) AS rhs,
         CAST(nn AS HUGEINT) AS scale_l
  FROM m
)
SELECT n_a, conv_a, n_b, conv_b,
       CASE WHEN c > 0 AND c < nn THEN
       (CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a + 0.03)
         / sqrt((CAST(c AS DOUBLE) / nn) * (1 - CAST(c AS DOUBLE) / nn)
                * (1.0 / n_a + 1.0 / n_b)) END AS z_lower,
       CASE WHEN c > 0 AND c < nn THEN
       (CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a - 0.03)
         / sqrt((CAST(c AS DOUBLE) / nn) * (1 - CAST(c AS DOUBLE) / nn)
                * (1.0 / n_a + 1.0 / n_b)) END AS z_upper,
       (a_low >= 0 AND CAST(a_low AS HUGEINT) * a_low * scale_l >= rhs)
       AND
       (a_up <= 0 AND CAST(a_up AS HUGEINT) * a_up * scale_l >= rhs)
         AS equivalent
FROM dec
"""


@register("stats_tost_equivalence", oracle=_TOST_ORACLE)
def stats_tost_equivalence(spark, sf_dir):
    """TOST equivalence test (Schuirmann's two one-sided tests) for
    the two-proportion A/B — the question events_ab_test_lift CANNOT
    answer: not "is B different" but "is B provably WITHIN ±3 points
    of A" (the parity bar for tokenizer swaps, infra migrations,
    cheaper-model rollouts). Equivalent iff (lift+δ)/se ≥ z_c AND
    (lift−δ)/se ≤ −z_c at one-sided α = 0.05. Same conversion
    construction as ab_test_lift, so the two readouts are directly
    comparable.

    Exactness: the DECISION never touches a float — with lift = D/M
    (D = conv_b·n_a − conv_a·n_b, M = n_a·n_b), pooled se² =
    C(N−C)/(N·n_a·n_b), and δ, z_c frozen as micro-unit integer
    literals, each one-sided condition squares (sign-guarded) to
        (D·10⁶ ± δ_u·M)² · N  ≥  z_c_u² · C(N−C) · M
    (the common positive factor M divided out of both sides — the
    undivided form (…)²·N·M vs …·M² overflows DECIMAL(38,0)/HUGEINT
    at ~2e4 users per arm; this form holds to ~1.5e5 per arm, i.e.
    lhs = a²·N with a ≤ n²·10⁶ stays under 10³⁸ while n ≤ ~1.5e5).
    The reported z's use only correctly-rounded IEEE ops in a fixed
    order (the ab_test_lift discipline), bit-identical across
    engines.

    Scale shape: one user-keyed aggregate (the only data shuffle),
    then arithmetic on a 2-row relation."""
    ev = load_table(spark, sf_dir, "events")
    u = (
        ev.groupBy("user_id")
        .agg(
            F.when(
                F.sum(
                    F.when(F.col("event_type") == "click", 1).otherwise(0)
                )
                >= 15,
                1,
            )
            .otherwise(0)
            .alias("converted")
        )
        .select((F.col("user_id") % 2).alias("variant"), "converted")
    )
    s = u.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("converted").cast("long").alias("conv"),
    )
    a = s.filter(F.col("variant") == 0).select(
        F.col("n").alias("n_a"), F.col("conv").alias("conv_a")
    )
    b = s.filter(F.col("variant") == 1).select(
        F.col("n").alias("n_b"), F.col("conv").alias("conv_b")
    )
    m = a.crossJoin(b).select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        (F.col("conv_b") * F.col("n_a") - F.col("conv_a") * F.col("n_b"))
        .cast("long")
        .alias("d"),
        (F.col("n_a") * F.col("n_b")).cast("long").alias("mm"),
        (F.col("conv_a") + F.col("conv_b")).cast("long").alias("c"),
        (F.col("n_a") + F.col("n_b")).cast("long").alias("nn"),
    )
    dec18 = lambda col: col.cast("decimal(18,0)")  # noqa: E731
    a_low = (F.col("d") * 1_000_000 + _TOST_DELTA_U * F.col("mm")).cast("long")
    a_up = (F.col("d") * 1_000_000 - _TOST_DELTA_U * F.col("mm")).cast("long")
    cn = (F.col("c") * (F.col("nn") - F.col("c"))).cast("long")
    rhs = (
        (dec18(F.lit(_TOST_ZC_U)) * F.lit(_TOST_ZC_U)).cast("decimal(38,0)")
        * dec18(cn)
    ).cast("decimal(38,0)") * dec18(F.col("mm"))
    scale_l = dec18(F.col("nn"))
    lhs_low = (dec18(a_low) * dec18(a_low)).cast("decimal(38,0)") * scale_l
    lhs_up = (dec18(a_up) * dec18(a_up)).cast("decimal(38,0)") * scale_l
    lift = (
        F.col("conv_b").cast("double") / F.col("n_b")
        - F.col("conv_a").cast("double") / F.col("n_a")
    )
    pbar = F.col("c").cast("double") / F.col("nn")
    se = F.sqrt(
        pbar * (1 - pbar)
        * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    # degenerate variance (all users converted, or none — the 100x
    # replica's click density saturates the threshold): the z's are
    # undefined, but the INTEGER decision still is (rhs = 0 and the
    # sign guards reduce to |lift| <= delta exactly)
    nondeg = (F.col("c") > 0) & (F.col("c") < F.col("nn"))
    return m.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.when(nondeg, (lift + 0.03) / se).alias("z_lower"),
        F.when(nondeg, (lift - 0.03) / se).alias("z_upper"),
        (
            ((a_low >= 0) & (lhs_low >= rhs))
            & ((a_up <= 0) & (lhs_up >= rhs))
        ).alias("equivalent"),
    )


# ---------------------------------------------------------------------------
# Experiment sizing: power / sample-size planning table (round 11)
# ---------------------------------------------------------------------------

# z_{0.975} and z_{0.80} frozen as micro-unit integer literals (the
# TOST/SPRT transcendental-freezing discipline): two-sided alpha=0.05,
# power=0.80.
_PWR_ZA_U = 1_959_964
_PWR_ZB_U = 841_621
_PWR_MDES_U = [10_000, 20_000, 30_000, 50_000, 100_000]  # 1..10 points

_PWR_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         CASE WHEN sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) >= 15
              THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY user_id
),
base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(converted) AS BIGINT) AS conv
  FROM u
),
g(delta_u) AS (VALUES {", ".join(f"(CAST({d} AS BIGINT))" for d in _PWR_MDES_U)}),
q AS (
  SELECT delta_u, n_users, conv,
         (conv * 1000000) // n_users AS p1_u
  FROM g, base
),
v AS (
  SELECT delta_u, n_users, p1_u, p1_u + delta_u AS p2_u,
         p1_u * (1000000 - p1_u)
           + (p1_u + delta_u) * (1000000 - (p1_u + delta_u)) AS var_u2
  FROM q
),
n AS (
  SELECT delta_u, p1_u, p2_u, n_users,
         CAST((CAST({_PWR_ZA_U + _PWR_ZB_U} AS HUGEINT)
                 * {_PWR_ZA_U + _PWR_ZB_U} * var_u2
               + CAST(delta_u AS HUGEINT) * delta_u * 1000000 - 1)
              // (CAST(delta_u AS HUGEINT) * delta_u * 1000000)
          AS BIGINT) AS n_per_arm
  FROM v
)
SELECT delta_u, p1_u, p2_u, n_per_arm,
       n_per_arm * 2 <= n_users AS feasible_now
FROM n
"""


@register("stats_power_sample_size", oracle=_PWR_ORACLE)
def stats_power_sample_size(spark, sf_dir):
    """Experiment sizing table — the question every A/B platform must
    answer BEFORE events_ab_test_lift/TOST can say anything: for a
    grid of minimum-detectable effects (1–10 points), the per-arm
    sample size n = ⌈(z_{α/2}+z_β)²·(p₁(1−p₁)+p₂(1−p₂))/δ²⌉ at
    two-sided α = 0.05, power = 0.80, seeded with the OBSERVED
    baseline conversion (the ab_test_lift construction: ≥15 clicks),
    plus whether the current user population could already run that
    test (2n ≤ N).

    Exactness: p₁ quantizes ONCE to micro-units by integer floor
    division; z's are frozen micro-unit literals; the ceiling division
    runs entirely in HUGEINT/DECIMAL(38,0) ((num + den − 1) // den
    with num = z_u²·var_u2 ≤ ~4e24) — no float anywhere in the
    reported numbers.

    Scale shape: one user-keyed aggregate (the only data shuffle) →
    1-row baseline × 5-row literal grid."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            >= 15,
            1,
        )
        .otherwise(0)
        .alias("converted")
    )
    base = u.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("conv"),
    )
    grid = spark.createDataFrame(
        [(d,) for d in _PWR_MDES_U], "delta_u long"
    )
    z_u = _PWR_ZA_U + _PWR_ZB_U
    q = grid.crossJoin(F.broadcast(base)).select(
        "delta_u",
        "n_users",
        F.call_function(
            "div", F.col("conv") * 1_000_000, F.col("n_users")
        ).alias("p1_u"),
    )
    v = q.select(
        "delta_u",
        "n_users",
        "p1_u",
        (F.col("p1_u") + F.col("delta_u")).alias("p2_u"),
        (
            F.col("p1_u") * (1_000_000 - F.col("p1_u"))
            + (F.col("p1_u") + F.col("delta_u"))
            * (1_000_000 - (F.col("p1_u") + F.col("delta_u")))
        ).alias("var_u2"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    num = dec(F.lit(z_u)) * F.lit(z_u) * dec(F.col("var_u2"))
    den = dec(F.col("delta_u")) * F.col("delta_u") * F.lit(1_000_000)
    n_arm = F.call_function(
        "div", (num + den - 1).cast("decimal(38,0)"), den.cast("decimal(38,0)")
    ).cast("long")
    return v.select(
        "delta_u",
        "p1_u",
        "p2_u",
        n_arm.alias("n_per_arm"),
        (n_arm * 2 <= F.col("n_users")).alias("feasible_now"),
    )


# ---------------------------------------------------------------------------
# Post-stratified A/B estimator (round 11)
# ---------------------------------------------------------------------------

_PSTRAT_ORACLE = """
WITH u AS (
  SELECT user_id, user_id % 2 AS variant,
         CASE WHEN sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) >= 15
              THEN 1 ELSE 0 END AS converted,
         count(*) AS n_ev
  FROM events GROUP BY user_id
),
s AS (
  SELECT CASE WHEN n_ev < 10 THEN 0 WHEN n_ev < 20 THEN 1
              WHEN n_ev < 50 THEN 2 ELSE 3 END AS stratum,
         variant, converted
  FROM u
),
cell AS (
  SELECT stratum,
         CAST(count(*) AS BIGINT) AS n_s,
         CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT)
           AS conv_a,
         CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT)
           AS conv_b
  FROM s GROUP BY stratum
),
tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS nn FROM cell),
terms AS (
  SELECT c.stratum, c.n_s, c.n_a, c.conv_a, c.n_b, c.conv_b, t.nn,
         CASE WHEN c.n_a > 0 AND c.n_b > 0 THEN
           CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a
         END AS lift_s,
         CAST(n_s AS DOUBLE) / t.nn AS weight,
         CASE WHEN c.n_a > 0 AND c.n_b > 0 THEN
           CAST(round((CAST(n_s AS DOUBLE) / t.nn)
                      * (CAST(conv_b AS DOUBLE) / n_b
                         - CAST(conv_a AS DOUBLE) / n_a)
                      * 1000000000) AS BIGINT)
         ELSE 0 END AS term_nano
  FROM cell c, tot t
),
ov AS (SELECT CAST(sum(term_nano) AS BIGINT) AS post_nano FROM terms)
SELECT stratum, n_s, n_a, conv_a, n_b, conv_b, lift_s, weight, term_nano,
       CAST(ov.post_nano AS DOUBLE) / 1000000000 AS post_stratified_lift
FROM terms, ov
"""


@register("stats_poststratified_lift", oracle=_PSTRAT_ORACLE)
def stats_poststratified_lift(spark, sf_dir):
    """Post-stratified A/B estimator — the variance-reduction sibling
    of ml_eval_cuped_ab that needs no pre-period metric, only a
    pre-treatment covariate: users stratify by activity band (events
    <10 / <20 / <50 / 50+), the lift is estimated inside each stratum,
    and strata recombine by their population weight n_s/N. Removes the
    between-strata component an imbalanced assignment leaks into the
    plain difference (events_ab_test_lift is the unadjusted twin on
    the same conversion metric).

    Exactness: all cells are exact BIGINT counts; per-stratum lift and
    weight are fixed-order divisions of exact integers; each stratum's
    weighted term quantizes ONCE to nano-units so the overall estimate
    is an associative BIGINT sum (the ece_term discipline). Strata
    missing an arm report NULL lift and contribute zero.

    Scale shape: one user-keyed aggregate (the only data shuffle) →
    ≤4-row stratum relation; everything after is broadcast arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            >= 15,
            1,
        )
        .otherwise(0)
        .alias("converted"),
        F.count(F.lit(1)).alias("n_ev"),
    )
    s = u.select(
        (F.col("user_id") % 2).alias("variant"),
        "converted",
        F.when(F.col("n_ev") < 10, 0)
        .when(F.col("n_ev") < 20, 1)
        .when(F.col("n_ev") < 50, 2)
        .otherwise(3)
        .cast("long")
        .alias("stratum"),
    )
    cell = s.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    )
    tot = cell.agg(F.sum("n_s").cast("long").alias("nn"))
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    lift_s = (
        F.col("conv_b").cast("double") / F.col("n_b")
        - F.col("conv_a").cast("double") / F.col("n_a")
    )
    weight = F.col("n_s").cast("double") / F.col("nn")
    terms = cell.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n_s",
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.when(both, lift_s).alias("lift_s"),
        weight.alias("weight"),
        F.when(both, F.round(weight * lift_s * 1_000_000_000).cast("long"))
        .otherwise(0)
        .alias("term_nano"),
    )
    ov = terms.agg(F.sum("term_nano").cast("long").alias("post_nano"))
    return terms.crossJoin(F.broadcast(ov)).select(
        "stratum",
        "n_s",
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        "lift_s",
        "weight",
        "term_nano",
        (F.col("post_nano").cast("double") / 1_000_000_000).alias(
            "post_stratified_lift"
        ),
    )


