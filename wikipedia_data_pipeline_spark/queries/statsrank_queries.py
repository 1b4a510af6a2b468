"""Rank-based and ordered-category hypothesis tests (round 12):
Kruskal–Wallis k-group rank test, Cochran–Armitage trend test, and the
Nelson–Aalen cumulative-hazard estimator. All three follow the
collapsed-lineage + ``ordered_scan`` discipline the round-12 rewrite
established for KS/MWU/DeLong (statstests_queries / mleval_queries):
the fact table collapses to a per-distinct-key relation in one hash
aggregation, every prefix sum rides the hierarchical ``ordered_scan``
(never an unpartitioned window), and each statistic ships as exact
BIGINT components plus one fixed double expression both engines
evaluate identically (nano-quantized where a per-row division is
unavoidable). New module rather than statstests_queries, which sits at
~1.8k lines against the 2,000-line split threshold.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table

_US_PER_DAY = 86_400_000_000


# ---------------------------------------------------------------------------
# Kruskal–Wallis H test: events.value across event_type groups
# ---------------------------------------------------------------------------
# Doubled-rank trick (events_mannwhitney_ab): a tied run of t values
# beginning after cum_before rows has average 2×rank = 2·cum_before +
# t + 1, so every per-group rank sum arrives as the exact BIGINT
# s2_g = 2·R_g, and H = 3/(N(N+1))·Σ s2_g²/n_g − 3(N+1). The per-group
# quotient s2_g²/n_g overflows BIGINT at fact scale, so each term is
# shipped as round(1e9·s2²/(n_g·N²)) — a deterministic double from
# BIGINT inputs, exact to summation (k terms, k = |event types|).

_KW_ORACLE = """
WITH cv AS (
  SELECT value, event_type, count(*) AS c FROM events GROUP BY 1, 2
),
tv AS (SELECT value, CAST(sum(c) AS BIGINT) AS t FROM cv GROUP BY 1),
sc AS (
  SELECT value, t,
         coalesce(sum(t) OVER (ORDER BY value
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM tv
),
g AS (
  SELECT event_type,
         CAST(sum(c) AS BIGINT) AS n_g,
         CAST(sum(c * (2 * sc.cum_before + sc.t + 1)) AS BIGINT) AS s2_g
  FROM cv JOIN sc USING (value) GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k_groups,
         CAST(sum(n_g) AS BIGINT) AS n_total
  FROM g
),
terms AS (
  SELECT CAST(round(1000000000.0
               * CAST(s2_g AS DOUBLE) * CAST(s2_g AS DOUBLE)
               / CAST(n_g AS DOUBLE)
               / CAST(n_total AS DOUBLE) / CAST(n_total AS DOUBLE))
          AS BIGINT) AS term_nano
  FROM g, tot
),
tie AS (
  SELECT CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS DOUBLE) AS tie3
  FROM tv
),
s AS (
  SELECT tot.k_groups, tot.n_total,
         CAST(sum(term_nano) AS BIGINT) AS sum_term_nano
  FROM terms, tot GROUP BY 1, 2
),
h AS (
  SELECT k_groups, n_total, sum_term_nano,
         3.0 * CAST(n_total AS DOUBLE) / CAST(n_total + 1 AS DOUBLE)
           * (CAST(sum_term_nano AS DOUBLE) / 1000000000.0)
           - 3.0 * CAST(n_total + 1 AS DOUBLE) AS h_stat
  FROM s
)
SELECT k_groups, n_total, sum_term_nano, h_stat,
       h_stat / (1.0 - tie.tie3
                 / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
                    * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE)))
         AS h_tie_corrected
FROM h, tie
"""


@register("stats_kruskal_wallis", oracle=_KW_ORACLE)
def stats_kruskal_wallis(spark, sf_dir):
    """Kruskal–Wallis H across event_type groups of events.value — the
    k-group generalization of `events_mannwhitney_ab` (one-way ANOVA
    on ranks, distribution-free). Tie-averaged ranks stay integral in
    DOUBLED units; per-group rank sums are exact BIGINTs; the Σ R²/n
    reduction ships nano-quantized per group (k ≈ 5 terms), and the
    tie-corrected H divides by 1 − Σ(t³−t)/(N³−N).

    Scale shape: the fact collapses to distinct (value, type) counts
    in one hash agg; per-value tie totals and the exclusive prefix sum
    ride a hierarchical `ordered_scan` (near-unique value domains never
    serialize); everything after the per-group agg is k-row arithmetic.
    """
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan

    ev = load_table(spark, sf_dir, "events")
    cv = ev.groupBy("value", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    tv = cv.groupBy("value").agg(F.sum("c").cast("long").alias("t"))
    sc = ordered_scan(tv, ["value"], running=[("cum_t", "t", "sum")]).select(
        "value", "t", (F.col("cum_t") - F.col("t")).alias("cum_before")
    )
    g = (
        # sc is DISTINCT-VALUE-sized (fact lineage on a near-unique
        # score column) — forbid the planner from broadcasting it: a
        # multi-million-row broadcast build is a single-threaded
        # driver-side collect (measured: the unhinted join ran >4 min
        # at the 100× replica vs seconds shuffled)
        cv.join(sc.hint("shuffle_hash"), "value")
        .groupBy("event_type")
        .agg(
            F.sum("c").cast("long").alias("n_g"),
            F.sum(
                F.col("c") * (2 * F.col("cum_before") + F.col("t") + 1)
            )
            .cast("long")
            .alias("s2_g"),
        )
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("n_g").cast("long").alias("n_total"),
    )
    nd = F.col("n_total").cast("double")
    terms = g.crossJoin(F.broadcast(tot)).select(
        "k_groups",
        "n_total",
        F.round(
            F.lit(1_000_000_000.0)
            * F.col("s2_g").cast("double")
            * F.col("s2_g").cast("double")
            / F.col("n_g").cast("double")
            / nd
            / nd
        )
        .cast("long")
        .alias("term_nano"),
    )
    tie = tv.agg(
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
            - F.col("t")
        )
        .cast("double")
        .alias("tie3")
    )
    s = terms.groupBy("k_groups", "n_total").agg(
        F.sum("term_nano").cast("long").alias("sum_term_nano")
    )
    np1d = (F.col("n_total") + 1).cast("double")
    h_stat = (
        F.lit(3.0) * nd / np1d
        * (F.col("sum_term_nano").cast("double") / 1_000_000_000.0)
        - F.lit(3.0) * np1d
    )
    h = s.select("k_groups", "n_total", "sum_term_nano", h_stat.alias("h_stat"))
    return h.crossJoin(F.broadcast(tie)).select(
        "k_groups",
        "n_total",
        "sum_term_nano",
        "h_stat",
        (
            F.col("h_stat")
            / (F.lit(1.0) - F.col("tie3") / (nd * nd * nd - nd))
        ).alias("h_tie_corrected"),
    )


# ---------------------------------------------------------------------------
# Cochran–Armitage trend test: purchase rate across the weekly cycle
# ---------------------------------------------------------------------------

_CA_ORACLE = f"""
WITH ev AS (
  SELECT (epoch_us(ts) // {_US_PER_DAY}) % 7 AS w,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total,
         CAST(sum(y) AS BIGINT) AS r_total,
         CAST(sum(w * y) AS BIGINT) AS swr,
         CAST(sum(w) AS BIGINT) AS swn,
         CAST(sum(w * w) AS BIGINT) AS sw2n
  FROM ev
)
SELECT n_total, r_total, swr, swn, sw2n,
       (CAST(swr AS DOUBLE)
        - CAST(r_total AS DOUBLE) / CAST(n_total AS DOUBLE)
          * CAST(swn AS DOUBLE))
       / sqrt(CAST(r_total AS DOUBLE) / CAST(n_total AS DOUBLE)
              * (1.0 - CAST(r_total AS DOUBLE) / CAST(n_total AS DOUBLE))
              * (CAST(sw2n AS DOUBLE)
                 - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE)
                   / CAST(n_total AS DOUBLE))) AS z_stat
FROM s
"""


@register("stats_cochran_armitage_trend", oracle=_CA_ORACLE)
def stats_cochran_armitage_trend(spark, sf_dir):
    """Cochran–Armitage test for a linear trend in a binary rate across
    ORDERED categories — here, purchase rate across the weekly cycle
    (day-of-week scores w = 0..6 from the epoch-day, timezone-free on
    both engines). The dose-response upgrade over the unordered
    `events_chi2_type_dow`: a monotone day-of-week drift that chi²
    dilutes across 6 degrees of freedom concentrates into one z.

    Z = (Σw·y − p̄·Σw) / √(p̄(1−p̄)(Σw² − (Σw)²/N)). Everything is one
    fact scan into five BIGINT sums (no per-group relation at all —
    the scores fold into the aggregate), then one fixed double
    expression; the scan is embarrassingly partition-parallel."""
    ev = load_table(spark, sf_dir, "events").select(
        F.expr(f"(ts div {_US_PER_DAY}) % 7").alias("w"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    s = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum("y").cast("long").alias("r_total"),
        F.sum(F.col("w") * F.col("y")).cast("long").alias("swr"),
        F.sum("w").cast("long").alias("swn"),
        F.sum(F.col("w") * F.col("w")).cast("long").alias("sw2n"),
    )
    nd = F.col("n_total").cast("double")
    rd = F.col("r_total").cast("double")
    num = F.col("swr").cast("double") - rd / nd * F.col("swn").cast("double")
    den = F.sqrt(
        rd
        / nd
        * (F.lit(1.0) - rd / nd)
        * (
            F.col("sw2n").cast("double")
            - F.col("swn").cast("double")
            * F.col("swn").cast("double")
            / nd
        )
    )
    return s.select(
        "n_total", "r_total", "swr", "swn", "sw2n", (num / den).alias("z_stat")
    )


# ---------------------------------------------------------------------------
# Customer-lifetime risk table (right-censored), shared by the Nelson–Aalen
# and RMST curves here and by orders_survival_curve (finance_queries)
# ---------------------------------------------------------------------------
# duration = months between a customer's first and last order; churn = no
# order within 6 months of dataset end (later customers are censored).
# One row per distinct duration: d churned, n_at_risk still observed.

LIFETIME_RISK_CTES = """
cust AS (
  SELECT o_custkey,
         min(year(o_orderdate) * 12 + month(o_orderdate)) AS first_m,
         max(year(o_orderdate) * 12 + month(o_orderdate)) AS last_m
  FROM orders GROUP BY o_custkey
),
bounds AS (SELECT max(last_m) AS data_end FROM cust),
obs AS (
  SELECT last_m - first_m AS duration_m,
         CASE WHEN data_end - last_m > 6 THEN 1 ELSE 0 END AS churned
  FROM cust, bounds
),
at_t AS (
  SELECT duration_m,
         CAST(sum(churned) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS c
  FROM obs GROUP BY duration_m
),
risk AS (
  SELECT duration_m, d,
         CAST((SELECT count(*) FROM obs)
           - coalesce(sum(c) OVER (ORDER BY duration_m
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS BIGINT)
           AS n_at_risk
  FROM at_t
)"""


def lifetime_risk(spark, sf_dir):
    """(duration_m, d, n_at_risk) per distinct duration: the Spark side
    of ``LIFETIME_RISK_CTES``. The at-risk depletion rides
    ``ordered_scan``, never an unpartitioned window."""
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan

    o = load_table(spark, sf_dir, "orders")
    mth = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    cust = o.groupBy("o_custkey").agg(
        F.min(mth).alias("first_m"), F.max(mth).alias("last_m")
    )
    bounds = cust.agg(F.max("last_m").alias("data_end"))
    obs = cust.crossJoin(F.broadcast(bounds)).select(
        (F.col("last_m") - F.col("first_m")).alias("duration_m"),
        F.when(F.col("data_end") - F.col("last_m") > 6, 1)
        .otherwise(0)
        .alias("churned"),
    )
    n_total = obs.agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    at_t = obs.groupBy("duration_m").agg(
        F.sum("churned").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    dep = ordered_scan(
        at_t, ["duration_m"], running=[("cum_c", "c", "sum")]
    ).crossJoin(F.broadcast(n_total))
    return dep.select(
        "duration_m",
        "d",
        (F.col("n_obs") - (F.col("cum_c") - F.col("c"))).alias("n_at_risk"),
    )


# ---------------------------------------------------------------------------
# Nelson–Aalen cumulative hazard (customer lifetime, right-censored)
# ---------------------------------------------------------------------------
# Additive sibling of orders_survival_curve's Kaplan–Meier product:
# Ĥ(t) = Σ dᵢ/nᵢ with Poisson variance Σ dᵢ/nᵢ² — already a prefix sum,
# no log transform needed; each per-time quotient ships nano-quantized.

_NA_ORACLE = f"""
WITH {LIFETIME_RISK_CTES},
terms AS (
  SELECT duration_m, d, n_at_risk,
         CAST(round(1000000000.0 * CAST(d AS DOUBLE)
                    / CAST(n_at_risk AS DOUBLE)) AS BIGINT) AS h_nano,
         CAST(round(1000000000.0 * CAST(d AS DOUBLE)
                    / CAST(n_at_risk AS DOUBLE)
                    / CAST(n_at_risk AS DOUBLE)) AS BIGINT) AS v_nano
  FROM risk
),
curve AS (
  SELECT duration_m, d, n_at_risk,
         CAST(sum(h_nano) OVER (ORDER BY duration_m
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_hazard_nano,
         CAST(sum(v_nano) OVER (ORDER BY duration_m
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS var_hazard_nano
  FROM terms
)
SELECT duration_m, d AS n_churned, n_at_risk,
       cum_hazard_nano, var_hazard_nano
FROM curve WHERE d > 0
"""


@register("orders_nelson_aalen_hazard", oracle=_NA_ORACLE)
def orders_nelson_aalen_hazard(spark, sf_dir):
    """Nelson–Aalen cumulative-hazard curve over the same
    right-censored customer-lifetime fixture as `orders_survival_curve`
    (finance_queries.py — duration = months between first and last
    order, churn = silent for >6 months before dataset end): Ĥ(t) =
    Σ_{tᵢ≤t} dᵢ/nᵢ with the Poisson variance Σ dᵢ/nᵢ². The additive
    estimator is what hazard-ratio eyeballing and piecewise-exponential
    models consume directly; exp(−Ĥ) is the Fleming–Harrington
    alternative to the KM product.

    Each per-time quotient ships as exact nano-units; both prefix sums
    (at-risk depletion, hazard accumulation) ride hierarchical
    `ordered_scan`s — a seconds-resolution clock never serializes
    (orders_survival_curve discipline). d=0 rows contribute exactly 0
    and drop only at the final projection."""
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan

    risk = lifetime_risk(spark, sf_dir)
    nr = F.col("n_at_risk").cast("double")
    terms = risk.select(
        "duration_m",
        "d",
        "n_at_risk",
        F.round(F.lit(1_000_000_000.0) * F.col("d").cast("double") / nr)
        .cast("long")
        .alias("h_nano"),
        F.round(
            F.lit(1_000_000_000.0) * F.col("d").cast("double") / nr / nr
        )
        .cast("long")
        .alias("v_nano"),
    )
    acc = ordered_scan(
        terms,
        ["duration_m"],
        running=[
            ("cum_hazard_nano", "h_nano", "sum"),
            ("var_hazard_nano", "v_nano", "sum"),
        ],
    )
    return acc.filter(F.col("d") > 0).select(
        "duration_m",
        F.col("d").alias("n_churned"),
        "n_at_risk",
        F.col("cum_hazard_nano").cast("long").alias("cum_hazard_nano"),
        F.col("var_hazard_nano").cast("long").alias("var_hazard_nano"),
    )


# ---------------------------------------------------------------------------
# Kendall tau-b between events.value and the weekly cycle (round 12)
# ---------------------------------------------------------------------------
# Exact concordance counting WITHOUT the O(n²) pair join or a
# sequential merge-sort: the joint distribution collapses to a
# (distinct value × 7 day-of-week) grid, the 7 per-day counts pivot to
# columns, and one ordered_scan over the value axis carries 7 running
# sums. Each grid row then contributes n_xj · (pairs strictly below it
# in BOTH axes) to C and n_xj · (below in x, above in y) to D — all
# BIGINT arithmetic over the collapsed relation; no pair is ever
# materialized. (With both margins continuous the grid is fact-sized
# but still collapsed and range-partitioned — the same lineage bound
# as the KS/MWU family.)

_KT_W = list(range(7))


def _kt_oracle() -> str:
    npiv = ",\n         ".join(
        f"CAST(coalesce(sum(CASE WHEN w = {j} THEN n END), 0) AS BIGINT)"
        f" AS n{j}"
        for j in _KT_W
    )
    epiv = ",\n         ".join(
        f"coalesce(sum(n{j}) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED"
        f" PRECEDING AND 1 PRECEDING), 0) AS e{j}"
        for j in _KT_W
    )
    cx = " + ".join(
        f"n{j} * ({' + '.join(f'e{i}' for i in _KT_W[:j]) or '0'})"
        for j in _KT_W
    )
    dx = " + ".join(
        f"n{j} * ({' + '.join(f'e{i}' for i in _KT_W[j + 1:]) or '0'})"
        for j in _KT_W
    )
    nx = " + ".join(f"n{j}" for j in _KT_W)
    marg = ", ".join(f"CAST(sum(n{j}) AS BIGINT) AS m{j}" for j in _KT_W)
    tiey = " + ".join(f"m{j} * (m{j} - 1)" for j in _KT_W)
    return f"""
WITH ev AS (
  SELECT value, (epoch_us(ts) // {_US_PER_DAY}) % 7 AS w FROM events
),
g AS (SELECT value, w, count(*) AS n FROM ev GROUP BY 1, 2),
p AS (
  SELECT value,
         {npiv}
  FROM g GROUP BY value
),
sc AS (
  SELECT *,
         {epiv}
  FROM p
),
rt AS (
  SELECT CAST({cx} AS HUGEINT) AS cx,
         CAST({dx} AS HUGEINT) AS dx,
         CAST({nx} AS BIGINT) AS nx,
         {", ".join(f"n{j}" for j in _KT_W)}
  FROM sc
),
s AS (
  SELECT CAST(sum(cx) AS BIGINT) AS conc,
         CAST(sum(dx) AS BIGINT) AS disc,
         CAST(sum(nx) AS BIGINT) AS n_total,
         CAST(sum(CAST(nx AS HUGEINT) * (nx - 1)) AS BIGINT) AS tiex2,
         {marg}
  FROM rt
)
SELECT n_total, conc, disc, tiex2,
       CAST({tiey} AS BIGINT) AS tiey2,
       (CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
       / sqrt((CAST(n_total AS DOUBLE) * CAST(n_total - 1 AS DOUBLE) / 2.0
               - CAST(tiex2 AS DOUBLE) / 2.0)
              * (CAST(n_total AS DOUBLE) * CAST(n_total - 1 AS DOUBLE) / 2.0
                 - CAST({tiey} AS DOUBLE) / 2.0)) AS tau_b
FROM s
"""


@register("stats_kendall_tau_b", oracle=_kt_oracle())
def stats_kendall_tau_b(spark, sf_dir):
    """Kendall τ-b between events.value and the day-of-week cycle —
    the concordance-based dependence measure (the rank cousin of
    `ml_eval_spearman_rho`, robust to ties on both margins). τ-b =
    (C − D)/√((T₀−T_x)(T₀−T_y)).

    C and D are counted EXACTLY without materializing any pair: the
    joint collapses to a (distinct value × 7) grid, the 7 day counts
    pivot to columns, one hierarchical `ordered_scan` carries the 7
    exclusive prefix sums up the value axis, and each grid row's
    strictly-below/strictly-above cross products fold into two BIGINT
    sums. Tie terms come from the row totals and day marginals; τ-b is
    one fixed double expression over six exact integers."""
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan

    ev = load_table(spark, sf_dir, "events").select(
        "value", F.expr(f"(ts div {_US_PER_DAY}) % 7").alias("w")
    )
    g = ev.groupBy("value", "w").agg(F.count(F.lit(1)).alias("n"))
    p = g.groupBy("value").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("w") == j, F.col("n"))), F.lit(0)
            )
            .cast("long")
            .alias(f"n{j}")
            for j in _KT_W
        ]
    )
    sc = ordered_scan(
        p,
        ["value"],
        running=[(f"c{j}", f"n{j}", "sum") for j in _KT_W],
    )
    # exclusive prefixes e_j = inclusive running sum − current row
    e = {j: F.col(f"c{j}") - F.col(f"n{j}") for j in _KT_W}
    zero = F.lit(0).cast("long")
    cx = sum(
        (
            F.col(f"n{j}")
            * sum((e[i] for i in _KT_W[:j]), zero)
            for j in _KT_W
        ),
        zero,
    )
    dx = sum(
        (
            F.col(f"n{j}")
            * sum((e[i] for i in _KT_W[j + 1:]), zero)
            for j in _KT_W
        ),
        zero,
    )
    nx = sum((F.col(f"n{j}") for j in _KT_W), zero)
    rt = sc.select(
        cx.cast("decimal(38,0)").alias("cx"),
        dx.cast("decimal(38,0)").alias("dx"),
        nx.alias("nx"),
        *[F.col(f"n{j}") for j in _KT_W],
    )
    s = rt.agg(
        F.sum("cx").cast("long").alias("conc"),
        F.sum("dx").cast("long").alias("disc"),
        F.sum("nx").cast("long").alias("n_total"),
        F.sum(F.col("nx").cast("decimal(38,0)") * (F.col("nx") - 1))
        .cast("long")
        .alias("tiex2"),
        *[F.sum(f"n{j}").cast("long").alias(f"m{j}") for j in _KT_W],
    )
    tiey = sum(
        (F.col(f"m{j}") * (F.col(f"m{j}") - 1) for j in _KT_W),
        F.lit(0).cast("long"),
    )
    nd = F.col("n_total").cast("double")
    t0 = nd * (F.col("n_total") - 1).cast("double") / 2.0
    tau = (F.col("conc").cast("double") - F.col("disc").cast("double")) / F.sqrt(
        (t0 - F.col("tiex2").cast("double") / 2.0)
        * (t0 - tiey.cast("double") / 2.0)
    )
    return s.select(
        "n_total",
        "conc",
        "disc",
        "tiex2",
        tiey.cast("long").alias("tiey2"),
        tau.alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# Jonckheere–Terpstra ordered-alternative test (round 12)
# ---------------------------------------------------------------------------
# Does events.value increase with funnel depth (view < click < signup
# < purchase)? J-T is the ordered-alternative k-group test — strictly
# more powerful than Kruskal–Wallis when the alternative is monotone.
# Same collapsed-grid machinery as stats_kendall_tau_b with the funnel
# stage as the ordered axis: J = Σ_{g<g'} #{x_i < x_j} arrives as the
# exact doubled BIGINT j2 = 2·C + T_x-cross (x-ties across groups
# count ½ — ONE unit per UNORDERED cross-group tie pair in the
# doubled scale), and z uses the classic normal approximation
# μ = (N² − Σn_g²)/4, σ² = (N²(2N+3) − Σn_g²(2n_g+3))/72.

_JT_STAGES = ["view", "click", "signup", "purchase"]
_JT_K = list(range(len(_JT_STAGES)))


def _jt_case_sql() -> str:
    whens = " ".join(
        f"WHEN event_type = '{s}' THEN {i}"
        for i, s in enumerate(_JT_STAGES)
    )
    return f"CASE {whens} END"


def _jt_oracle() -> str:
    npiv = ",\n         ".join(
        f"CAST(coalesce(sum(CASE WHEN g = {j} THEN n END), 0) AS BIGINT)"
        f" AS n{j}"
        for j in _JT_K
    )
    epiv = ",\n         ".join(
        f"coalesce(sum(n{j}) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED"
        f" PRECEDING AND 1 PRECEDING), 0) AS e{j}"
        for j in _JT_K
    )
    cx = " + ".join(
        f"n{j} * ({' + '.join(f'e{i}' for i in _JT_K[:j]) or '0'})"
        for j in _JT_K
    )
    nx = " + ".join(f"n{j}" for j in _JT_K)
    sq = " + ".join(f"n{j} * n{j}" for j in _JT_K)
    marg = ", ".join(f"CAST(sum(n{j}) AS BIGINT) AS m{j}" for j in _JT_K)
    sng2 = " + ".join(f"CAST(m{j} AS DOUBLE) * CAST(m{j} AS DOUBLE)" for j in _JT_K)
    sng3 = " + ".join(
        f"CAST(m{j} AS DOUBLE) * CAST(m{j} AS DOUBLE)"
        f" * (2.0 * CAST(m{j} AS DOUBLE) + 3.0)"
        for j in _JT_K
    )
    return f"""
WITH ev AS (
  SELECT value, {_jt_case_sql()} AS g FROM events
  WHERE event_type IN ({", ".join(f"'{s}'" for s in _JT_STAGES)})
),
grid AS (SELECT value, g, count(*) AS n FROM ev GROUP BY 1, 2),
p AS (
  SELECT value,
         {npiv}
  FROM grid GROUP BY value
),
sc AS (
  SELECT *,
         {epiv}
  FROM p
),
rt AS (
  SELECT CAST({cx} AS HUGEINT) AS cx,
         CAST({nx} AS BIGINT) AS nx,
         (CAST({nx} AS HUGEINT) * ({nx}) - ({sq})) // 2 AS tx,
         {", ".join(f"n{j}" for j in _JT_K)}
  FROM sc
),
s AS (
  SELECT CAST(sum(2 * cx + tx) AS BIGINT) AS j2,
         CAST(sum(nx) AS BIGINT) AS n_total,
         {marg}
  FROM rt
)
SELECT n_total, j2,
       (CAST(j2 AS DOUBLE) / 2.0
        - (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE) - ({sng2}))
          / 4.0)
       / sqrt((CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
               * (2.0 * CAST(n_total AS DOUBLE) + 3.0) - ({sng3})) / 72.0)
         AS z_stat
FROM s
"""


@register("stats_jonckheere_terpstra", oracle=_jt_oracle())
def stats_jonckheere_terpstra(spark, sf_dir):
    """Jonckheere–Terpstra test for a MONOTONE shift in events.value
    across the ordered funnel stages view < click < signup < purchase
    — the ordered-alternative k-group test (more powerful than
    `stats_kruskal_wallis` when the alternative is a trend, the
    dose-response companion to `stats_cochran_armitage_trend` for a
    continuous response). J = Σ_{g<g'} #{x_i < x_j} with cross-group
    x-ties counted ½, shipped as the exact doubled BIGINT j2; z uses
    the classic normal approximation (ties enter J itself; the
    variance is the standard no-tie form, stated as such).

    Exactness/scale: identical collapsed-grid lineage as
    `stats_kendall_tau_b` — pivot the 4 stage counts, one hierarchical
    `ordered_scan` up the value axis, BIGINT/DECIMAL folds, one fixed
    double expression at the end. No pair is ever materialized."""
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan

    stage = F.create_map(
        *[
            x
            for i, s in enumerate(_JT_STAGES)
            for x in (F.lit(s), F.lit(i))
        ]
    )
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(_JT_STAGES))
        .select("value", stage[F.col("event_type")].alias("g"))
    )
    grid = ev.groupBy("value", "g").agg(F.count(F.lit(1)).alias("n"))
    p = grid.groupBy("value").agg(
        *[
            F.coalesce(F.sum(F.when(F.col("g") == j, F.col("n"))), F.lit(0))
            .cast("long")
            .alias(f"n{j}")
            for j in _JT_K
        ]
    )
    sc = ordered_scan(
        p, ["value"], running=[(f"c{j}", f"n{j}", "sum") for j in _JT_K]
    )
    e = {j: F.col(f"c{j}") - F.col(f"n{j}") for j in _JT_K}
    zero = F.lit(0).cast("long")
    cx = sum(
        (F.col(f"n{j}") * sum((e[i] for i in _JT_K[:j]), zero) for j in _JT_K),
        zero,
    )
    nx = sum((F.col(f"n{j}") for j in _JT_K), zero)
    sq = sum((F.col(f"n{j}") * F.col(f"n{j}") for j in _JT_K), zero)
    rt = sc.select(
        cx.cast("decimal(38,0)").alias("cx"),
        nx.alias("nx"),
        ((nx.cast("decimal(38,0)") * nx - sq) / 2).cast("decimal(38,0)").alias("tx"),
        *[F.col(f"n{j}") for j in _JT_K],
    )
    s = rt.agg(
        F.sum(F.lit(2) * F.col("cx") + F.col("tx")).cast("long").alias("j2"),
        F.sum("nx").cast("long").alias("n_total"),
        *[F.sum(f"n{j}").cast("long").alias(f"m{j}") for j in _JT_K],
    )
    nd = F.col("n_total").cast("double")
    sng2 = sum(
        (F.col(f"m{j}").cast("double") * F.col(f"m{j}").cast("double")
         for j in _JT_K),
        F.lit(0.0),
    )
    sng3 = sum(
        (
            F.col(f"m{j}").cast("double")
            * F.col(f"m{j}").cast("double")
            * (F.lit(2.0) * F.col(f"m{j}").cast("double") + 3.0)
            for j in _JT_K
        ),
        F.lit(0.0),
    )
    z = (F.col("j2").cast("double") / 2.0 - (nd * nd - sng2) / 4.0) / F.sqrt(
        (nd * nd * (F.lit(2.0) * nd + 3.0) - sng3) / 72.0
    )
    return s.select("n_total", "j2", z.alias("z_stat"))


# ---------------------------------------------------------------------------
# Hill estimator: heavy-tail index of the order-value distribution
# ---------------------------------------------------------------------------
# The standard tail-index estimate for power-law screens (revenue
# concentration, degree distributions, token frequencies): over the
# k = 1000 largest order values x_(1) >= ... >= x_(k) and the next
# order statistic x_(k+1) as threshold,
#   H = (1/k) sum_i ln(x_(i) / x_(k+1)),  alpha_hat = 1/H
# (alpha ~ 1-2 = very heavy tail, alpha > 3 ~ finite variance). The
# top-(k+1) set arrives via orderBy+limit — TakeOrderedAndProject,
# partial top-k per partition, never a global sort — and the rank
# window runs over the k+1 surviving rows (the task1_dictionary W1/W3
# pattern). Values are exact cents; each ln term is one fixed double
# expression nano-quantized to BIGINT before the bounded k-row DECIMAL
# re-sum.

_HILL_K = 1000

_HILL_ORACLE = f"""
WITH top_k AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         row_number() OVER (ORDER BY round(o_totalprice * 100) DESC,
                            o_orderkey) AS rn
  FROM orders
  QUALIFY rn <= {_HILL_K} + 1
),
thr AS (SELECT cents AS xmin FROM top_k WHERE rn = {_HILL_K} + 1),
terms AS (
  SELECT CAST(round(1e9 * ln(CAST(cents AS DOUBLE) / thr.xmin))
              AS BIGINT) AS t_nano
  FROM top_k CROSS JOIN thr WHERE rn <= {_HILL_K}
)
SELECT CAST({_HILL_K} AS BIGINT) AS k,
       thr.xmin AS xmin_cents,
       CAST(sum(CAST(t_nano AS DECIMAL(38,0))) AS DOUBLE) / 1e9
         / {_HILL_K} AS hill_h,
       1.0 / (CAST(sum(CAST(t_nano AS DECIMAL(38,0))) AS DOUBLE) / 1e9
              / {_HILL_K}) AS alpha_hat
FROM terms CROSS JOIN thr
GROUP BY thr.xmin
"""


@register("stats_hill_tail_index", oracle=_HILL_ORACLE)
def stats_hill_tail_index(spark, sf_dir):
    """Hill tail-index estimator over the top-1000 order values — the
    power-law heaviness screen (alpha_hat < 2 = infinite-variance
    territory; plan capacity by quantiles, not means). See the section
    comment for the TakeOrdered + nano-quantized-sum construction."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w = Window.orderBy(F.desc("cents"), F.asc("o_orderkey"))
    top_k = (
        orders.select(cents.alias("cents"), "o_orderkey")
        .orderBy(F.desc("cents"), F.asc("o_orderkey"))
        .limit(_HILL_K + 1)
        .withColumn("rn", F.row_number().over(w).cast("long"))
    )
    thr = top_k.filter(F.col("rn") == _HILL_K + 1).select(
        F.col("cents").alias("xmin")
    )
    terms = (
        top_k.filter(F.col("rn") <= _HILL_K)
        .crossJoin(F.broadcast(thr))
        .select(
            F.round(
                1e9 * F.log(F.col("cents").cast("double") / F.col("xmin"))
            )
            .cast("long")
            .alias("t_nano"),
            "xmin",
        )
    )
    h = (
        F.sum(F.col("t_nano").cast("decimal(38,0)")).cast("double")
        / 1e9
        / _HILL_K
    )
    return terms.groupBy("xmin").agg(
        F.lit(_HILL_K).cast("long").alias("k"),
        h.alias("hill_h"),
        (1.0 / h).alias("alpha_hat"),
    ).select("k", F.col("xmin").alias("xmin_cents"), "hill_h", "alpha_hat")


# ---------------------------------------------------------------------------
# Restricted mean survival time (RMST) over the KM lifetime fixture
# ---------------------------------------------------------------------------
# RMST(tau) = integral_0^tau S(t) dt — "expected months survived out of
# the first tau", the estimand survival analysts report when the
# median never falls below 0.5 and hazard ratios are non-proportional.
# The clock here is integer months and S is the KM step function, so
# the integral is EXACTLY sum_{u=0}^{tau-1} S(u) with S(u) =
# exp(sum_{t_i <= u} ln(1 - d_i/n_i)). Each monthly S ships as exact
# nano-units; the cumulative integral is a 12x12 literal-grid triangle
# join (window-free, order-free). The step relation joins the
# broadcast 12-row grid with a <= predicate — a bounded <=12x fan-out,
# never a window over the duration domain.

_RMST_TAU = 12

_RMST_ORACLE = f"""
WITH {LIFETIME_RISK_CTES},
terms AS (
  SELECT duration_m,
         CASE WHEN d < n_at_risk
              THEN CAST(round(ln(1.0 - CAST(d AS DOUBLE)
                                     / CAST(n_at_risk AS DOUBLE))
                              * 1000000000.0) AS BIGINT)
              ELSE 0 END AS lg_nano,
         CASE WHEN d >= n_at_risk THEN 1 ELSE 0 END AS dead
  FROM risk
),
grid AS (SELECT CAST(g AS BIGINT) AS month
         FROM generate_series(0, {_RMST_TAU - 1}) AS t(g)),
per_u AS (
  SELECT grid.month,
         coalesce(sum(terms.lg_nano), 0) AS lg_u,
         coalesce(max(terms.dead), 0) AS dead_u
  FROM grid LEFT JOIN terms ON terms.duration_m <= grid.month
  GROUP BY 1
),
s_u AS (
  SELECT month,
         CASE WHEN dead_u > 0 THEN 0
              ELSE CAST(round(1000000000.0
                              * exp(CAST(lg_u AS DOUBLE) / 1000000000.0))
                        AS BIGINT) END AS s_nano
  FROM per_u
)
SELECT a.month, a.s_nano,
       CAST(a.s_nano AS DOUBLE) / 1e9 AS survival,
       CAST(sum(b.s_nano) AS DOUBLE) / 1e9 AS rmst_cum_months
FROM s_u a JOIN s_u b ON b.month <= a.month
GROUP BY a.month, a.s_nano
"""


@register("orders_rmst", oracle=_RMST_ORACLE)
def orders_rmst(spark, sf_dir):
    """Restricted mean survival time over the right-censored
    customer-lifetime fixture (orders_survival_curve's KM estimator,
    finance_queries.py): per month u < 12 the KM survival S(u) in
    exact nano-units and the running integral RMST(u+1) = sum_{j<=u}
    S(j) — 'expected active months out of the first 12'. See the
    section comment for the grid-join construction; both global prefix
    sums (at-risk depletion, log-survival) ride `ordered_scan`."""
    risk = lifetime_risk(spark, sf_dir)
    terms = risk.select(
        "duration_m",
        F.when(
            F.col("d") < F.col("n_at_risk"),
            F.round(
                F.log(
                    1.0
                    - F.col("d").cast("double")
                    / F.col("n_at_risk").cast("double")
                )
                * 1_000_000_000.0
            ).cast("long"),
        )
        .otherwise(0)
        .alias("lg_nano"),
        (F.col("d") >= F.col("n_at_risk")).cast("int").alias("dead"),
    )
    grid = spark.range(0, _RMST_TAU).select(
        F.col("id").cast("long").alias("month")
    )
    contrib = terms.join(
        F.broadcast(grid), F.col("duration_m") <= F.col("month")
    ).groupBy("month").agg(
        F.sum("lg_nano").cast("long").alias("lg_u"),
        F.max("dead").alias("dead_u"),
    )
    per_u = grid.join(F.broadcast(contrib), "month", "left").select(
        "month",
        F.coalesce(F.col("lg_u"), F.lit(0)).alias("lg_u"),
        F.coalesce(F.col("dead_u"), F.lit(0)).alias("dead_u"),
    )
    s_u = per_u.select(
        "month",
        F.when(F.col("dead_u") > 0, F.lit(0))
        .otherwise(
            F.round(
                1_000_000_000.0
                * F.exp(F.col("lg_u").cast("double") / 1_000_000_000.0)
            ).cast("long")
        )
        .alias("s_nano"),
    )
    a = s_u.alias("a")
    b = s_u.select(
        F.col("month").alias("j"), F.col("s_nano").alias("sj")
    )
    return (
        a.join(F.broadcast(b), F.col("j") <= F.col("month"))
        .groupBy("month", "s_nano")
        .agg((F.sum("sj").cast("double") / 1e9).alias("rmst_cum_months"))
        .select(
            "month",
            "s_nano",
            (F.col("s_nano").cast("double") / 1e9).alias("survival"),
            "rmst_cum_months",
        )
    )
