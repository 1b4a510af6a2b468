"""Feature preparation + dataset-split queries: feature hashing,
leave-one-out target encoding, WoE/IV binning, time- and entity-based
holdout splits, and the language-ID confusion audit. Split out of
mleval_queries (round 10, the 2,000-line threshold)."""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators.ranks import pin
from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table
from wikipedia_data_pipeline_spark.operators import profiling as P
from wikipedia_data_pipeline_spark.operators.sampling import SQL_DET_HASH


# ---- eval & sequence analytics --------------------------------------------

from wikipedia_data_pipeline_spark.queries.text_queries import _SCORES


@register(
    "text_langid_confusion",
    oracle=f"""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id, lang, {_SCORES} FROM t),
p AS (
  SELECT lang,
         CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
              WHEN score_de = greatest(score_de, score_en, score_es, score_fr) THEN 'de'
              WHEN score_en = greatest(score_de, score_en, score_es, score_fr) THEN 'en'
              WHEN score_es = greatest(score_de, score_en, score_es, score_fr) THEN 'es'
              ELSE 'fr' END AS predicted_lang
  FROM s
)
SELECT lang, predicted_lang, count(*) AS n
FROM p GROUP BY lang, predicted_lang
""",
)
def text_langid_confusion(spark, sf_dir):
    """Classifier-eval confusion matrix: metadata language label vs
    the stopword-overlap language-ID prediction, counted per (label,
    prediction) cell — the accuracy report a pipeline runs on every
    heuristic gate. One narrow scoring map + one hash agg."""
    from wikipedia_data_pipeline_spark.operators import textstats as TS5

    return (
        TS5.language_id(load_table(spark, sf_dir, "documents"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_US_PER_DAY = 86_400_000_000


@register(
    "sample_time_split_events",
    oracle=f"""
WITH t0 AS (SELECT min(epoch_us(ts)) AS ts0 FROM events)
SELECT event_id, user_id,
       (epoch_us(ts) - ts0) // {_US_PER_DAY} AS day_idx,
       CASE WHEN (epoch_us(ts) - ts0) // {_US_PER_DAY} < 24 THEN 'train'
            WHEN (epoch_us(ts) - ts0) // {_US_PER_DAY} < 27 THEN 'val'
            ELSE 'test' END AS split
FROM events, t0
""",
)
def sample_time_split_events(spark, sf_dir):
    """Temporal train/val/test split of the event stream: day index
    from the stream's own epoch start, first 24 days train / next 3
    val / rest test. For forecasting-style models a HASH split leaks
    the future into training — the cut must be on time. The global min
    is a 1-row aggregate broadcast onto a narrow map; integer-µs
    arithmetic keeps the assignment exact and engine-portable."""
    ev = load_table(spark, sf_dir, "events")
    t0 = ev.agg(F.min("ts").alias("ts0"))
    day_idx = F.expr(f"(ts - ts0) div {_US_PER_DAY}")
    return ev.crossJoin(F.broadcast(t0)).select(
        "event_id",
        "user_id",
        day_idx.alias("day_idx"),
        F.when(day_idx < 24, "train")
        .when(day_idx < 27, "val")
        .otherwise("test")
        .alias("split"),
    )


# --- ML feature prep + privacy screen (round 5) -------------------------

_FH_DIM = 64


@register(
    "features_hash_encoded",
    oracle=f"""
WITH feats AS (
  SELECT doc_id, 'lang:' || lang AS f FROM documents
  UNION ALL
  SELECT doc_id, 'source:' || source AS f FROM documents
)
SELECT doc_id,
       CAST((({P.sql_cms_word_key('f')} % {P.CMS_PRE_MOD})
             * {P.CMS_SEEDS[0][0]} + {P.CMS_SEEDS[0][1]})
            % {P.CMS_HASH_MOD} % {_FH_DIM} AS BIGINT) AS feature_idx,
       CAST(count(*) AS BIGINT) AS feature_val
FROM feats
GROUP BY 1, 2
""",
)
def features_hash_encoded(spark, sf_dir):
    """The hashing trick (Weinberger et al. 2009): categorical columns
    → a fixed-width sparse feature space via a portable hash of
    'column:value', collisions summing — the encoder that needs NO
    vocabulary pass, no fit/transform state, and no driver-side
    dictionary, which is why it's the default categorical encoder at
    100 TB (a one-pass narrow map; new category values never change
    the schema). Output is the sparse (row, feature_idx, value)
    relation."""
    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id", F.concat(F.lit("lang:"), F.col("lang")).alias("f")
    ).unionAll(
        docs.select(
            "doc_id", F.concat(F.lit("source:"), F.col("source")).alias("f")
        )
    )
    mult, add = P.CMS_SEEDS[0]
    idx = (
        (P.cms_word_key(F.col("f")) % P.CMS_PRE_MOD) * F.lit(mult) + F.lit(add)
    ) % P.CMS_HASH_MOD % _FH_DIM
    return (
        feats.select("doc_id", idx.cast("long").alias("feature_idx"))
        .groupBy("doc_id", "feature_idx")
        .agg(F.count(F.lit(1)).alias("feature_val"))
    )


@register(
    "features_target_encode_loo",
    oracle="""
WITH s AS (
  SELECT o_orderpriority,
         count(*) AS n,
         sum(CAST(o_totalprice AS DECIMAL(18,6))) AS tot
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderkey, o.o_orderpriority,
       CASE WHEN n > 1
            THEN CAST(tot - CAST(o_totalprice AS DECIMAL(18,6)) AS DOUBLE)
                 / (n - 1) END AS loo_target_mean
FROM orders o JOIN s ON o.o_orderpriority = s.o_orderpriority
""",
)
def features_target_encode_loo(spark, sf_dir):
    """Leave-one-out target encoding of a categorical column (category
    → mean target over the OTHER rows of the category — the standard
    leakage guard for target encoding). (Σ−y)/(n−1) needs only the
    per-category decimal-exact (n, Σ) broadcast back onto the fact
    rows: no window, no per-row re-aggregation, bit-reproducible."""
    orders = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,6)")
    s = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), F.sum(dec).alias("tot")
    )
    return orders.join(F.broadcast(s), "o_orderpriority").select(
        "o_orderkey",
        "o_orderpriority",
        F.when(
            F.col("n") > 1,
            (F.col("tot") - dec).cast("double") / (F.col("n") - 1),
        ).alias("loo_target_mean"),
    )



@register(
    "sample_holdout_users",
    oracle=f"""
WITH u AS (SELECT DISTINCT user_id FROM events),
assign AS (
  SELECT user_id,
         {SQL_DET_HASH.format(col='user_id')} % 100 AS bucket
  FROM u
)
SELECT e.event_id, e.user_id,
       CASE WHEN bucket < 80 THEN 'train' ELSE 'holdout' END AS split
FROM events e JOIN assign a ON e.user_id = a.user_id
""",
)
def sample_holdout_users(spark, sf_dir):
    """ENTITY-level holdout: the split key is the user, not the event —
    splitting event rows directly leaks every held-out user's behavior
    into training through their other events. Same portable arithmetic
    hash as the document splits, assigned once per user and joined
    back (broadcast: the user relation is cardinality-bounded)."""
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    ev = load_table(spark, sf_dir, "events")
    assign = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id", (det_hash("user_id") % 100).alias("bucket")
        )
    )
    return ev.join(F.broadcast(assign), "user_id").select(
        "event_id",
        "user_id",
        F.when(F.col("bucket") < 80, "train")
        .otherwise("holdout")
        .alias("split"),
    )



@register(
    "features_woe_binning",
    oracle=f"""
WITH scored AS (
  SELECT event_id, value,
         CAST(({SQL_DET_HASH.format(col="user_id")}) % 2 AS BIGINT) AS label
  FROM events
),
binned AS (
  SELECT label,
         CAST(ntile(10) OVER (ORDER BY value, event_id) AS BIGINT) AS bin
  FROM scored
),
per AS (
  SELECT bin,
         CAST(sum(label) AS BIGINT) AS n_pos,
         CAST(count(*) - sum(label) AS BIGINT) AS n_neg
  FROM binned GROUP BY bin
),
tot AS (
  SELECT CAST(sum(n_pos) AS BIGINT) AS p, CAST(sum(n_neg) AS BIGINT) AS n
  FROM per
),
woe AS (
  SELECT bin, n_pos, n_neg,
         CAST(round(ln((CAST(n_pos AS DOUBLE) * t.n)
                       / (CAST(n_neg AS DOUBLE) * t.p)) * 1000000000)
              AS BIGINT) AS woe_q,
         CAST(n_pos AS DOUBLE) / t.p - CAST(n_neg AS DOUBLE) / t.n AS dp
  FROM per, tot t
  WHERE n_pos > 0 AND n_neg > 0
)
SELECT bin, n_pos, n_neg,
       CAST(woe_q AS DOUBLE) / 1000000000 AS woe,
       dp * (CAST(woe_q AS DOUBLE) / 1000000000) AS iv_term
FROM woe
""",
)
def features_woe_binning(spark, sf_dir):
    """Weight-of-Evidence / Information-Value binning — the
    credit-scoring encoder that turns a numeric feature into
    monotonic-risk bins: value deciles (global_ntile — the
    hierarchical NTILE, no single-partition sort of the fact table),
    per-bin WoE = ln(odds ratio) and its IV contribution. The ln is
    applied to an IDENTICAL double ratio built from exact integer
    counts and quantized once per bin to nano-nats (10 quantized
    transcendentals total — the events_kl_user_vs_global discipline),
    so the report replays exactly. Bins with a zero class are excluded
    in both engines (WoE undefined there). Completes the ML feature
    prep family: hashing trick, LOO target encoding, int8
    quantization, now supervised binning."""
    from wikipedia_data_pipeline_spark.operators.ranks import global_ntile
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    scored = load_table(spark, sf_dir, "events").select(
        "event_id",
        "value",
        (det_hash("user_id") % 2).cast("long").alias("label"),
    )
    binned = global_ntile(
        scored, [F.asc("value"), F.asc("event_id")], 10, "bin"
    )
    per = binned.groupBy("bin").agg(
        F.sum("label").cast("long").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("label")).cast("long").alias("n_neg"),
    )
    tot = per.agg(
        F.sum("n_pos").cast("long").alias("p"),
        F.sum("n_neg").cast("long").alias("n"),
    )
    woe_q = (
        F.round(
            F.log(
                (F.col("n_pos").cast("double") * F.col("n"))
                / (F.col("n_neg").cast("double") * F.col("p"))
            )
            * 1_000_000_000
        )
    ).cast("long")
    dp = F.col("n_pos").cast("double") / F.col("p") - F.col(
        "n_neg"
    ).cast("double") / F.col("n")
    return (
        per.crossJoin(F.broadcast(tot))
        .filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
        .select(
            "bin",
            "n_pos",
            "n_neg",
            (woe_q.cast("double") / 1_000_000_000).alias("woe"),
            (dp * (woe_q.cast("double") / 1_000_000_000)).alias("iv_term"),
        )
    )



# ---------------------------------------------------------------------------
# Decision-stump screen: information gain / gain ratio of a feature
# ---------------------------------------------------------------------------
# The C4.5 feature-selection primitive: for candidate feature
# hour-of-day predicting event_type,
#   IG = H(type) - H(type | hod),  gain_ratio = IG / H(hod),
# plus the one-level decision stump's training accuracy (sum over hod
# cells of the majority class share) — the three numbers a feature
# screen ranks candidates by. The (hod, type) cell relation is
# 24*k-bounded; entropy terms are fixed double expressions
# nano-quantized to BIGINT before bounded DECIMAL re-sums; stump
# accuracy is exact integer counts over the cell grid.

_US_PER_HOUR = 3_600_000_000

_STUMP_ORACLE = f"""
WITH cell AS (
  SELECT (epoch_us(ts) // {_US_PER_HOUR}) % 24 AS hod, event_type,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
fh AS (SELECT hod, CAST(sum(n) AS BIGINT) AS n_h FROM cell GROUP BY 1),
fy AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_y FROM cell GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cell),
h_y AS (
  SELECT -(CAST(sum(CAST(CAST(round(1e9 * (CAST(n_y AS DOUBLE) / tot.nn)
            * ln(CAST(n_y AS DOUBLE) / tot.nn)) AS BIGINT)
            AS DECIMAL(38,0))) AS DOUBLE) / 1e9) AS v
  FROM fy CROSS JOIN tot
),
h_cond AS (
  SELECT -(CAST(sum(CAST(CAST(round(1e9 * (CAST(cell.n AS DOUBLE) / tot.nn)
            * ln(CAST(cell.n AS DOUBLE) / fh.n_h)) AS BIGINT)
            AS DECIMAL(38,0))) AS DOUBLE) / 1e9) AS v
  FROM cell JOIN fh USING (hod) CROSS JOIN tot
),
h_f AS (
  SELECT -(CAST(sum(CAST(CAST(round(1e9 * (CAST(n_h AS DOUBLE) / tot.nn)
            * ln(CAST(n_h AS DOUBLE) / tot.nn)) AS BIGINT)
            AS DECIMAL(38,0))) AS DOUBLE) / 1e9) AS v
  FROM fh CROSS JOIN tot
),
stump AS (
  SELECT CAST(sum(mx) AS BIGINT) AS n_correct
  FROM (SELECT hod, max(n) AS mx FROM cell GROUP BY hod)
)
SELECT tot.nn AS n, h_y.v AS h_label, h_cond.v AS h_label_given_f,
       h_f.v AS h_feature,
       h_y.v - h_cond.v AS info_gain,
       (h_y.v - h_cond.v) / h_f.v AS gain_ratio,
       CAST(stump.n_correct AS DOUBLE) / tot.nn AS stump_accuracy
FROM tot, h_y, h_cond, h_f, stump
"""


@register("features_stump_information_gain", oracle=_STUMP_ORACLE)
def features_stump_information_gain(spark, sf_dir):
    """C4.5 feature screen for hour-of-day predicting event_type:
    label entropy, conditional entropy, feature entropy, information
    gain, gain ratio, and the one-level decision stump's accuracy. See
    the section comment for the bounded nano-quantized construction.

    Scale shape: scan -> 24*k-row cell hash agg -> bounded-grid
    arithmetic. Nothing after the first agg depends on data size."""
    ev = load_table(spark, sf_dir, "events")
    cell = ev.groupBy(
        (F.expr(f"ts div {_US_PER_HOUR}") % 24).alias("hod"), "event_type"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    cell = pin(cell)
    fh = cell.groupBy("hod").agg(F.sum("n").cast("long").alias("n_h"))
    fy = cell.groupBy("event_type").agg(F.sum("n").cast("long").alias("n_y"))
    tot = cell.agg(F.sum("n").cast("long").alias("nn"))

    def _ent(df, num_col, den_col, out):
        t = F.round(
            1e9
            * (F.col(num_col).cast("double") / F.col("nn"))
            * F.log(F.col(num_col).cast("double") / F.col(den_col))
        ).cast("long")
        return df.select(t.alias("t")).agg(
            (
                -(F.sum(F.col("t").cast("decimal(38,0)")).cast("double") / 1e9)
            ).alias(out)
        )

    h_y = _ent(fy.crossJoin(F.broadcast(tot)), "n_y", "nn", "h_label")
    h_cond = _ent(
        cell.join(fh, "hod").crossJoin(F.broadcast(tot)),
        "n",
        "n_h",
        "h_label_given_f",
    )
    h_f = _ent(fh.crossJoin(F.broadcast(tot)), "n_h", "nn", "h_feature")
    stump = (
        cell.groupBy("hod")
        .agg(F.max("n").alias("mx"))
        .agg(F.sum("mx").cast("long").alias("n_correct"))
    )
    ig = F.col("h_label") - F.col("h_label_given_f")
    return (
        tot.crossJoin(F.broadcast(h_y))
        .crossJoin(F.broadcast(h_cond))
        .crossJoin(F.broadcast(h_f))
        .crossJoin(F.broadcast(stump))
        .select(
            F.col("nn").alias("n"),
            "h_label",
            "h_label_given_f",
            "h_feature",
            ig.alias("info_gain"),
            (ig / F.col("h_feature")).alias("gain_ratio"),
            (F.col("n_correct").cast("double") / F.col("nn")).alias(
                "stump_accuracy"
            ),
        )
    )
