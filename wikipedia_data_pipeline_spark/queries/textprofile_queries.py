"""Lexical-diversity and source-profile statistics — all NEW queries
added in round 12, session 6, placed in their own module because
textcorpus_queries already sat near the 2,000-line split threshold
(this is an addition, not a split; no keys moved): the Good-Turing
smoothing table, Monroe log-odds distinguishing terms, the Hellinger
source-distance matrix, segmented standardized TTR, and Burrows' Delta
stylometry.

Same conventions as the sibling module textcorpus_queries: raw
whitespace tokenization matching the JS-divergence family, bounded
source-pair fan-outs, nano-quantized transcendental terms re-summed in
DECIMAL, and vocabulary relations that are Heaps-bounded but never
collected.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators.ranks import pin
from wikipedia_data_pipeline_spark.queries.textcorpus_queries import (
    SOURCE_PAIR_COUNTS_CTES,
    source_pair_counts,
)
from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Good-Turing frequency-of-frequencies and unseen probability mass
# ---------------------------------------------------------------------------
# The smoothing table every n-gram LM and coverage estimator starts
# from: N_r = how many distinct words occur exactly r times, the
# Good-Turing adjusted count r* = (r+1) N_{r+1} / N_r, and the
# probability that the NEXT token is one currently seen r times,
# (r+1) N_{r+1} / N — whose r=0 row is the unseen-species mass N_1/N
# (Good 1953; Gale & Sampson's SGT starts from exactly this table).
# Scale shape: token scan -> per-word count (one hash agg) -> count-of-
# counts (second agg, at most O(sqrt(2N)) distinct r values since
# sum r*N_r = N) -> the r <= 10 slice is FILTERED before the broadcast
# grid join, so nothing unbounded is ever collected or broadcast.

_GT_ORACLE = """
WITH tok AS (
  SELECT x AS word FROM documents, unnest(string_split(text, ' ')) AS u(x)
),
wc AS (SELECT word, CAST(count(*) AS BIGINT) AS r FROM tok GROUP BY 1),
ff AS (SELECT r, CAST(count(*) AS BIGINT) AS n_words FROM wc GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM tok),
grid AS (SELECT CAST(g AS BIGINT) AS r FROM generate_series(0, 9) AS t(g))
SELECT grid.r,
       coalesce(f0.n_words, 0) AS n_r,
       tot.n_tokens,
       CAST((grid.r + 1) * coalesce(f1.n_words, 0) AS DOUBLE)
         / tot.n_tokens AS gt_next_mass,
       CASE WHEN grid.r >= 1 AND coalesce(f0.n_words, 0) > 0
            THEN CAST((grid.r + 1) * coalesce(f1.n_words, 0) AS DOUBLE)
                   / f0.n_words END AS r_star
FROM grid
LEFT JOIN ff f0 ON f0.r = grid.r
LEFT JOIN ff f1 ON f1.r = grid.r + 1
CROSS JOIN tot
"""


@register("text_good_turing_mass", oracle=_GT_ORACLE)
def text_good_turing_mass(spark, sf_dir):
    """Good-Turing table for the corpus unigram distribution: for
    r = 0..9 the frequency-of-frequencies N_r, the adjusted count
    r* = (r+1)N_{r+1}/N_r, and the next-token mass (r+1)N_{r+1}/N —
    row r=0 is the unseen-word probability N_1/N, the number a corpus
    coverage / dedup-saturation audit reads first. See the section
    comment for the two-agg + filtered-broadcast scale shape; every
    output double is a single division of exact BIGINTs."""
    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    tok = docs.select(F.explode(F.split("text", " ")).alias("word"))
    wc = tok.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("r"))
    ff = wc.groupBy("r").agg(F.count(F.lit(1)).cast("long").alias("n_words"))
    # the r-domain slice the report needs is tiny — filter BEFORE the
    # broadcast joins so the grid join never sees the full ff relation
    ff_small = ff.filter(F.col("r") <= 10)
    tot = tok.agg(F.count(F.lit(1)).cast("long").alias("n_tokens"))
    grid = spark.range(0, 10).select(F.col("id").cast("long").alias("r"))
    f0 = ff_small.select(F.col("r").alias("r0"), F.col("n_words").alias("nw0"))
    f1 = ff_small.select(F.col("r").alias("r1"), F.col("n_words").alias("nw1"))
    joined = (
        grid.join(F.broadcast(f0), grid.r == F.col("r0"), "left")
        .join(F.broadcast(f1), grid.r + 1 == F.col("r1"), "left")
        .crossJoin(F.broadcast(tot))
    )
    n_r = F.coalesce(F.col("nw0"), F.lit(0)).cast("long")
    n_r1 = F.coalesce(F.col("nw1"), F.lit(0)).cast("long")
    return joined.select(
        "r",
        n_r.alias("n_r"),
        "n_tokens",
        (((F.col("r") + 1) * n_r1).cast("double") / F.col("n_tokens")).alias(
            "gt_next_mass"
        ),
        F.when(
            (F.col("r") >= 1) & (n_r > 0),
            ((F.col("r") + 1) * n_r1).cast("double") / n_r,
        ).alias("r_star"),
    )


# ---------------------------------------------------------------------------
# Monroe log-odds with informative Dirichlet prior ("fightin' words")
# ---------------------------------------------------------------------------
# The distinguishing-terms statistic between two subcorpora (Monroe,
# Colaresi & Quinn 2008): with the COMBINED corpus as the Dirichlet
# prior (alpha_w = y1w + y2w, alpha_0 = n1 + n2),
#   delta_w = ln((y1+a)/(n1+a0-y1-a)) - ln((y2+a)/(n2+a0-y2-a))
#   z_w = delta_w / sqrt(1/(y1+a) + 1/(y2+a))
# Unlike raw log-odds it never divides by zero on one-sided words, and
# the variance term damps rare-word noise. All inputs are exact
# BIGINTs; z is ONE fixed double expression nano-quantized at the row
# level, and the top-40 selection orders by the INTEGER |z_nano| with
# a word tie-break — fully deterministic across engines.

_LOGODDS_ORACLE = """
WITH tok AS (
  SELECT lang, x AS word
  FROM documents, unnest(string_split(text, ' ')) AS u(x)
  WHERE lang IN ('en', 'de')
),
wc AS (
  SELECT word,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS y1,
         CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS y2
  FROM tok GROUP BY 1
),
tot AS (
  SELECT CAST(sum(y1) AS BIGINT) AS n1, CAST(sum(y2) AS BIGINT) AS n2
  FROM wc
),
z AS (
  SELECT word, y1, y2,
         CAST(round(1e9 * (
           (ln(CAST(y1 + y1 + y2 AS DOUBLE)
               / (n1 + n1 + n2 - y1 - y1 - y2))
            - ln(CAST(y2 + y1 + y2 AS DOUBLE)
                 / (n2 + n1 + n2 - y2 - y1 - y2)))
           / sqrt(1.0 / (y1 + y1 + y2) + 1.0 / (y2 + y1 + y2))
         )) AS BIGINT) AS z_nano
  FROM wc CROSS JOIN tot
)
SELECT word, y1 AS n_en, y2 AS n_de,
       CAST(z_nano AS DOUBLE) / 1e9 AS z_log_odds
FROM z
ORDER BY abs(z_nano) DESC, word
LIMIT 40
"""


@register("text_log_odds_sources", oracle=_LOGODDS_ORACLE)
def text_log_odds_sources(spark, sf_dir):
    """Top-40 terms distinguishing the 'en' and 'de' subcorpora by
    Monroe's log-odds-ratio z with the combined corpus as Dirichlet
    prior — the curation screen for "which words make these two
    sources different" that raw frequency ratios and chi2 both get
    wrong on rare words. See the section comment for the statistic.

    Scale shape: ONE (word) hash agg with conditional sums (never a
    per-subcorpus join), a broadcast 1-row totals attach, a fixed
    per-word double expression, and a TakeOrdered top-40 on the
    integer |z_nano| — the vocabulary relation is Heaps-bounded and
    never collected."""
    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    tok = docs.filter(F.col("lang").isin("en", "de")).select(
        "lang", F.explode(F.split("text", " ")).alias("word")
    )
    wc = tok.groupBy("word").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("y1"),
        F.sum(F.when(F.col("lang") == "de", 1).otherwise(0))
        .cast("long")
        .alias("y2"),
    )
    tot = wc.agg(
        F.sum("y1").cast("long").alias("n1"),
        F.sum("y2").cast("long").alias("n2"),
    )
    y1, y2 = F.col("y1"), F.col("y2")
    n1, n2 = F.col("n1"), F.col("n2")
    a = y1 + y2  # alpha_w: combined-corpus prior counts
    a0 = n1 + n2
    delta = F.log((y1 + a).cast("double") / (n1 + a0 - y1 - a)) - F.log(
        (y2 + a).cast("double") / (n2 + a0 - y2 - a)
    )
    z_nano = F.round(
        1e9 * delta / F.sqrt(1.0 / (y1 + a) + 1.0 / (y2 + a))
    ).cast("long")
    z = wc.crossJoin(F.broadcast(tot)).select(
        "word",
        y1.alias("n_en"),
        y2.alias("n_de"),
        z_nano.alias("z_nano"),
    )
    return (
        z.orderBy(F.abs(F.col("z_nano")).desc(), "word")
        .limit(40)
        .select(
            "word",
            "n_en",
            "n_de",
            (F.col("z_nano").cast("double") / 1e9).alias("z_log_odds"),
        )
    )


# ---------------------------------------------------------------------------
# Hellinger / Bhattacharyya distance matrix between source unigram
# distributions
# ---------------------------------------------------------------------------
# The metric companion to text_js_divergence_sources: BC(a,b) =
# sum_w sqrt(p_a(w) p_b(w)), H = sqrt(1 - BC). Hellinger is a TRUE
# metric (triangle inequality holds, unlike JS divergence pre-sqrt),
# which mixture planners need when they cluster sources by pairwise
# distance. Same bounded source-pair fan-out, same nano-quantized
# per-(pair, word) terms re-summed in DECIMAL.

_HELLINGER_ORACLE = f"""
WITH {SOURCE_PAIR_COUNTS_CTES},
terms AS (
  SELECT sa, sb,
         CAST(round(1e9 * sqrt((CAST(na AS DOUBLE) / na_tot)
                               * (CAST(nb AS DOUBLE) / nb_tot)))
              AS BIGINT) AS t_nano
  FROM contrib
),
bc AS (
  SELECT sa AS source_a, sb AS source_b,
         CAST(sum(CAST(t_nano AS DECIMAL(38,0))) AS DOUBLE) / 1e9 AS bc_coef
  FROM terms GROUP BY 1, 2
)
SELECT source_a, source_b, bc_coef,
       sqrt(greatest(0.0, 1.0 - bc_coef)) AS hellinger
FROM bc
"""


@register("text_hellinger_sources", oracle=_HELLINGER_ORACLE)
def text_hellinger_sources(spark, sf_dir):
    """Pairwise Bhattacharyya coefficient and Hellinger distance
    between every two sources' unigram distributions — the true-metric
    sibling of `text_js_divergence_sources` (see its section comment
    for why the fan-out is pair-bounded, never a vocab self-join)."""
    contrib = source_pair_counts(spark, sf_dir)
    term = F.sqrt(
        (F.col("na").cast("double") / F.col("na_tot"))
        * (F.col("nb").cast("double") / F.col("nb_tot"))
    )
    terms = contrib.select(
        "sa", "sb", F.round(1e9 * term).cast("long").alias("t_nano")
    )
    bc = (
        terms.groupBy("sa", "sb")
        .agg(
            (
                F.sum(F.col("t_nano").cast("decimal(38,0)")).cast("double")
                / 1e9
            ).alias("bc_coef")
        )
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "bc_coef",
        )
    )
    return bc.select(
        "source_a",
        "source_b",
        "bc_coef",
        F.sqrt(F.greatest(F.lit(0.0), 1.0 - F.col("bc_coef"))).alias(
            "hellinger"
        ),
    )


# ---------------------------------------------------------------------------
# Standardized type-token ratio over fixed 25-token segments (r12s6)
# ---------------------------------------------------------------------------
# Raw TTR falls with text length (Heaps), so comparing docs or corpora
# by it is meaningless; STTR fixes the window: cut every document into
# consecutive 25-token segments, take each FULL segment's TTR, and
# average. With the segment size fixed at 25, mean STTR is EXACTLY
# sum(distinct_count) / (25 * n_segments) — pure integers end to end.
# The corpus-level raw TTR ships alongside for the contrast. One
# posexplode + two hash aggs; per-segment distinct counting is
# (doc, segment)-keyed, never a global distinct.

_STTR_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
pos AS (
  SELECT doc_id, ws[g] AS w, (g - 1) // 25 AS seg,
         len(ws) AS n_tok
  FROM t, unnest(generate_series(1, len(ws))) AS u(g)
),
seg AS (
  SELECT doc_id, seg,
         CAST(count(*) AS BIGINT) AS n_in_seg,
         CAST(count(DISTINCT w) AS BIGINT) AS n_types
  FROM pos GROUP BY 1, 2
),
full_seg AS (SELECT * FROM seg WHERE n_in_seg = 25),
corpus AS (
  SELECT CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT w) AS BIGINT) AS n_types_corpus
  FROM pos
)
SELECT CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(f.n_types) AS BIGINT) AS sum_seg_types,
       CAST(sum(f.n_types) AS DOUBLE) / (25 * count(*)) AS mean_sttr,
       max(c.n_tokens) AS n_tokens,
       CAST(max(c.n_types_corpus) AS DOUBLE) / max(c.n_tokens)
         AS raw_ttr_corpus
FROM full_seg f CROSS JOIN corpus c
"""


@register("text_sttr_segments", oracle=_STTR_ORACLE)
def text_sttr_segments(spark, sf_dir):
    """Standardized type-token ratio: mean TTR over full 25-token
    segments (the length-invariant lexical-diversity number), with the
    length-confounded corpus raw TTR alongside. See the section
    comment — mean STTR is exact integer arithmetic."""
    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    pos = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("p", "w"),
    ).select("doc_id", "w", F.expr("p div 25").alias("seg"))
    seg = pos.groupBy("doc_id", "seg").agg(
        F.count(F.lit(1)).cast("long").alias("n_in_seg"),
        F.countDistinct("w").cast("long").alias("n_types"),
    )
    full_seg = seg.filter(F.col("n_in_seg") == 25)
    corpus = pos.agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("w").cast("long").alias("n_types_corpus"),
    )
    return (
        full_seg.agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.sum("n_types").cast("long").alias("sum_seg_types"),
        )
        .crossJoin(F.broadcast(corpus))
        .select(
            "n_segments",
            "sum_seg_types",
            (
                F.col("sum_seg_types").cast("double")
                / (25 * F.col("n_segments"))
            ).alias("mean_sttr"),
            "n_tokens",
            (
                F.col("n_types_corpus").cast("double") / F.col("n_tokens")
            ).alias("raw_ttr_corpus"),
        )
    )


# ---------------------------------------------------------------------------
# Burrows' Delta stylometric distance between sources (r12s6)
# ---------------------------------------------------------------------------
# The authorship-attribution classic (Burrows 2002): take the K most
# frequent corpus words, z-normalize each source's relative frequency
# of each word across sources, and score a source pair by the mean
# |z_a - z_b|. Where JS/Hellinger compare raw probability MASS, Delta
# compares STYLE PROFILES — a source that over-uses function words
# stands out even when its topical mass matches. K = 30 here (the
# fixture vocabulary is 31 words; real corpora use 150-500).
# Exactness: relative frequencies are exact-rational c/n_s; the
# across-source mean/sd per word are fixed expressions over
# micro-quantized per-source frequencies (S-bounded sums, S = #sources
# <= 20); per-(pair, word) |z| gaps are nano-quantized into the final
# K-term DECIMAL mean. Everything after the one word-count agg is
# (S x K)-bounded.

_DELTA_K = 30

_BURROWS_ORACLE = f"""
WITH wc AS (
  SELECT source, x AS word, CAST(count(*) AS BIGINT) AS c
  FROM documents, unnest(string_split(text, ' ')) AS u(x)
  GROUP BY 1, 2
),
topk AS (
  SELECT word FROM (
    SELECT word, sum(c) AS tot FROM wc GROUP BY 1
    ORDER BY tot DESC, word LIMIT {_DELTA_K}
  )
),
tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM wc GROUP BY 1),
freq AS (
  SELECT t.source, k.word,
         CAST(round(1e6 * CAST(coalesce(w.c, 0) AS DOUBLE) / t.n_s)
              AS BIGINT) AS f_micro
  FROM tot t CROSS JOIN topk k
  LEFT JOIN wc w ON w.source = t.source AND w.word = k.word
),
mo AS (
  SELECT word,
         CAST(count(*) AS BIGINT) AS s,
         CAST(sum(f_micro) AS BIGINT) AS sf,
         CAST(sum(f_micro * f_micro) AS BIGINT) AS qf
  FROM freq GROUP BY 1
),
z AS (
  SELECT f.source, f.word,
         (CAST(f.f_micro AS DOUBLE) - CAST(m.sf AS DOUBLE) / m.s)
           / (sqrt(CAST(m.s * m.qf - m.sf * m.sf AS DOUBLE)) / m.s) AS zv
  FROM freq f JOIN mo m ON f.word = m.word
  WHERE m.s * m.qf > m.sf * m.sf
),
gaps AS (
  SELECT a.source AS sa, b.source AS sb, a.word,
         CAST(round(1e9 * abs(a.zv - b.zv)) AS BIGINT) AS gap_nano
  FROM z a JOIN z b ON a.word = b.word AND a.source < b.source
)
SELECT sa AS source_a, sb AS source_b,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(CAST(gap_nano AS DECIMAL(38,0))) AS DOUBLE)
         / count(*) / 1e9 AS burrows_delta
FROM gaps GROUP BY 1, 2
"""


@register("text_burrows_delta", oracle=_BURROWS_ORACLE)
def text_burrows_delta(spark, sf_dir):
    """Pairwise Burrows' Delta between sources over the top-30 corpus
    words — the z-normalized STYLE-profile distance next to the
    mass-based JS/Hellinger matrices. See the section comment; one
    word-count agg, then everything is (sources x 30)-bounded."""
    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    wc = (
        docs.select("source", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    topk = (
        wc.groupBy("word")
        .agg(F.sum("c").alias("tot"))
        .orderBy(F.desc("tot"), "word")
        .limit(_DELTA_K)
        .select("word")
    )
    tot = wc.groupBy("source").agg(F.sum("c").cast("long").alias("n_s"))
    freq = (
        tot.crossJoin(F.broadcast(topk))
        .join(F.broadcast(wc.join(F.broadcast(topk), "word")),
              ["source", "word"], "left")
        .select(
            "source",
            "word",
            F.round(
                1e6
                * F.coalesce(F.col("c"), F.lit(0)).cast("double")
                / F.col("n_s")
            )
            .cast("long")
            .alias("f_micro"),
        )
    )
    mo = freq.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("s"),
        F.sum("f_micro").cast("long").alias("sf"),
        F.sum(F.col("f_micro") * F.col("f_micro")).cast("long").alias("qf"),
    )
    z = (
        freq.join(F.broadcast(mo), "word")
        .filter(F.col("s") * F.col("qf") > F.col("sf") * F.col("sf"))
        .select(
            "source",
            "word",
            (
                (
                    F.col("f_micro").cast("double")
                    - F.col("sf").cast("double") / F.col("s")
                )
                / (
                    F.sqrt(
                        (
                            F.col("s") * F.col("qf")
                            - F.col("sf") * F.col("sf")
                        ).cast("double")
                    )
                    / F.col("s")
                )
            ).alias("zv"),
        )
    )
    a = z.select(
        F.col("source").alias("sa"), "word", F.col("zv").alias("za")
    )
    b = z.select(
        F.col("source").alias("sb"),
        F.col("word").alias("wb"),
        F.col("zv").alias("zb"),
    )
    gaps = a.join(
        F.broadcast(b),
        (F.col("word") == F.col("wb")) & (F.col("sa") < F.col("sb")),
    ).select(
        "sa",
        "sb",
        F.round(1e9 * F.abs(F.col("za") - F.col("zb")))
        .cast("long")
        .alias("gap_nano"),
    )
    return gaps.groupBy("sa", "sb").agg(
        (
            F.sum(F.col("gap_nano").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1))
            / 1e9
        ).alias("burrows_delta"),
        F.count(F.lit(1)).cast("long").alias("n_words"),
    ).select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        "n_words",
        "burrows_delta",
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction over the corpus (r12s6)
# ---------------------------------------------------------------------------
# Rapid Automatic Keyword Extraction (Rose et al. 2010): candidate
# phrases are maximal runs of non-stopword tokens; each word scores
# deg/freq (deg = sum of the lengths of the phrases it appears in,
# freq = its occurrence count over candidates); a phrase scores the
# sum of its words' scores. Stopwords here are the corpus's top-20
# words by frequency (deterministic; RAKE's original list is
# English-specific and this engine is language-agnostic). Top-20
# distinct phrase TEXTS by score, with occurrence counts.
# Exactness: deg and freq are exact BIGINTs; each per-(phrase, word)
# deg/freq term is ONE double division nano-quantized before the
# phrase sum; phrase text reassembles via an order-preserving
# aggregation (sorted (position, word) structs), identical in both
# engines. Scale shape (r13 restructure, AB_RAKE_PHRASE_r13: 21.3 ->
# 11.8 s best-of-3 at 100x): phrase segmentation is the gaps-islands
# prefix trick inside PER-DOCUMENT windows (never global); the
# PERSISTED phrase relation (one row per candidate phrase) then serves
# both word stats and phrase scores by re-exploding split(ptext, ' ')
# — exactly the word multiset the r12 nons-join carried, since words
# cannot contain spaces — so the token-level fact is touched twice
# total (stopword scan + segmentation) instead of ~6 times (the
# nons x phrase join was consumed by two aggregations with no
# cross-subtree CSE). Word stats are one vocab-bounded agg broadcast
# back; the final top-20 is a TakeOrdered over the distinct-phrase
# relation.

_RAKE_K_STOP = 20
_RAKE_TOPK = 20

_RAKE_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, u.g AS p, ws[u.g] AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       unnest(generate_series(1, len(ws))) AS u(g)
),
stop AS (
  SELECT w FROM (
    SELECT w, count(*) AS c FROM tok GROUP BY 1
    ORDER BY c DESC, w LIMIT {_RAKE_K_STOP}
  )
),
nons AS (
  SELECT t.doc_id, t.p, t.w,
         t.p - row_number() OVER (PARTITION BY t.doc_id ORDER BY t.p)
           AS grp
  FROM tok t LEFT JOIN stop s ON t.w = s.w
  WHERE s.w IS NULL
),
phrase AS (
  SELECT doc_id, grp,
         string_agg(w, ' ' ORDER BY p) AS ptext,
         CAST(count(*) AS BIGINT) AS plen
  FROM nons GROUP BY 1, 2
),
wstat AS (
  SELECT w,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(plen) AS BIGINT) AS deg
  FROM nons n JOIN phrase ph
    ON n.doc_id = ph.doc_id AND n.grp = ph.grp
  GROUP BY 1
),
pscore AS (
  SELECT ph.ptext,
         CAST(sum(CAST(round(1e9 * CAST(ws.deg AS DOUBLE) / ws.freq)
                       AS BIGINT)) AS BIGINT) AS score_nano
  FROM nons n
  JOIN phrase ph ON n.doc_id = ph.doc_id AND n.grp = ph.grp
  JOIN wstat ws ON n.w = ws.w
  GROUP BY ph.doc_id, ph.grp, ph.ptext
),
dedup AS (
  SELECT ptext, CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(max(score_nano) AS BIGINT) AS score_nano
  FROM pscore GROUP BY 1
)
SELECT ptext AS phrase, n_occurrences,
       CAST(score_nano AS DOUBLE) / 1e9 AS rake_score
FROM dedup
ORDER BY score_nano DESC, ptext
LIMIT {_RAKE_TOPK}
"""


@register("text_rake_keywords", oracle=_RAKE_ORACLE)
def text_rake_keywords(spark, sf_dir):
    """Top-20 RAKE keyword phrases over the corpus (stopwords = the
    corpus's top-20 words; phrases = maximal non-stopword runs; score
    = sum of member words' degree/frequency). The classic unsupervised
    keyword extractor next to the PMI collocations and TextRank-style
    graph scores. See the section comment for the per-document
    gaps-islands segmentation, the persisted-phrase restructure, and
    the nano-quantized score construction."""
    from pyspark.sql import Window

    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p0", "w")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "w")
    stop = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(_RAKE_K_STOP)
        .select("w")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("p")
    nons = (
        tok.join(F.broadcast(stop), "w", "left_anti")
        .withColumn("grp", F.col("p") - F.row_number().over(w_doc))
    )
    phrase = pin(
        nons.groupBy("doc_id", "grp")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("p"), F.col("w")))
                    ),
                    lambda s: s["w"],
                ),
            ).alias("ptext"),
            F.count(F.lit(1)).cast("long").alias("plen"),
        )
    )
    # re-explode the persisted phrase text: split(' ') recovers each
    # phrase's exact word multiset (words cannot contain spaces), so
    # the token-level nons x phrase join the aggregations below used
    # to consume is never materialized
    pw = phrase.select(
        "doc_id",
        "grp",
        "ptext",
        "plen",
        F.explode(F.split("ptext", " ")).alias("w"),
    )
    wstat = pw.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("deg"),
    )
    pscore = (
        pw.join(F.broadcast(wstat), "w")
        .groupBy("doc_id", "grp", "ptext")
        .agg(
            F.sum(
                F.round(
                    1e9 * F.col("deg").cast("double") / F.col("freq")
                ).cast("long")
            )
            .cast("long")
            .alias("score_nano")
        )
    )
    dedup = pscore.groupBy("ptext").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.max("score_nano").cast("long").alias("score_nano"),
    )
    return (
        dedup.orderBy(F.desc("score_nano"), "ptext")
        .limit(_RAKE_TOPK)
        .select(
            F.col("ptext").alias("phrase"),
            "n_occurrences",
            (F.col("score_nano").cast("double") / 1e9).alias("rake_score"),
        )
    )
