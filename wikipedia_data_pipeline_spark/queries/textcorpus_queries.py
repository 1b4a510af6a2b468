"""Text relevance & corpus statistics: TF-IDF / BM25 ranked search,
phrase search, document-similarity join, collocations, stopword
inference, n-gram surprisal LMs, Zipf/Heaps fits, corpus drift and
snapshot diffs, readability, vocabulary overlap. Split out of
profiling_queries (round 7)."""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators import profiling as P
from wikipedia_data_pipeline_spark.operators.ranks import pin
from wikipedia_data_pipeline_spark.operators.sampling import SQL_DET_HASH
from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table
from wikipedia_data_pipeline_spark.queries.tfidf_queries import TOKS_CTE


@register(
    "heavy_hitter_tokens",
    oracle="""
WITH w AS (
  SELECT lower(regexp_replace(x, '[^a-zA-Z]', '', 'g')) AS word
  FROM documents, unnest(string_split(text, ' ')) AS u(x)
),
f AS (SELECT word FROM w WHERE length(word) > 0),
tot AS (SELECT count(*) AS n_total FROM f)
SELECT word, count(*) AS n,
       CAST(count(*) AS DOUBLE) / (SELECT CAST(n_total AS DOUBLE) FROM tot) AS share
FROM f GROUP BY word
HAVING count(*) * 200 >= (SELECT n_total FROM tot)
""",
)
def heavy_hitter_tokens(spark, sf_dir):
    """EXACT tokens covering >= 1/200 of all corpus token occurrences,
    via per-partition Misra-Gries candidate generation (no full-histogram
    shuffle) + broadcast-semi exact recount. Two scans; the shuffle
    carries only candidates, not the distinct-token histogram."""
    from wikipedia_data_pipeline_spark.operators import text as T

    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokenize(docs).select(F.col("word"))
    return P.exact_heavy_hitters(toks, "word", 1, 200)


@register(
    "text_trigram_commonness",
    oracle="""
WITH t AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, ' '),
                     x -> lower(regexp_replace(x, '[^a-zA-Z]', '', 'g'))),
                     w -> length(w) > 0) AS ws
  FROM documents
),
occ AS (
  SELECT doc_id, concat_ws(' ', ws[g], ws[g+1], ws[g+2]) AS ngram
  FROM t, unnest(generate_series(1, len(ws) - 2)) AS u(g)
),
dfq AS (
  SELECT ngram, count(*) AS df FROM (SELECT DISTINCT doc_id, ngram FROM occ)
  GROUP BY ngram
)
SELECT occ.doc_id, count(*) AS n_trigrams,
       CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
       CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS common_frac,
       CAST(sum(df) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_df
FROM occ JOIN dfq ON occ.ngram = dfq.ngram
GROUP BY occ.doc_id
""",
)
def text_trigram_commonness(spark, sf_dir):
    """CCNet-style LM-lite quality gate: per-doc corpus-fit from
    trigram document frequencies (integer-exact aggregation, two
    shuffles on the trigram key)."""
    from wikipedia_data_pipeline_spark.operators import textstats as TS2

    return TS2.trigram_commonness(load_table(spark, sf_dir, "documents"))


@register(
    "text_collocations",
    oracle="""
WITH t AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, ' '),
                     x -> lower(regexp_replace(x, '[^a-zA-Z]', '', 'g'))),
                     w -> length(w) > 0) AS ws
  FROM documents
),
uni AS (
  SELECT w AS word, count(*) AS n_word
  FROM t, unnest(ws) AS u(w) GROUP BY w
),
tot AS (SELECT CAST(sum(n_word) AS BIGINT) AS n_total FROM uni),
bi AS (
  SELECT ws[g] AS w1, ws[g+1] AS w2,
         ws[g] || ' ' || ws[g+1] AS ngram, count(*) AS n_pair
  FROM t, unnest(generate_series(1, len(ws) - 1)) AS u(g)
  GROUP BY 1, 2, 3
)
SELECT ngram, n_pair, u1.n_word AS n_w1, u2.n_word AS n_w2,
       CAST(n_pair * (SELECT n_total FROM tot) AS DOUBLE)
         / CAST(u1.n_word * u2.n_word AS DOUBLE) AS lift
FROM bi JOIN uni u1 ON bi.w1 = u1.word JOIN uni u2 ON bi.w2 = u2.word
ORDER BY lift DESC, ngram ASC
LIMIT 100
""",
)
def text_collocations(spark, sf_dir):
    """Collocation extraction by integer-exact lift (PMI sans log):
    bigram counts joined twice against the broadcast unigram table,
    one portable division per row, TakeOrdered top-100."""
    from wikipedia_data_pipeline_spark.operators import textstats as TS3

    return TS3.collocations(load_table(spark, sf_dir, "documents"))


@register(
    "corpus_snapshot_diff",
    oracle="""
WITH old AS (
  SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 10 <> 0
),
new AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS fp
  FROM documents WHERE doc_id % 9 <> 0
)
SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
       CASE WHEN old.fp IS NULL THEN 'added'
            WHEN new.fp IS NULL THEN 'removed'
            WHEN old.fp <> new.fp THEN 'changed' END AS change
FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
WHERE (CASE WHEN old.fp IS NULL THEN 'added'
            WHEN new.fp IS NULL THEN 'removed'
            WHEN old.fp <> new.fp THEN 'changed' END) IS NOT NULL
""",
)
def corpus_snapshot_diff(spark, sf_dir):
    """Release-to-release corpus diff: two snapshots derived
    deterministically from the documents table (v1 drops doc_id%10=0,
    v2 drops doc_id%9=0 and edits doc_id%7=0), classified
    added/removed/changed by one full outer join on md5 row
    fingerprints."""
    from wikipedia_data_pipeline_spark.operators import curation as C

    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.where(F.col("doc_id") % 10 != 0)
    v2 = docs.where(F.col("doc_id") % 9 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return C.snapshot_diff(v1, v2, "doc_id", ["text"])


@register("text_compression_ratio")  # no SQL oracle: zlib is not SQL-expressible
def text_compression_ratio(spark, sf_dir):
    """zlib compression-ratio quality signal (repetitive text
    compresses suspiciously well). Deterministic but not
    SQL-expressible, so pytest-verified; the driver rows-checks it."""
    from wikipedia_data_pipeline_spark.operators import textstats as TS4

    return TS4.compression_ratio(load_table(spark, sf_dir, "documents"))


@register(
    "text_chunk_documents",
    oracle="""
WITH t AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, ' '),
                     x -> lower(regexp_replace(x, '[^a-zA-Z]', '', 'g'))),
                     w -> length(w) > 0) AS ws
  FROM documents
)
SELECT doc_id,
       CAST(s // 48 AS BIGINT) AS chunk_id,
       CAST(s AS BIGINT) AS chunk_start,
       CAST(len(ws[s+1 : least(s + 64, len(ws))]) AS BIGINT)
         AS n_chunk_tokens,
       array_to_string(ws[s+1 : least(s + 64, len(ws))], ' ') AS chunk_text
FROM t, unnest(generate_series(0, len(ws) - 1, 48)) AS u(s)
WHERE len(ws) > 0
""",
)
def text_chunk_documents(spark, sf_dir):
    """Overlapping token chunking (64-token chunks, stride 48) for RAG
    indexing / long-doc training — pure sequence/explode/slice, no
    UDF, no shuffle."""
    from wikipedia_data_pipeline_spark.operators import text as T2

    return T2.chunk_documents(load_table(spark, sf_dir, "documents"))


@register(
    "text_word_cooccurrence",
    oracle="""
WITH dw AS (
  SELECT DISTINCT doc_id,
         lower(regexp_replace(x, '[^a-zA-Z]', '', 'g')) AS word
  FROM documents, unnest(string_split(text, ' ')) AS u(x)
  WHERE length(lower(regexp_replace(x, '[^a-zA-Z]', '', 'g'))) > 0
)
SELECT a.word AS w1, b.word AS w2, count(*) AS n_docs
FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.word < b.word
GROUP BY a.word, b.word
""",
)
def text_word_cooccurrence(spark, sf_dir):
    """Document-level word co-occurrence counts (the raw relation
    under PMI embeddings / distributional semantics): distinct
    (doc, word) pairs self-joined on doc_id with w1 < w2. The join
    shuffles on doc_id — bounded per-doc fan-out of |vocab_doc|^2;
    at open-vocabulary scale the same query composes with the df cap
    (prefix filter) the similarity join uses."""
    from wikipedia_data_pipeline_spark.operators import text as T3

    dw = pin(T3.tokenize(load_table(spark, sf_dir, "documents")).distinct())
    a = dw.alias("a")
    b = dw.alias("b")
    return (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.word") < F.col("b.word")),
        )
        .groupBy(
            F.col("a.word").alias("w1"), F.col("b.word").alias("w2")
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --- LM-quality scoring, temporal split, outlier screen (round 5) -------

@register(
    "text_unigram_surprisal",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(list_transform(string_split(text, ' '),
           x -> lower(regexp_replace(x, '[^a-zA-Z]', '', 'g'))),
           w -> length(w) > 0)) AS word
  FROM documents
),
vocab AS (SELECT word, count(*) AS cnt FROM toks GROUP BY word),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
ws AS (
  SELECT word,
         CAST(round(log2(CAST(total AS DOUBLE) / CAST(cnt AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS surp
  FROM vocab, tot
)
SELECT t.doc_id, count(*) AS n_tokens,
       round(CAST(sum(surp) AS DOUBLE) / count(*), 6) AS bits_per_token
FROM toks t JOIN ws USING (word)
GROUP BY t.doc_id
""",
)
def text_unigram_surprisal(spark, sf_dir):
    """Mean unigram surprisal per document (bits/token) under the
    corpus unigram LM — the perplexity-lite corpus quality gate. See
    operators/textstats.py:unigram_surprisal for the cost model."""
    from wikipedia_data_pipeline_spark.operators import textstats as TS2

    return TS2.unigram_surprisal(load_table(spark, sf_dir, "documents"))


@register(
    "text_infer_stopwords",
    oracle=f"""
WITH {TOKS_CTE},
dfreq AS (
  SELECT word, count(*) AS df
  FROM (SELECT DISTINCT doc_id, word FROM toks) GROUP BY word
),
nd AS (SELECT count(*) AS n_docs FROM documents)
SELECT word, df, CAST(df AS DOUBLE) / n_docs AS df_frac
FROM dfreq, nd
WHERE CAST(df AS DOUBLE) / n_docs >= 0.8
ORDER BY df DESC, word ASC
""",
)
def text_infer_stopwords(spark, sf_dir):
    """Corpus-driven stopword inference: words whose document frequency
    covers ≥ 80% of the corpus. Curated stopword lists don't transfer
    across domains or languages — at corpus scale you infer the list
    from the data itself (one distinct + one vocab-sized aggregate) and
    feed it to the tokenizer, the inverted index's posting pruning, and
    the quality gates."""
    from wikipedia_data_pipeline_spark.operators.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    dfreq = (
        tokenize(docs)
        .select("doc_id", "word")
        .distinct()
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return (
        dfreq.crossJoin(F.broadcast(n_docs))
        .withColumn("df_frac", F.col("df").cast("double") / F.col("n_docs"))
        .filter(F.col("df_frac") >= 0.8)
        .select("word", "df", "df_frac")
        .orderBy(F.desc("df"), F.asc("word"))
    )


# --- Bigram LM scoring + robust MAD outliers (round 5) ------------------

@register(
    "text_bigram_surprisal",
    oracle="""
WITH t AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, ' '),
                     x -> lower(regexp_replace(x, '[^a-zA-Z]', '', 'g'))),
                     w -> length(w) > 0) AS ws
  FROM documents
),
bg AS (
  SELECT doc_id, ws[g] AS w1, ws[g+1] AS w2
  FROM t, unnest(generate_series(1, len(ws) - 1)) AS u(g)
  WHERE len(ws) >= 2
),
bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
uc AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bc GROUP BY w1),
vsz AS (SELECT count(DISTINCT w2) AS v FROM bc),
probs AS (
  SELECT bc.w1, bc.w2,
         CAST(round(log2(CAST(c1 + v AS DOUBLE) / (c12 + 1)), 6)
              AS DECIMAL(18,6)) AS surp
  FROM bc JOIN uc ON bc.w1 = uc.w1, vsz
)
SELECT bg.doc_id, count(*) AS n_bigrams,
       round(CAST(sum(surp) AS DOUBLE) / count(*), 6) AS bits_per_bigram
FROM bg JOIN probs ON bg.w1 = probs.w1 AND bg.w2 = probs.w2
GROUP BY bg.doc_id
""",
)
def text_bigram_surprisal(spark, sf_dir):
    """Per-doc mean surprisal under an add-one-smoothed BIGRAM LM
    trained on the corpus itself — one step up the n-gram-LM ladder
    from text_unigram_surprisal, and the score that actually separates
    scrambled text from fluent text (unigram surprisal is identical
    under any token permutation; bigram surprisal is exactly the
    word-order signal). Same determinism recipe: probabilities are
    integer ratios, log2 is taken ONCE per bigram type and rounded,
    per-doc sums ride DECIMAL. The bigram table is vocab²-bounded and
    the doc-side join hits it on (w1, w2) — one shuffle each side."""
    from wikipedia_data_pipeline_spark.operators.text import ngrams

    docs = load_table(spark, sf_dir, "documents")
    bg = ngrams(docs, n=2).select(
        "doc_id",
        F.split_part(F.col("ngram"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("ngram"), F.lit(" "), F.lit(2)).alias("w2"),
    )
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uc = bc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vsz = bc.agg(F.countDistinct("w2").alias("v"))
    probs = (
        bc.join(uc, "w1")
        .crossJoin(F.broadcast(vsz))
        .select(
            "w1",
            "w2",
            F.round(
                F.log2(
                    (F.col("c1") + F.col("v")).cast("double")
                    / (F.col("c12") + 1)
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("surp"),
        )
    )
    return (
        bg.join(probs, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("surp").alias("surp_dec"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                F.col("surp_dec").cast("double") / F.col("n_bigrams"), 6
            ).alias("bits_per_bigram"),
        )
    )


# --- Corpus-statistics diagnostics: Zipf fit, Heaps growth (round 5) ----

@register(
    "corpus_zipf_fit",
    oracle=f"""
WITH {TOKS_CTE},
counts AS (SELECT word, count(*) AS n FROM toks GROUP BY word),
ranked AS (
  SELECT word, n,
         row_number() OVER (ORDER BY n DESC, word ASC) AS rnk
  FROM counts
),
pts AS (
  SELECT rnk, n,
         CAST(round(log2(CAST(rnk AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
         CAST(round(log2(CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
  FROM ranked
),
s AS (
  SELECT count(*) AS m,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), 6)
                       AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 6)
                       AS DECIMAL(18,6))) AS DOUBLE) AS sxx
  FROM pts
)
SELECT m AS n_vocab,
       round((m * sxy - sx * sy) / (m * sxx - sx * sx), 6) AS zipf_slope
FROM s
""",
)
def corpus_zipf_fit(spark, sf_dir):
    """Zipf rank-frequency diagnostic: least-squares slope of
    log2(count) against log2(rank) over the vocabulary (natural text ≈
    −1; token spam, boilerplate floods, and truncated corpora all bend
    it — a one-number corpus health check). Determinism recipe as
    everywhere: logs and products are computed once per VOCAB entry and
    rounded, the regression moments are decimal sums, and the final
    slope is one IEEE expression over exact moments. The rank is
    assigned over the vocab relation (corpus-bounded dictionary, not
    the corpus) with ``operators.ranks.ordered_scan`` — web-scale
    vocabularies run to 1e8+ n-grams, so even the dictionary must not
    flow through a single-partition rank window."""
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan
    from wikipedia_data_pipeline_spark.operators.text import tokenize

    toks = tokenize(load_table(spark, sf_dir, "documents"))
    counts = toks.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    ranked = ordered_scan(
        counts, [F.desc("n"), F.asc("word")], rank_col="rnk"
    )
    dec = "decimal(18,6)"
    pts = ranked.select(
        F.round(F.log2(F.col("rnk").cast("double")), 6).cast(dec).alias("x"),
        F.round(F.log2(F.col("n").cast("double")), 6).cast(dec).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(
            F.round(F.col("x").cast("double") * F.col("y").cast("double"), 6).cast(dec)
        )
        .cast("double")
        .alias("sxy"),
        F.sum(
            F.round(F.col("x").cast("double") * F.col("x").cast("double"), 6).cast(dec)
        )
        .cast("double")
        .alias("sxx"),
    )
    return s.select(
        F.col("m").alias("n_vocab"),
        F.round(
            (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("zipf_slope"),
    )


@register(
    "corpus_heaps_growth",
    oracle=f"""
WITH {TOKS_CTE},
first_doc AS (SELECT word, min(doc_id) AS doc_id FROM toks GROUP BY word),
new_words AS (SELECT doc_id, count(*) AS n_new FROM first_doc GROUP BY doc_id),
docs AS (SELECT DISTINCT doc_id FROM toks)
SELECT d.doc_id, COALESCE(n_new, 0) AS n_new_words,
       CAST(sum(COALESCE(n_new, 0)) OVER (ORDER BY d.doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS vocab_size
FROM docs d LEFT JOIN new_words n ON d.doc_id = n.doc_id
ORDER BY d.doc_id
""",
)
def corpus_heaps_growth(spark, sf_dir):
    """Heaps'-law vocabulary growth: distinct-word count as the corpus
    accumulates in doc_id order. Computed without any cumulative
    distinct state: each word charges its FIRST document (a min
    aggregate on the word key — the only data-sized shuffle), and the
    curve is a running sum over the doc-sized relation — via
    ``operators.ranks.ordered_scan``, because |docs| at 100 TB is
    billions and an unpartitioned running-sum window would serialize
    the corpus spine through one task. Sub-linear growth is healthy
    text; near-linear growth means unique-token spam (ids, hashes)
    inflating the vocabulary."""
    from wikipedia_data_pipeline_spark.operators.ranks import ordered_scan
    from wikipedia_data_pipeline_spark.operators.text import tokenize

    toks = tokenize(load_table(spark, sf_dir, "documents"))
    first_doc = toks.groupBy("word").agg(F.min("doc_id").alias("doc_id"))
    new_words = first_doc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_new")
    )
    docs = toks.select("doc_id").distinct()
    spine = docs.join(new_words, "doc_id", "left").select(
        "doc_id", F.coalesce("n_new", F.lit(0)).alias("n_new_words")
    )
    return (
        ordered_scan(
            spine,
            ["doc_id"],
            running=[("vocab_size", "n_new_words", "sum")],
        )
        .select(
            "doc_id",
            "n_new_words",
            F.col("vocab_size").cast("long").alias("vocab_size"),
        )
        .orderBy("doc_id")
    )


@register(
    "corpus_drift_tokens",
    oracle=f"""
WITH {TOKS_CTE},
half AS (
  SELECT word, CASE WHEN doc_id < 250 THEN 'a' ELSE 'b' END AS h FROM toks
),
c AS (
  SELECT word,
         CAST(sum(CASE WHEN h = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN h = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM half GROUP BY word
),
tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb FROM c)
SELECT word, n_a, n_b,
       abs(CAST(n_a AS DOUBLE) / ta - CAST(n_b AS DOUBLE) / tb) AS share_gap
FROM c, tot
ORDER BY share_gap DESC, word ASC
LIMIT 20
""",
)
def corpus_drift_tokens(spark, sf_dir):
    """Token-distribution drift between two corpus slices (here: first
    vs second half of the doc_id range — in production, yesterday's
    crawl vs today's): per-word share gap, top offenders first. The
    drift monitor a continuously-fed training pipeline runs before a
    new slice is admitted; one conditional aggregate over the token
    stream plus a 1-row totals broadcast, TakeOrdered top-k. Counts are
    integers and each share is a single IEEE division, so the report is
    bit-portable."""
    from wikipedia_data_pipeline_spark.operators.text import tokenize

    toks = tokenize(load_table(spark, sf_dir, "documents"))
    c = toks.groupBy("word").agg(
        F.sum(F.when(F.col("doc_id") < 250, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("doc_id") >= 250, 1).otherwise(0)).alias("n_b"),
    )
    tot = c.agg(
        F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb")
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "word",
            "n_a",
            "n_b",
            F.abs(
                F.col("n_a").cast("double") / F.col("ta")
                - F.col("n_b").cast("double") / F.col("tb")
            ).alias("share_gap"),
        )
        .orderBy(F.desc("share_gap"), F.asc("word"))
        .limit(20)
    )


# --- BM25 ranked search + fixed-depth BFS (round 5) ---------------------

@register(
    "text_readability_scores",
    oracle="""
WITH t AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_words,
         greatest(len(regexp_split_to_array(text, '[.!?]+')) - 1, 1)
           AS n_sentences,
         len(regexp_split_to_array(lower(text), '[aeiouy]+')) - 1
           AS n_vowel_groups
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_vowel_groups,
       CAST(n_words AS DOUBLE) / n_sentences AS words_per_sentence,
       CAST(n_vowel_groups AS DOUBLE) / n_words AS syllables_per_word
FROM t
""",
)
def text_readability_scores(spark, sf_dir):
    """Flesch-style readability inputs: words per sentence and a
    vowel-group syllable proxy per word — the complexity gate that
    complements the length/stopword quality scores (legalese and
    machine-generated run-ons fail words-per-sentence long before they
    fail length filters). Pure regex counting, one narrow map; counts
    are integers and each ratio one exact IEEE division."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.col("text"), " "))
    n_sentences = F.greatest(
        F.size(F.split(F.col("text"), "[.!?]+")) - 1, F.lit(1)
    )
    n_vowels = F.size(F.split(F.lower(F.col("text")), "[aeiouy]+")) - 1
    t = docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_sentences.cast("long").alias("n_sentences"),
        n_vowels.cast("long").alias("n_vowel_groups"),
    )
    return t.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_vowel_groups",
        (F.col("n_words").cast("double") / F.col("n_sentences")).alias(
            "words_per_sentence"
        ),
        (F.col("n_vowel_groups").cast("double") / F.col("n_words")).alias(
            "syllables_per_word"
        ),
    )


# ---------------------------------------------------------------------------
# Cross-language vocabulary overlap
# ---------------------------------------------------------------------------

_VOCABJ_ORACLE = """
WITH v AS (
  SELECT DISTINCT lang, lower(w) AS w
  FROM documents, unnest(string_split(text, ' ')) AS u(w)
  WHERE len(w) > 0
),
sizes AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_words FROM v GROUP BY lang),
inter AS (
  SELECT a.lang AS lang_a, b.lang AS lang_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM v a JOIN v b ON a.w = b.w AND a.lang < b.lang
  GROUP BY a.lang, b.lang
)
SELECT lang_a, lang_b, n_common,
       sa.n_words AS n_words_a, sb.n_words AS n_words_b,
       CAST(n_common AS DOUBLE)
         / CAST(sa.n_words + sb.n_words - n_common AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON lang_a = sa.lang
JOIN sizes sb ON lang_b = sb.lang
"""


@register("documents_vocab_overlap_langs", oracle=_VOCABJ_ORACLE)
def documents_vocab_overlap_langs(spark, sf_dir):
    """Vocabulary Jaccard between language slices of the corpus — the
    contamination/quality probe for the language gate: high overlap
    between two "languages" means the lang labels are unreliable (or
    the corpus is code-switched), and that langid-dependent curation
    (stratified sampling, per-lang quotas) is built on sand.

    Distinct (lang, word) vocabularies collapse the corpus once;
    intersections come from the word-keyed equi-join of that collapsed
    relation (shuffle on word — the scale-safe key: join fan-out is
    bounded by words shared across languages, and the |langs|²-row
    result joins back to broadcast sizes). Integer counts → one double
    ratio.
    """
    d = load_table(spark, sf_dir, "documents")
    v = (
        d.select(
            "lang",
            F.explode(F.split(F.col("text"), " ")).alias("w"),
        )
        .filter(F.length("w") > 0)
        .select("lang", F.lower(F.col("w")).alias("w"))
        .distinct()
    )
    sizes = v.groupBy("lang").agg(F.count(F.lit(1)).alias("n_words"))
    a = v.select(F.col("lang").alias("lang_a"), "w")
    b = v.select(F.col("lang").alias("lang_b"), "w")
    inter = (
        a.join(b, ["w"])
        .filter(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col("lang").alias("lang_a"), F.col("n_words").alias("n_words_a")
    )
    sb = sizes.select(
        F.col("lang").alias("lang_b"), F.col("n_words").alias("n_words_b")
    )
    return (
        inter.join(F.broadcast(sa), "lang_a")
        .join(F.broadcast(sb), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            "n_common",
            "n_words_a",
            "n_words_b",
            (
                F.col("n_common").cast("double")
                / (
                    F.col("n_words_a")
                    + F.col("n_words_b")
                    - F.col("n_common")
                ).cast("double")
            ).alias("jaccard"),
        )
    )


@register(
    "text_distinct_ngrams",
    oracle="""
WITH t AS (
  SELECT lang,
         list_filter(list_transform(string_split(text, ' '),
                     x -> lower(regexp_replace(x, '[^a-zA-Z]', '', 'g'))),
                     w -> length(w) > 0) AS ws
  FROM documents
),
uni AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT w) AS BIGINT) AS n_distinct_tokens
  FROM t, unnest(ws) AS u(w) GROUP BY lang
),
bi AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(count(DISTINCT ws[g] || ' ' || ws[g+1]) AS BIGINT)
           AS n_distinct_bigrams
  FROM t, unnest(generate_series(1, len(ws) - 1)) AS u(g)
  GROUP BY lang
)
SELECT lang, n_tokens, n_distinct_tokens, n_bigrams, n_distinct_bigrams,
       CAST(n_distinct_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         AS distinct1,
       CAST(n_distinct_bigrams AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
         AS distinct2
FROM uni JOIN bi USING (lang)
""",
)
def text_distinct_ngrams(spark, sf_dir):
    """Distinct-n lexical diversity per language slice — the distinct-1
    / distinct-2 metrics (Li et al. 2016) that flag degenerate,
    repetitive text: a model (or a scraped source) collapsing onto
    stock phrases shows a normal distinct-1 but a cratered distinct-2.
    Run per corpus slice it is the generation-diversity / template-spam
    companion to the compression-ratio and repetition gates.

    Exact BIGINT numerators and denominators (two two-phase
    count-distinct aggregates); the two ratios are single fixed-order
    double divisions. Scale shape: tokenize -> (lang, word) partial
    distinct agg; bigram explode -> (lang, ngram) partial distinct agg;
    final join on the handful of language rows. The distinct shuffles
    key on (lang, gram) — vocabulary-sized, never document-bound."""
    from wikipedia_data_pipeline_spark.operators.text import ngrams, tokenize

    docs = load_table(spark, sf_dir, "documents")
    uni = (
        tokenize(docs, id_col="lang")
        .groupBy(F.col("doc_id").alias("lang"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.countDistinct("word").cast("long").alias("n_distinct_tokens"),
        )
    )
    bi = (
        ngrams(docs, n=2, id_col="lang")
        .groupBy(F.col("doc_id").alias("lang"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.countDistinct("ngram").cast("long").alias("n_distinct_bigrams"),
        )
    )
    return uni.join(bi, "lang").select(
        "lang",
        "n_tokens",
        "n_distinct_tokens",
        "n_bigrams",
        "n_distinct_bigrams",
        (
            F.col("n_distinct_tokens").cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("distinct1"),
        (
            F.col("n_distinct_bigrams").cast("double")
            / F.col("n_bigrams").cast("double")
        ).alias("distinct2"),
    )


_WINNOW_ORACLE = """
WITH t AS (
  SELECT doc_id, lang,
         list_filter(list_transform(string_split(text, ' '),
                     x -> lower(regexp_replace(x, '[^a-zA-Z]', '', 'g'))),
                     x -> length(x) > 0) AS ws
  FROM documents
),
wh AS (
  SELECT doc_id, lang,
         list_transform(ws, w ->
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(1, length(w) + 1),
                            i -> CAST(ascii(substr(w, i, 1)) AS BIGINT))),
             (acc, x) -> (acc * 131 + x) % 2147483647)) AS whs
  FROM t
),
h AS (
  SELECT doc_id, lang,
         list_transform(range(1, greatest(len(whs) - 2, 1)),
           p -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_slice(whs, p, p + 3)),
                (acc, x) -> (acc * 131 + x) % 2147483647)) AS hs
  FROM wh
),
f AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(range(1, greatest(len(hs) - 3, 1)),
           q -> list_aggregate(list_slice(hs, q, q + 4), 'min'))) AS fps
  FROM h
),
e AS (SELECT lang, CAST(fp AS BIGINT) AS fingerprint
      FROM f, unnest(fps) AS u(fp)),
g AS (
  SELECT lang, fingerprint, CAST(count(*) AS BIGINT) AS nd
  FROM e GROUP BY 1, 2
)
SELECT lang,
       CAST(sum(nd) AS BIGINT) AS n_fingerprints,
       CAST(count(*) AS BIGINT) AS n_distinct_fingerprints,
       CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared_fingerprints,
       CAST(max(nd) AS BIGINT) AS max_fp_doc_count,
       CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS sharing_rate
FROM g GROUP BY lang
"""


@register("text_winnowing_shared_fingerprints", oracle=_WINNOW_ORACLE)
def text_winnowing_shared_fingerprints(spark, sf_dir):
    """Corpus boilerplate audit via MOSS winnowing fingerprints
    (operators/textstats.winnow_fingerprints: k=4-word grams, w=5
    window, two-level char->word->gram polynomial hash base 131 mod
    2^31-1): per language slice,
    how many winnowed fingerprints exist, how many distinct, how many
    are SHARED by >= 2 documents, and the worst fingerprint's document
    count. A rising sharing_rate is the canary for mirrored/templated
    text that exact-dedup misses — winnowing guarantees any shared run
    of >= w + k - 1 = 8 tokens surfaces at least one shared
    fingerprint, at ~2/(w+1) the index size of full shingling.

    Exact: fingerprints are integers both engines derive with the same
    integer polynomial; counts are BIGINT hash aggregates; the one
    ratio is a single fixed-order double division. Scale shape:
    codegen array math per document -> explode (~G/w rows/doc) ->
    (lang, fingerprint) hash agg -> per-lang rollup. No windows over
    the corpus, no joins, nothing all-pairs."""
    from wikipedia_data_pipeline_spark.operators.textstats import (
        winnow_fingerprints,
    )

    docs = load_table(spark, sf_dir, "documents")
    g = (
        winnow_fingerprints(docs, k=4, w=5, keep_cols=("lang",))
        .groupBy("lang", "fingerprint")
        .agg(F.count(F.lit(1)).cast("long").alias("nd"))
    )
    return g.groupBy("lang").agg(
        F.sum("nd").cast("long").alias("n_fingerprints"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_fingerprints"),
        F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_shared_fingerprints"),
        F.max("nd").cast("long").alias("max_fp_doc_count"),
        (
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("sharing_rate"),
    )


_CHAO1_ORACLE = """
WITH w AS (
  SELECT lang, lower(regexp_replace(x, '[^a-zA-Z]', '', 'g')) AS word
  FROM documents, unnest(string_split(text, ' ')) AS u(x)
),
c AS (
  SELECT lang, word, CAST(count(*) AS BIGINT) AS cnt
  FROM w WHERE length(word) > 0 GROUP BY 1, 2
),
a AS (
  SELECT lang,
         CAST(sum(cnt) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS d_observed,
         CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM c GROUP BY lang
)
SELECT lang, n_tokens, d_observed, f1, f2,
       CAST(d_observed AS DOUBLE)
         + CAST(f1 * (f1 - 1) AS DOUBLE) / CAST(2 * (f2 + 1) AS DOUBLE)
         AS chao1_richness,
       1.0 - CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         AS good_turing_coverage
FROM a
"""


@register("corpus_chao1_richness", oracle=_CHAO1_ORACLE)
def corpus_chao1_richness(spark, sf_dir):
    """Vocabulary-richness and corpus-coverage estimation per language:
    Chao1 (bias-corrected: D + f1(f1-1)/(2(f2+1))) estimates how many
    word types the corpus WOULD contain at infinite size from the
    hapax/dis-legomena counts, and Good-Turing coverage (1 - f1/N)
    estimates the probability mass of already-seen words — the "is
    more crawling worth it" readout for a training-data corpus, and
    the companion to the Heaps-law growth fit.

    Exact: f1/f2/D/N are BIGINT hash-aggregate counts; chao1's
    numerator f1(f1-1) and denominator 2(f2+1) are exact integers, so
    the two double divisions are single fixed-order operations both
    engines share. Scale shape: tokenize -> (lang, word) hash agg
    (vocabulary-sized, map-side combinable) -> per-lang rollup."""
    from wikipedia_data_pipeline_spark.operators.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    c = (
        tokenize(docs, id_col="lang")
        .groupBy(F.col("doc_id").alias("lang"), "word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    a = c.groupBy("lang").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("d_observed"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
        .cast("long")
        .alias("f1"),
        F.sum(F.when(F.col("cnt") == 2, 1).otherwise(0))
        .cast("long")
        .alias("f2"),
    )
    return a.select(
        "lang",
        "n_tokens",
        "d_observed",
        "f1",
        "f2",
        (
            F.col("d_observed").cast("double")
            + (F.col("f1") * (F.col("f1") - 1)).cast("double")
            / (F.lit(2) * (F.col("f2") + 1)).cast("double")
        ).alias("chao1_richness"),
        (
            F.lit(1.0)
            - F.col("f1").cast("double") / F.col("n_tokens").cast("double")
        ).alias("good_turing_coverage"),
    )


_YULE_ORACLE = """
WITH w AS (
  SELECT lang, lower(regexp_replace(x, '[^a-zA-Z]', '', 'g')) AS word
  FROM documents, unnest(string_split(text, ' ')) AS u(x)
),
f AS (
  SELECT lang, word, CAST(count(*) AS BIGINT) AS m
  FROM w WHERE length(word) > 0 GROUP BY lang, word
),
s AS (
  SELECT lang,
         CAST(sum(m) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(m * m) AS BIGINT) AS sum_m2,
         CAST(sum(m * (m - 1)) AS BIGINT) AS sum_mm1
  FROM f GROUP BY lang
)
SELECT lang, n_tokens, n_types,
       10000.0 * CAST(sum_m2 - n_tokens AS DOUBLE)
         / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)) AS yule_k,
       CAST(sum_mm1 AS DOUBLE)
         / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens - 1 AS DOUBLE))
         AS simpson_d
FROM s
"""


@register("text_yule_k_diversity", oracle=_YULE_ORACLE)
def text_yule_k_diversity(spark, sf_dir):
    """Lexical diversity per language: Yule's K (Yule 1944, 'The
    Statistical Study of Literary Vocabulary') and Simpson's D
    repeat-rate over the token frequency spectrum — the
    length-insensitive repetitiveness diagnostics a curation pipeline
    uses to flag template/boilerplate-heavy corpus slices (high K)
    next to Chao1 (coverage) and Heaps (growth), which measure the
    opposite tail.

    K = 10^4 · (Σ m²·V(m) − N) / N² and D = Σ m(m−1) / (N(N−1)) both
    derive from the same per-type frequency relation; every moment is
    an exact BIGINT (Σm, Σm², Σm(m−1) over the type histogram), so
    the only doubles are the two final divisions — bit-identical in
    both engines.

    Scale shape: tokenize → (lang, word) hash-agg with map-side
    combine (the only wide exchange carries the TYPE relation, not
    tokens) → |langs|-row moment agg. No windows, no UDFs, no sort.
    """
    from wikipedia_data_pipeline_spark.operators.text import normalize_word
    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    docs = load_table(spark, sf_dir, "documents")
    w = (
        fan_out(docs)
        .select("lang", F.explode(F.split("text", " ")).alias("raw"))
        .select("lang", normalize_word(F.col("raw")).alias("word"))
        .filter(F.length("word") > 0)
    )
    f = w.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("m"))
    s = f.groupBy("lang").agg(
        F.sum("m").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("m") * F.col("m")).cast("long").alias("sum_m2"),
        F.sum(F.col("m") * (F.col("m") - 1)).cast("long").alias("sum_mm1"),
    )
    n = F.col("n_tokens").cast("double")
    return s.select(
        "lang",
        "n_tokens",
        "n_types",
        (
            10000.0 * (F.col("sum_m2") - F.col("n_tokens")).cast("double")
            / (n * n)
        ).alias("yule_k"),
        (
            F.col("sum_mm1").cast("double")
            / (n * (F.col("n_tokens") - 1).cast("double"))
        ).alias("simpson_d"),
    )


# ---------------------------------------------------------------------------
# DSIR importance weights (hashed n-gram importance resampling, round 10)
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# n-gram novelty rate across the train/test hash split (round 12)
# ---------------------------------------------------------------------------

_NOVELTY_SPLIT_SQL = SQL_DET_HASH.format(col="doc_id")

_NOVELTY_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, ' '),
           x -> lower(regexp_replace(x, '[^a-zA-Z]', '', 'g'))),
           w -> length(w) > 0) AS toks,
         ({_NOVELTY_SPLIT_SQL}) % 10 < 8 AS is_train
  FROM documents
),
g AS (
  SELECT 1 AS n, unnest(toks) AS gram, is_train FROM t
  UNION ALL
  SELECT 2 AS n, toks[i] || ' ' || toks[i + 1] AS gram, is_train
  FROM (SELECT toks, is_train,
               unnest(range(1, greatest(len(toks), 1))) AS i
        FROM t)
),
d AS (
  SELECT n, gram,
         max(CASE WHEN is_train THEN 1 ELSE 0 END) AS in_train,
         max(CASE WHEN is_train THEN 0 ELSE 1 END) AS in_test
  FROM g GROUP BY n, gram
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(sum(in_test) AS BIGINT) AS n_test_distinct,
       CAST(sum(CASE WHEN in_test = 1 AND in_train = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(sum(CASE WHEN in_test = 1 AND in_train = 0
                THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(sum(in_test) AS DOUBLE) AS novelty_rate
FROM d GROUP BY n ORDER BY n
"""


@register("text_ngram_novelty_rate", oracle=_NOVELTY_ORACLE)
def text_ngram_novelty_rate(spark, sf_dir):
    """n-gram novelty of the held-out split against the train split
    (n = 1, 2): the fraction of distinct test n-grams never seen in
    training — the memorization-vs-novelty scorecard generation evals
    report (high novelty = the eval set actually probes generalization;
    near-zero = contaminated, see `text_decontaminate` for the fix).
    Split is the engine's deterministic 80/20 doc-id hash.

    Scale shape: grams ride as 8-byte xxhash64 fingerprints (the
    ml_eval_bleu_corpus trick — presence only needs equality), ONE
    explode feeds ONE (n, gram) hash agg carrying train/test presence
    flags as max()-combinable bits — no distinct-set anti-join, no
    second scan. Exact oracle: same construction over gram STRINGS
    (counts are hash-invariant under equality)."""
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash
    from wikipedia_data_pipeline_spark.operators.text import token_array
    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = token_array()
    d = docs.select(
        toks.alias("toks"),
        (det_hash("doc_id") % 10 < 8).alias("is_train"),
    )
    uni = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("toks"), F.lit(0))),
        lambda i: F.struct(
            F.lit(1).alias("n"),
            F.xxhash64(F.element_at(F.col("toks"), i.cast("int"))).alias(
                "g"
            ),
        ),
    )
    bi = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("toks") - 1, F.lit(0))),
        lambda i: F.struct(
            F.lit(2).alias("n"),
            F.xxhash64(
                F.element_at(F.col("toks"), i.cast("int")),
                F.element_at(F.col("toks"), (i + 1).cast("int")),
            ).alias("g"),
        ),
    )
    ex = d.select(
        "is_train", F.explode(F.concat(uni, bi)).alias("s")
    ).select("is_train", F.col("s.n").alias("n"), F.col("s.g").alias("g"))
    dist = ex.groupBy("n", "g").agg(
        F.max(F.when(F.col("is_train"), 1).otherwise(0)).alias("in_train"),
        F.max(F.when(F.col("is_train"), 0).otherwise(1)).alias("in_test"),
    )
    novel = F.when(
        (F.col("in_test") == 1) & (F.col("in_train") == 0), 1
    ).otherwise(0)
    return (
        dist.groupBy(F.col("n").cast("long").alias("n"))
        .agg(
            F.sum("in_test").cast("long").alias("n_test_distinct"),
            F.sum(novel).cast("long").alias("n_novel"),
            (
                F.sum(novel).cast("double")
                / F.sum("in_test").cast("double")
            ).alias("novelty_rate"),
        )
        .orderBy("n")
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence matrix between source unigram distributions
# ---------------------------------------------------------------------------
# The mixture-design statistic: how far apart are the sources' token
# distributions? JS(a,b) = 0.5*KL(p_a || m) + 0.5*KL(p_b || m) with
# m = (p_a + p_b)/2 — symmetric, finite even on disjoint support
# (unlike the KL screens in statsdrift), bounded by ln 2. One word
# count agg per source; each (pair, word) contribution enumerates via
# a bounded source-pair fan-out (never a vocab self-join); terms are
# fixed double expressions nano-quantized to BIGINT before the
# fact-sized DECIMAL re-sum (the AD/CvM discipline — the vocabulary
# relation is Heaps-bounded but not driver-sized at 100 TB).

# Per-(source pair, word) counts: each word's count in both sources of
# every pair, with the pair's token totals, enumerated by a bounded
# source-pair fan-out (never a vocab self-join). Shared with the
# Hellinger distance (textprofile_queries).
SOURCE_PAIR_COUNTS_CTES = """
wc AS (
  SELECT source, x AS word, CAST(count(*) AS BIGINT) AS n
  FROM documents, unnest(string_split(text, ' ')) AS u(x)
  GROUP BY 1, 2
),
tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_s FROM wc GROUP BY 1),
pairs AS (
  SELECT a.source AS sa, a.n_s AS na_tot, b.source AS sb, b.n_s AS nb_tot
  FROM tot a JOIN tot b ON a.source < b.source
),
contrib AS (
  SELECT p.sa, p.sb, p.na_tot, p.nb_tot, w.word,
         CAST(sum(CASE WHEN w.source = p.sa THEN w.n ELSE 0 END)
              AS BIGINT) AS na,
         CAST(sum(CASE WHEN w.source = p.sb THEN w.n ELSE 0 END)
              AS BIGINT) AS nb
  FROM wc w JOIN pairs p ON w.source IN (p.sa, p.sb)
  GROUP BY 1, 2, 3, 4, 5
)"""


def source_pair_counts(spark, sf_dir):
    """(sa, sb, na_tot, nb_tot, word, na, nb): the Spark side of
    ``SOURCE_PAIR_COUNTS_CTES``."""
    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    wc = (
        docs.select("source", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = wc.groupBy("source").agg(F.sum("n").cast("long").alias("n_s"))
    a, b = tot.alias("a"), tot.alias("b")
    pairs = a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("sa"),
        F.col("a.n_s").alias("na_tot"),
        F.col("b.source").alias("sb"),
        F.col("b.n_s").alias("nb_tot"),
    )
    return (
        wc.join(
            F.broadcast(pairs),
            (F.col("source") == F.col("sa")) | (F.col("source") == F.col("sb")),
        )
        .groupBy("sa", "sb", "na_tot", "nb_tot", "word")
        .agg(
            F.sum(F.when(F.col("source") == F.col("sa"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("na"),
            F.sum(F.when(F.col("source") == F.col("sb"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("nb"),
        )
    )


_JS_ORACLE = f"""
WITH {SOURCE_PAIR_COUNTS_CTES},
terms AS (
  SELECT sa, sb,
         CAST(round(1e9 * (
           0.5 * (CASE WHEN na > 0 THEN (CAST(na AS DOUBLE) / na_tot)
             * ln((CAST(na AS DOUBLE) / na_tot)
                  / ((CAST(na AS DOUBLE) / na_tot
                      + CAST(nb AS DOUBLE) / nb_tot) / 2)) ELSE 0 END)
           + 0.5 * (CASE WHEN nb > 0 THEN (CAST(nb AS DOUBLE) / nb_tot)
             * ln((CAST(nb AS DOUBLE) / nb_tot)
                  / ((CAST(na AS DOUBLE) / na_tot
                      + CAST(nb AS DOUBLE) / nb_tot) / 2)) ELSE 0 END)
         )) AS BIGINT) AS t_nano
  FROM contrib
)
SELECT sa AS source_a, sb AS source_b,
       CAST(sum(CAST(t_nano AS DECIMAL(38,0))) AS DOUBLE) / 1e9
         AS js_nats
FROM terms GROUP BY 1, 2
"""


@register("text_js_divergence_sources", oracle=_JS_ORACLE)
def text_js_divergence_sources(spark, sf_dir):
    """Pairwise Jensen-Shannon divergence between every two sources'
    unigram distributions — the symmetric, always-finite distance a
    mixture designer reads before weighting sources. See the section
    comment for the bounded-fan-out + nano-quantized-sum construction."""
    contrib = source_pair_counts(spark, sf_dir)
    pa = F.col("na").cast("double") / F.col("na_tot")
    pb = F.col("nb").cast("double") / F.col("nb_tot")
    m = (pa + pb) / 2
    term = (
        0.5 * F.when(F.col("na") > 0, pa * F.log(pa / m)).otherwise(0.0)
        + 0.5 * F.when(F.col("nb") > 0, pb * F.log(pb / m)).otherwise(0.0)
    )
    terms = contrib.select(
        "sa",
        "sb",
        F.round(1e9 * term).cast("long").alias("t_nano"),
    )
    return (
        terms.groupBy("sa", "sb")
        .agg(
            (
                F.sum(F.col("t_nano").cast("decimal(38,0)")).cast("double")
                / 1e9
            ).alias("js_nats")
        )
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "js_nats",
        )
    )


# ---------------------------------------------------------------------------
# Per-word burstiness: variance-to-mean of per-document counts
# ---------------------------------------------------------------------------
# Church-Gale: content words are BURSTY (a word that appears once in a
# document tends to appear again — VMR >> 1), function words are
# Poisson-like (VMR ~ 1). The per-word VMR over per-document counts,
# INCLUDING the zero-count documents (handled in closed form: only
# sufficient statistics over the nonzero postings are ever
# materialized, so the zero rows never exist):
#   mean = S/D,  var = (Q - S^2/D) / D   (population, D = corpus docs)
#   vmr  = var/mean = (D*Q - S^2) / (D*S)
# with S = sum of counts, Q = sum of squared counts — all exact
# DECIMAL integers, one final double division per word. Reported for
# words with document frequency >= 5 to keep the statistic meaningful.

_WBURST_ORACLE = """
WITH tok AS (
  SELECT doc_id, x AS word FROM documents, unnest(string_split(text, ' ')) AS u(x)
),
per_doc AS (
  SELECT word, doc_id, CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY 1, 2
),
d AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
w AS (
  SELECT word,
         CAST(count(*) AS BIGINT) AS df,
         CAST(sum(c) AS DECIMAL(38,0)) AS s,
         CAST(sum(CAST(c AS DECIMAL(18,0)) * c) AS DECIMAL(38,0)) AS q
  FROM per_doc GROUP BY 1 HAVING count(*) >= 5
)
SELECT word, df, CAST(s AS BIGINT) AS n_occurrences,
       CAST(CAST(n_docs AS DECIMAL(18,0)) * q - s * s AS DOUBLE)
         / CAST(CAST(n_docs AS DECIMAL(18,0)) * s AS DOUBLE) AS vmr
FROM w CROSS JOIN d
"""


@register("text_word_burstiness", oracle=_WBURST_ORACLE)
def text_word_burstiness(spark, sf_dir):
    """Church-Gale word burstiness: per-word variance-to-mean ratio of
    per-document counts (zero-count docs folded in closed form), for
    words in >= 5 documents. VMR >> 1 = bursty content word, ~1 =
    Poisson-like function word — the screen that separates topical
    vocabulary from glue. See the section comment.

    Scale shape: one (word, doc) hash agg over the postings, one
    per-word moment agg, a broadcast 1-row doc count — never a
    doc-level pivot or a zero-filled matrix."""
    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    docs = load_table(spark, sf_dir, "documents")
    tok = fan_out(docs).select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    per_doc = tok.groupBy("word", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    d = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    dec = "decimal(18,0)"
    w = (
        per_doc.groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("c").cast("decimal(38,0)").alias("s"),
            F.sum(F.col("c").cast(dec) * F.col("c"))
            .cast("decimal(38,0)")
            .alias("q"),
        )
        .filter(F.col("df") >= 5)
    )
    nd = F.col("n_docs").cast(dec)
    return w.crossJoin(F.broadcast(d)).select(
        "word",
        "df",
        F.col("s").cast("long").alias("n_occurrences"),
        (
            (nd * F.col("q") - F.col("s") * F.col("s")).cast("double")
            / (nd * F.col("s")).cast("double")
        ).alias("vmr"),
    )
