"""TF-IDF family — the reference's Task 1 + Task 3 surface (SURVEY.md §2).

Each query pairs the Spark operator (operators.tfidf / operators.text)
with a DuckDB oracle that restates the same semantics in ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.functions import round2
from wikipedia_data_pipeline_spark.operators import tfidf as T
from wikipedia_data_pipeline_spark.operators.text import tokenize
from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table

# Shared DuckDB CTE: tokenize + normalize + drop empties (P2-P4).
TOKS_CTE = """
toks AS (
    SELECT doc_id,
           lower(regexp_replace(tok, '[^a-zA-Z]', '', 'g')) AS word
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    WHERE length(lower(regexp_replace(tok, '[^a-zA-Z]', '', 'g'))) > 0
)
"""

DOC_TF_CTES = f"""
{TOKS_CTE},
counts AS (
    SELECT doc_id, word, count(*) AS count
    FROM toks GROUP BY doc_id, word
),
capped AS (
    SELECT doc_id, word, count
    FROM (SELECT doc_id, word, count,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY count DESC, word ASC) AS rn
          FROM counts)
    WHERE rn <= {T.PER_DOC_VOCAB_CAP}
),
denom AS (
    SELECT doc_id, len(string_split(text, ' '))::BIGINT AS raw_token_count
    FROM documents
),
doc_tf AS (
    SELECT c.doc_id, c.word, c.count,
           round(c.count / d.raw_token_count, 2) AS tf
    FROM capped c JOIN denom d ON c.doc_id = d.doc_id
    WHERE round(c.count / d.raw_token_count, 2) > 0
)
"""

# Shared DuckDB CTEs: document frequency -> idf = round(log10(N/df), 2),
# kept when > 0, over the ``toks`` CTE.
IDF_OF_TOKS_CTES = """
dfreq AS (
    SELECT word, count(*) AS df
    FROM (SELECT DISTINCT doc_id, word FROM toks) GROUP BY word
),
ndocs AS (SELECT count(*) AS n_docs FROM documents),
idf AS (
    SELECT word, round(log10(CAST(n_docs AS DOUBLE) / df), 2) AS idf
    FROM dfreq, ndocs
    WHERE round(log10(CAST(n_docs AS DOUBLE) / df), 2) > 0
)"""

IDF_CTES = f"""
{TOKS_CTE},
{IDF_OF_TOKS_CTES}
"""


@register(
    "doc_tokens",
    oracle=f"WITH {TOKS_CTE} SELECT doc_id, word FROM toks",
)
def doc_tokens(spark, sf_dir):
    """P1-P4: tokenize + normalize + non-empty filter."""
    return tokenize(load_table(spark, sf_dir, "documents"))


@register(
    "doc_term_counts",
    oracle=f"""
WITH {TOKS_CTE}
SELECT doc_id, word, count(*) AS count FROM toks GROUP BY doc_id, word
""",
)
def doc_term_counts(spark, sf_dir):
    """A2: per-document hash-agg word counts."""
    return T.doc_term_counts(load_table(spark, sf_dir, "documents"))


@register(
    "doc_tf",
    oracle=f"WITH {DOC_TF_CTES} SELECT doc_id, word, count, tf FROM doc_tf",
)
def doc_tf(spark, sf_dir):
    """W2 + TF formula + P5: per-doc top-K, raw-token denominator, tf>0."""
    return T.doc_tf(load_table(spark, sf_dir, "documents"))


@register(
    "idf",
    oracle=f"WITH {IDF_CTES} SELECT word, idf FROM idf",
)
def idf(spark, sf_dir):
    """A3 + IDF formula + P6: document frequency → log10(N/df)."""
    return T.idf(load_table(spark, sf_dir, "documents"))


@register(
    "tfidf_full",
    oracle=f"""
WITH {DOC_TF_CTES},
{IDF_OF_TOKS_CTES}
SELECT t.doc_id, t.word, t.count, t.tf, round(t.tf * i.idf, 2) AS tf_idf
FROM doc_tf t JOIN idf i ON t.word = i.word
""",
)
def tfidf_full(spark, sf_dir):
    """J1: the full TF-IDF pipeline — flagship query."""
    return T.tfidf(load_table(spark, sf_dir, "documents"))


@register(
    "task1_dictionary",
    oracle=f"""
WITH {TOKS_CTE},
counts AS (SELECT word, count(*) AS count FROM toks GROUP BY word),
ranked AS (
    SELECT word, count,
           row_number() OVER (ORDER BY count DESC, word ASC) - 1 AS rank
    FROM counts
)
SELECT upper(word) AS word, rank, count
FROM ranked WHERE rank < {T.DICTIONARY_CAP}
""",
)
def task1_dictionary(spark, sf_dir):
    """A1 + W1 + W3 + P7: corpus dictionary with frequency ranks."""
    return T.task1_dictionary(load_table(spark, sf_dir, "documents"))


@register(
    "task1_probe",
    oracle=f"""
WITH {TOKS_CTE},
counts AS (SELECT word, count(*) AS count FROM toks GROUP BY word),
ranked AS (
    SELECT word, count,
           row_number() OVER (ORDER BY count DESC, word ASC) - 1 AS rank
    FROM counts
)
SELECT upper(word) AS word, rank, count
FROM ranked
WHERE rank < {T.DICTIONARY_CAP}
  AND upper(word) IN ('JOIN', 'HASH', 'STREAM', 'WINDOW', 'DUP')
""",
)
def task1_probe(spark, sf_dir):
    """P8/J2: literal IN-set probe filter on the dictionary.

    Probe words are drawn from the testdata vocabulary so the check is
    non-vacuous (>0 rows); the reference's own literal list
    (Main.java:99-103) is registered separately as
    ``task1_probe_reference``."""
    return T.task1_probe(
        load_table(spark, sf_dir, "documents"), probe_words=T.CORPUS_PROBE_WORDS
    )


# task1_probe_reference (the reference's literal 5-word list) registers
# in queries.analytics_queries so its inherently-empty result does not
# occupy a slot in the driver's bounded correctness window.


@register(
    "corpus_doc_count",
    oracle="SELECT count(*) AS n_docs FROM documents",
)
def corpus_doc_count(spark, sf_dir):
    """A4: total-document counter (the reference's AtomicLong)."""
    return load_table(spark, sf_dir, "documents").select(
        F.count("*").alias("n_docs")
    )


_IDF_REFRESH_ORACLE = """
WITH b AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
d AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
tb AS (
  SELECT DISTINCT doc_id,
         lower(regexp_replace(tok, '[^a-zA-Z]', '', 'g')) AS word
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM b)
  WHERE length(lower(regexp_replace(tok, '[^a-zA-Z]', '', 'g'))) > 0
),
td AS (
  SELECT DISTINCT doc_id,
         lower(regexp_replace(tok, '[^a-zA-Z]', '', 'g')) AS word
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM d)
  WHERE length(lower(regexp_replace(tok, '[^a-zA-Z]', '', 'g'))) > 0
),
dfb AS (SELECT word, CAST(count(*) AS BIGINT) AS df_base FROM tb GROUP BY 1),
dfd AS (SELECT word, CAST(count(*) AS BIGINT) AS df_delta FROM td GROUP BY 1),
nb AS (SELECT CAST(count(*) AS BIGINT) AS n_base FROM b),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_delta FROM d)
SELECT dfd.word,
       CAST(COALESCE(df_base, 0) AS BIGINT) AS df_base,
       df_delta,
       CAST(COALESCE(df_base, 0) + df_delta AS BIGINT) AS df_full,
       CASE WHEN df_base IS NULL THEN NULL
            ELSE round(log10(CAST(n_base AS DOUBLE) / df_base), 2)
       END AS idf_old,
       round(log10(CAST(n_base + n_delta AS DOUBLE)
                   / (COALESCE(df_base, 0) + df_delta)), 2) AS idf_new
FROM dfd LEFT JOIN dfb ON dfd.word = dfb.word, nb, nd
"""


@register("tfidf_incremental_idf_refresh", oracle=_IDF_REFRESH_ORACLE)
def tfidf_incremental_idf_refresh(spark, sf_dir):
    """Incremental maintenance of the reference's IDF table (the
    derived statistic the whole TF-IDF pipeline hangs off,
    DocInfo.java:114-117) under a corpus delta: base = doc_id % 10
    != 0 (the standing corpus whose tokenization/tf is the
    materialized state), delta = the arriving tenth. Emits the
    maintenance report for the TOUCHED vocabulary — the delta's
    words with merged document frequencies and the old/new
    round(log10(N/df), 2) idf — which is exactly what a production
    refresh applies: df_new = df_base + df_delta (disjoint doc
    sets), N_new = N_base + N_delta, and base documents re-score by
    re-joining their MATERIALIZED tf postings against the
    vocab-sized new idf table — never by re-tokenizing the corpus
    (the O(delta-tokenize + postings-rescore) refresh, vs the full
    pipeline's O(corpus-tokenize)).

    Exactness: dfs and doc counts are exact BIGINT distinct-counts;
    both idf columns are the pipeline's own rounded-log10 expression
    over exact integers, mirrored verbatim in the oracle. New words
    (df_base = 0) carry NULL idf_old in both engines.

    Scale shape: delta tokenization only on the delta partition;
    the base side contributes its (word, df) aggregate —
    vocabulary-sized, the materialized dictionary of the reference's
    Task 1 — merged by one vocab-keyed left join; doc counts are
    two 1-row aggregates broadcast onto the result."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 10 != 0)
    delta = docs.filter(F.col("doc_id") % 10 == 0)

    def df_of(corpus):
        return (
            tokenize(corpus)
            .select("doc_id", "word")
            .distinct()
            .groupBy("word")
            .agg(F.count(F.lit(1)).cast("long").alias("df"))
        )

    dfb = df_of(base).withColumnRenamed("df", "df_base_raw")
    dfd = df_of(delta).withColumnRenamed("df", "df_delta")
    nb = base.agg(F.count(F.lit(1)).cast("long").alias("n_base"))
    nd = delta.agg(F.count(F.lit(1)).cast("long").alias("n_delta"))
    merged = (
        dfd.join(dfb, "word", "left")
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nd))
    )
    return merged.select(
        "word",
        F.coalesce("df_base_raw", F.lit(0)).cast("long").alias("df_base"),
        "df_delta",
        (F.coalesce("df_base_raw", F.lit(0)) + F.col("df_delta"))
        .cast("long")
        .alias("df_full"),
        F.when(
            F.col("df_base_raw").isNotNull(),
            round2(
                F.log10(F.col("n_base").cast("double") / F.col("df_base_raw"))
            ),
        ).alias("idf_old"),
        round2(
            F.log10(
                (F.col("n_base") + F.col("n_delta")).cast("double")
                / (F.coalesce("df_base_raw", F.lit(0)) + F.col("df_delta"))
            )
        ).alias("idf_new"),
    )
