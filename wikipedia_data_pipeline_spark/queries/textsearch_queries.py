"""Text retrieval & corpus curation-mixing: phrase search, TF-IDF and
BM25 ranked search, RRF hybrid (lexical + embedding) retrieval,
document-similarity join, DSIR importance weights, and token-mixture
epoch planning. Split out of textcorpus_queries (round 12) before the
2,000-line threshold; registry keys and oracles unchanged — the
driver's correctness window addresses queries BY NAME via
registry._PINNED/_ROTATION, never by import order.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators import profiling as P
from wikipedia_data_pipeline_spark.operators.ranks import pin
from wikipedia_data_pipeline_spark.queries.tfidf_queries import TOKS_CTE
from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table


@register(
    "text_phrase_search",
    oracle="""
WITH t AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, ' '),
                     x -> lower(regexp_replace(x, '[^a-zA-Z]', '', 'g'))),
                     w -> length(w) > 0) AS ws
  FROM documents
)
SELECT doc_id, CAST(g - 1 AS BIGINT) AS start_pos
FROM t, unnest(generate_series(1, len(ws) - 2)) AS u(g)
WHERE ws[g] = 'slow' AND ws[g+1] = 'hash' AND ws[g+2] = 'batch'
""",
)
def text_phrase_search(spark, sf_dir):
    """Exact phrase lookup ('slow hash batch') over the positional
    inverted index: per-term scans (word filter pushed down) joined on
    (doc_id, pos - i). Returns one row per occurrence."""
    from wikipedia_data_pipeline_spark.operators import index as IX

    docs = load_table(spark, sf_dir, "documents")
    postings = IX.positional_postings(docs)
    return IX.phrase_search(postings, ["slow", "hash", "batch"])


# ---- sparse TF-IDF document-similarity join ------------------------------

from wikipedia_data_pipeline_spark.queries.tfidf_queries import (  # noqa: E402
    DOC_TF_CTES,
    IDF_OF_TOKS_CTES,
)


@register(
    "doc_similarity_tfidf",
    oracle=f"""
WITH {DOC_TF_CTES},
dfreq AS (
    SELECT word, count(*) AS df
    FROM (SELECT DISTINCT doc_id, word FROM toks) GROUP BY word
),
ndocs AS (SELECT count(*) AS n_docs FROM documents),
idf AS (
    SELECT f.word, round(log10(CAST(n_docs AS DOUBLE) / df), 2) AS idf, f.df
    FROM dfreq f, ndocs
    WHERE round(log10(CAST(n_docs AS DOUBLE) / df), 2) > 0
),
vec AS (
    SELECT t.doc_id, t.word, round(t.tf * i.idf, 2) AS tf_idf
    FROM doc_tf t JOIN idf i ON t.word = i.word, ndocs
    WHERE i.df * 10 <= n_docs
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared,
       CAST(sum(CAST(a.tf_idf * b.tf_idf AS DECIMAL(18,6))) AS DOUBLE) AS sim
FROM vec a JOIN vec b ON a.word = b.word AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
ORDER BY sim DESC, doc_a ASC, doc_b ASC
LIMIT 100
""",
)
def doc_similarity_tfidf(spark, sf_dir):
    """Sparse all-pairs document similarity over TF-IDF vectors: the
    inverted-index dot-product join (pairs meet only on shared words),
    with prefix-filter pruning — words present in more than 10% of
    documents are dropped BEFORE the self-join (a scale-relative cap:
    it bounds the worst posting list, and hence the join's
    O(sum df^2) blowup, at every corpus size); high-df words carry
    near-zero idf weight, and the cap is part of the declared
    semantics so the oracle applies it too. Decimal dot-product sums
    keep the result bit-exact; top-100 pairs by similarity with a
    total tiebreak order."""
    from wikipedia_data_pipeline_spark.operators import tfidf as TT

    docs = load_table(spark, sf_dir, "documents")
    # Persist the pruned vectors: both self-join sides reference the
    # same subtree and Spark does not CSE across join inputs, so
    # without this the whole TF-IDF pipeline runs twice. Post-cap the
    # relation is the rare-word postings only (corpus-proportional
    # but a small fraction; the cluster equivalent is checkpointing
    # the vector table between stages).

    vec = pin(
        TT.tfidf_with_df(docs, df_times_le_ndocs=10)
        .select("doc_id", "word", "tf_idf")
    )
    a = vec.alias("a")
    b = vec.alias("b")
    pairs = a.join(
        b,
        (F.col("a.word") == F.col("b.word"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    return (
        pairs.groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.sum(
                (F.col("a.tf_idf") * F.col("b.tf_idf")).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("sim"),
        )
        .orderBy(F.desc("sim"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(100)
    )


_SEARCH_TERMS = ["hash", "join", "spark", "dup"]


@register(
    "text_search_tfidf",
    oracle=f"""
WITH {DOC_TF_CTES},
{IDF_OF_TOKS_CTES},
tfidf AS (
    SELECT t.doc_id, t.word, round(t.tf * i.idf, 2) AS tf_idf
    FROM doc_tf t JOIN idf i ON t.word = i.word
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_terms_hit,
       CAST(sum(CAST(tf_idf AS DECIMAL(18,6))) AS DOUBLE) AS score
FROM tfidf
WHERE word IN ({", ".join(f"'{w}'" for w in _SEARCH_TERMS)})
GROUP BY doc_id
ORDER BY score DESC, n_terms_hit DESC, doc_id ASC
LIMIT 20
""",
)
def text_search_tfidf(spark, sf_dir):
    """Ranked keyword search over the TF-IDF index: score(doc) =
    Σ tf_idf of the query terms it contains, top-20 by score. The
    query-term filter is a constant IN-set pushed below the index join,
    so the scan touches only the postings of the query's words — the
    searcher's cost is proportional to posting-list length, not corpus
    size (and the final top-k is a TakeOrdered, no global sort)."""
    from wikipedia_data_pipeline_spark.functions import dec_sum
    from wikipedia_data_pipeline_spark.operators import tfidf as T

    docs = load_table(spark, sf_dir, "documents")
    hits = T.tfidf(docs).filter(F.col("word").isin(_SEARCH_TERMS))
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            dec_sum("tf_idf", "score"),
        )
        .orderBy(F.desc("score"), F.desc("n_terms_hit"), F.asc("doc_id"))
        .limit(20)
    )


_BM25_K1 = 1.2
_BM25_B = 0.75
# The BM25 per-posting scores (tf, doc length, Lucene-style idf), shared
# by text_search_bm25 and the lexical side of text_search_rrf_hybrid.
_BM25_SCORED_CTES = f"""
tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY doc_id, word),
dl AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
stats AS (
  SELECT CAST(sum(len) AS DOUBLE) / count(*) AS avglen,
         count(*) AS n_docs
  FROM dl
),
dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
widf AS (
  SELECT word,
         CAST(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1), 6)
              AS DECIMAL(18,6)) AS idf
  FROM dfreq, stats
),
scored AS (
  SELECT t.doc_id, t.word,
         CAST(round(CAST(idf AS DOUBLE) * (t.tf * ({_BM25_K1} + 1))
               / (t.tf + {_BM25_K1} * (1 - {_BM25_B}
                  + {_BM25_B} * d.len / avglen)), 6)
              AS DECIMAL(18,6)) AS s
  FROM tf t
  JOIN dl d ON t.doc_id = d.doc_id
  JOIN widf ON t.word = widf.word, stats
)"""


def _bm25_hits(spark, sf_dir):
    """Per-document BM25 hits for the search terms: n_terms_hit and the
    DECIMAL-summed score (the Spark side of ``_BM25_SCORED_CTES`` plus
    its IN-set aggregate), unordered."""
    from wikipedia_data_pipeline_spark.operators.text import tokenize

    toks = tokenize(load_table(spark, sf_dir, "documents"))
    tf = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    stats = dl.agg(
        (F.sum("len").cast("double") / F.count(F.lit(1))).alias("avglen"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    widf = dfreq.crossJoin(F.broadcast(stats)).select(
        "word",
        F.round(
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                + 1
            ),
            6,
        )
        .cast("decimal(18,6)")
        .alias("idf"),
    )
    scored = (
        tf.filter(F.col("word").isin(_SEARCH_TERMS))
        .join(dl, "doc_id")
        .join(F.broadcast(widf), "word")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                F.col("idf").cast("double")
                * (F.col("tf") * (_BM25_K1 + 1))
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (1 - _BM25_B + _BM25_B * F.col("len") / F.col("avglen"))
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("s"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms_hit"),
        F.sum("s").cast("double").alias("score"),
    )


@register(
    "text_search_bm25",
    oracle=f"""
WITH {TOKS_CTE},
{_BM25_SCORED_CTES}
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_terms_hit,
       CAST(sum(s) AS DOUBLE) AS score
FROM scored
WHERE word IN ({", ".join(f"'{w}'" for w in _SEARCH_TERMS)})
GROUP BY doc_id
ORDER BY score DESC, n_terms_hit DESC, doc_id ASC
LIMIT 20
""",
)
def text_search_bm25(spark, sf_dir):
    """BM25 ranked retrieval (k1=1.2, b=0.75, the Lucene-style
    +1-inside-the-log idf so no term scores negative) — the standard
    keyword-search ranking, with raw term frequency saturating and
    document-length normalization, which plain TF-IDF summing lacks.
    Determinism: idf is rounded once per VOCAB word, the per-posting
    score once per (doc, word) — every input to those expressions
    (tf, len ints; avglen one exact division) is identical on both
    engines, and the doc-level sum rides DECIMAL. Same pushdown shape
    as text_search_tfidf: the IN-set prunes postings before scoring at
    the final filter, top-k is TakeOrdered."""
    return (
        _bm25_hits(spark, sf_dir)
        .orderBy(F.desc("score"), F.desc("n_terms_hit"), F.asc("doc_id"))
        .limit(20)
    )


_RRF_K = 60
_RRF_DEPTH = 200
_COS0_SQL = (
    "list_sum(list_transform(list_zip(q.q_emb, e.embedding),"
    " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform(q.q_emb,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    " * sqrt(list_sum(list_transform(e.embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
)


@register(
    "text_search_rrf_hybrid",
    oracle=f"""
WITH {TOKS_CTE},
{_BM25_SCORED_CTES},
lex_top AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_terms_hit,
         CAST(sum(s) AS DOUBLE) AS score
  FROM scored
  WHERE word IN ({", ".join(f"'{w}'" for w in _SEARCH_TERMS)})
  GROUP BY doc_id
  ORDER BY score DESC, n_terms_hit DESC, doc_id ASC
  LIMIT {_RRF_DEPTH}
),
lex AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score DESC, n_terms_hit DESC,
                                 doc_id ASC) AS BIGINT) AS lex_rank
  FROM lex_top
),
q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
sem_top AS (
  SELECT e.vec_id, {_COS0_SQL} AS cos
  FROM embeddings e, q
  WHERE e.vec_id != 0
  ORDER BY cos DESC, e.vec_id ASC
  LIMIT {_RRF_DEPTH}
),
sem AS (
  SELECT vec_id AS doc_id,
         CAST(row_number() OVER (ORDER BY cos DESC, vec_id ASC)
              AS BIGINT) AS sem_rank
  FROM sem_top
)
SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
       lex_rank, sem_rank,
       COALESCE(1.0 / ({_RRF_K} + lex_rank), 0.0)
         + COALESCE(1.0 / ({_RRF_K} + sem_rank), 0.0) AS rrf_score
FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
ORDER BY rrf_score DESC, doc_id ASC
LIMIT 20
""",
)
def text_search_rrf_hybrid(spark, sf_dir):
    """Reciprocal-Rank Fusion hybrid retrieval (Cormack, Clarke &
    Buettcher, SIGIR 2009 — the fusion rule behind most production
    "keyword + vector" search stacks): fuse the BM25 lexical ranking
    (same scorer, terms, and tie-breaks as text_search_bm25) with the
    embedding-cosine ranking against query vector 0, each truncated at
    depth 200 (_RRF_DEPTH), by rrf = 1/(60+lex_rank) + 1/(60+sem_rank) (absent
    list -> 0 contribution), and return the fused top-20.

    Exactness: both ranks are integers over total orders whose keys
    (DECIMAL-summed BM25 score, fixed-fold cosine) are bit-identical
    across engines; each reciprocal is one double division of exact
    integers and the fusion is a fixed-order two-term sum.

    Scale shape: the lexical side prunes postings by the search-term
    IN-set before scoring; BOTH list truncations are TakeOrdered
    top-200 (no global sort, no unguarded window — the ranking
    window runs on the 200-row result); the fusion join and final
    top-20 are bounded by 2x200 rows. The depth knob is the standard
    RRF quality/cost lever at 100 TB."""
    from pyspark.sql import Window

    from wikipedia_data_pipeline_spark.functions import cosine_similarity
    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    lex_order = [
        F.desc("score"),
        F.desc("n_terms_hit"),
        F.asc("doc_id"),
    ]
    lex_top = _bm25_hits(spark, sf_dir).orderBy(*lex_order).limit(_RRF_DEPTH)
    lex = lex_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(*lex_order))
        .cast("long")
        .alias("lex_rank"),
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    sem_order = [F.desc("cos"), F.asc("vec_id")]
    sem_top = (
        fan_out(emb)
        .crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            cosine_similarity(F.col("q_emb"), F.col("embedding")).alias(
                "cos"
            ),
        )
        .orderBy(*sem_order)
        .limit(_RRF_DEPTH)
    )
    sem = sem_top.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(*sem_order))
        .cast("long")
        .alias("sem_rank"),
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "sem_rank",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("sem_rank")), F.lit(0.0)
            )
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(20)


# ---------------------------------------------------------------------------
# Lexical diversity: Yule's K + Simpson's D per language (round 10)
# ---------------------------------------------------------------------------

_DSIR_B = 256  # hashed feature buckets


def _dsir_bucket_sql(word_expr: str) -> str:
    mult, add = P.CMS_SEEDS[0]
    return (
        f"(({P.sql_cms_word_key(word_expr)} % {P.CMS_PRE_MOD}) * {mult}"
        f" + {add}) % {P.CMS_HASH_MOD} % {_DSIR_B}"
    )


_DSIR_ORACLE = f"""
WITH w AS (
  SELECT doc_id, lang,
         lower(regexp_replace(x, '[^a-zA-Z]', '', 'g')) AS word
  FROM documents, unnest(string_split(text, ' ')) AS u(x)
),
f AS (
  SELECT doc_id, lang,
         CAST({_dsir_bucket_sql('word')} AS BIGINT) AS b
  FROM w WHERE length(word) > 0
),
raw AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM f GROUP BY b),
tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM f
        WHERE lang = 'en' GROUP BY b),
tots AS (
  SELECT CAST(sum(cr) AS BIGINT) AS r_tot,
         CAST((SELECT sum(ct) FROM tgt) AS BIGINT) AS t_tot
  FROM raw
),
lam AS (
  SELECT raw.b,
         CAST(round(ln((CAST(coalesce(ct, 0) + 1 AS DOUBLE)
                        / (t_tot + {_DSIR_B}))
                       / (CAST(cr + 1 AS DOUBLE) / (r_tot + {_DSIR_B})))
                    * 1000000000.0) AS BIGINT) AS lam_nano
  FROM raw LEFT JOIN tgt ON raw.b = tgt.b, tots
)
SELECT doc_id, CAST(max(f.lang) AS VARCHAR) AS lang,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(lam_nano) AS BIGINT) AS dsir_logratio_nano
FROM f JOIN lam ON f.b = lam.b
GROUP BY doc_id
"""


@register("curation_dsir_importance_weights", oracle=_DSIR_ORACLE)
def curation_dsir_importance_weights(spark, sf_dir):
    """DSIR importance weights (Xie, Santurkar, Ma & Liang, 'Data
    Selection for Language Models via Importance Resampling', NeurIPS
    2023): per-document log importance ratio log p_target/p_raw under
    hashed unigram bag-of-words models — the curation score used to
    resample a raw crawl toward a target domain before pretraining.
    Target here: the corpus's 'en' slice; raw: everything. Features
    hash into 256 buckets with the engine-portable polynomial
    word key (features_hash_encoded's discipline), Laplace-smoothed
    (+1, +B).

    Exactness: the per-BUCKET log ratio is computed once on the
    256-row bucket relation and quantized to nano-nats
    (quantize-once, the events_kl_user_vs_global discipline); each
    document's weight is then an exact BIGINT sum of its tokens'
    quantized bucket scores — associative, partition-order-free.

    Scale shape: tokenize -> (doc, bucket) narrow projection; ONE
    fact-wide hash-agg per distribution (raw and target bucket counts,
    both 256-row outputs — map-side combinable); the lambda
    table broadcasts back onto the token stream; final per-doc sum
    shuffles doc-keyed rows once. No windows, no UDFs; at 100 TB the
    only heavy exchanges are the two bucket-count partials (tiny) and
    the per-doc combine."""
    from wikipedia_data_pipeline_spark.operators.text import normalize_word
    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    docs = load_table(spark, sf_dir, "documents")
    mult, add = P.CMS_SEEDS[0]
    w = (
        fan_out(docs)
        .select(
            "doc_id",
            "lang",
            F.explode(F.split("text", " ")).alias("raw"),
        )
        .select("doc_id", "lang", normalize_word(F.col("raw")).alias("word"))
        .filter(F.length("word") > 0)
    )
    f = w.select(
        "doc_id",
        "lang",
        (
            (
                (P.cms_word_key(F.col("word")) % P.CMS_PRE_MOD) * F.lit(mult)
                + F.lit(add)
            )
            % P.CMS_HASH_MOD
            % _DSIR_B
        )
        .cast("long")
        .alias("b"),
    )
    # ONE tokenize pass: the (doc, bucket) count relation is persisted
    # and every downstream quantity derives from it — bucket totals
    # (raw and target in the same aggregate via a conditional sum),
    # smoothing totals, and the per-doc weight sums. The naive form
    # re-ran the explode + 8-char polynomial key per consumer (Spark
    # does no cross-subtree CSE): 3 fact-wide token passes; this is 1.
    # Probed at the 100x replica: 13.4 -> ~7 s.

    fc = pin(
        f.groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    buckets = fc.groupBy("b").agg(
        F.sum("n").cast("long").alias("cr"),
        F.sum(F.when(F.col("lang") == "en", F.col("n")).otherwise(0))
        .cast("long")
        .alias("ct"),
    )
    tots = buckets.agg(
        F.sum("cr").cast("long").alias("r_tot"),
        F.sum("ct").cast("long").alias("t_tot"),
    )
    lam = (
        buckets.crossJoin(F.broadcast(tots))
        .select(
            "b",
            F.round(
                F.log(
                    (
                        (F.col("ct") + 1).cast("double")
                        / (F.col("t_tot") + _DSIR_B).cast("double")
                    )
                    / (
                        (F.col("cr") + 1).cast("double")
                        / (F.col("r_tot") + _DSIR_B).cast("double")
                    )
                )
                * 1_000_000_000.0
            )
            .cast("long")
            .alias("lam_nano"),
        )
    )
    return (
        fc.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.max("lang").cast("string").alias("lang"),
            F.sum("n").cast("long").alias("n_tokens"),
            F.sum(F.col("n") * F.col("lam_nano"))
            .cast("long")
            .alias("dsir_logratio_nano"),
        )
    )


# ---------------------------------------------------------------------------
# Training-mixture token budgeting (epochs per language, round 10)
# ---------------------------------------------------------------------------

_MIX_EPOCH_CAP = 4_000_000  # 4.0 epochs, micro-units
_MIX_ORACLE = """
WITH w AS (
  SELECT lang, lower(regexp_replace(x, '[^a-zA-Z]', '', 'g')) AS word
  FROM documents, unnest(string_split(text, ' ')) AS u(x)
),
c AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS tokens
  FROM w WHERE length(word) > 0 GROUP BY lang
),
tot AS (
  SELECT CAST(sum(tokens) AS BIGINT) AS t,
         CAST(2 * sum(tokens) AS BIGINT) AS budget,
         CAST(count(*) AS BIGINT) AS nl
  FROM c
),
r1 AS (
  SELECT lang, tokens, budget,
         least(4000000, ((budget // nl) * 1000000) // tokens) AS e1
  FROM c, tot
),
r1s AS (
  SELECT *,
         (tokens * e1) // 1000000 AS s1,
         CASE WHEN e1 < 4000000 THEN tokens ELSE 0 END AS utok
  FROM r1
),
pool AS (
  SELECT CAST(sum(s1) AS BIGINT) AS served,
         CAST(sum(utok) AS BIGINT) AS ucap_tot
  FROM r1s
),
r2 AS (
  SELECT lang, tokens, e1,
         CASE WHEN e1 < 4000000 AND ucap_tot > 0
              THEN least(4000000,
                         e1 + (((budget - served) * tokens // ucap_tot)
                               * 1000000) // tokens)
              ELSE e1 END AS e2
  FROM r1s, pool
)
SELECT lang, tokens,
       CAST(e2 AS BIGINT) AS epochs_micro,
       CAST((tokens * e2) // 1000000 AS BIGINT) AS sampled_tokens,
       e2 >= 4000000 AS capped
FROM r2
"""


@register("curation_token_mixture_epochs", oracle=_MIX_ORACLE)
def curation_token_mixture_epochs(spark, sf_dir):
    """Training-data recipe arithmetic: given a token budget of 2x the
    corpus and a uniform per-language target, how many EPOCHS of each
    language slice does the mixture take, with a 4.0-epoch repetition
    cap (the data-constrained-scaling guardrail — Muennighoff et al.
    2023 measure rapidly diminishing returns past ~4 epochs) and one
    proportional redistribution of the budget stranded by capped
    slices onto the uncapped ones. This is the planning table a
    pretraining run derives from corpus stats before sampling —
    sample_weighted_mixture / curation_source_cap execute a recipe,
    this query COMPUTES one.

    Exactness: every quantity is integer micro-units with integral
    division (epochs = min(cap, alloc·10⁶ // tokens), served tokens =
    tokens·e // 10⁶, redistribution share = leftover·tokens //
    uncapped_tokens) via Spark's `div` (IntegralDivide) — true 64-bit
    integer quotients matching the oracle's `//` at all magnitudes,
    no doubles anywhere. Products stay under 2^63 up to ~10¹⁵ corpus
    tokens per slice; past that the same arithmetic must route
    through DECIMAL(38,0).

    Scale shape: ONE tokenize pass → |langs|-row count relation;
    everything after (totals, two allocation rounds) is arithmetic on
    that broadcast-sized table."""
    from wikipedia_data_pipeline_spark.operators.text import normalize_word
    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    docs = load_table(spark, sf_dir, "documents")
    c = (
        fan_out(docs)
        .select("lang", F.explode(F.split("text", " ")).alias("raw"))
        .select("lang", normalize_word(F.col("raw")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("tokens"))
    )
    tot = c.agg(
        (2 * F.sum("tokens")).cast("long").alias("budget"),
        F.count(F.lit(1)).cast("long").alias("nl"),
    )

    def idiv(a, b):
        # IntegralDivide (SQL `div`): true integer quotient on longs,
        # exact at ALL magnitudes — the earlier ((a - a%b) / b) form
        # routed through DOUBLE division, which silently loses the
        # low bits once the numerator passes 2^53 (a language slice
        # beyond ~2e9 tokens puts tokens*e2 there), diverging from
        # the oracle's `//`.
        return F.call_function("div", a.cast("long"), b.cast("long"))

    cap = F.lit(_MIX_EPOCH_CAP).cast("long")
    r1 = c.crossJoin(F.broadcast(tot)).select(
        "lang",
        "tokens",
        "budget",
        F.least(
            cap, idiv(idiv(F.col("budget"), F.col("nl")) * 1_000_000,
                      F.col("tokens"))
        ).alias("e1"),
    )
    r1s = r1.select(
        "*",
        idiv(F.col("tokens") * F.col("e1"), F.lit(1_000_000)).alias("s1"),
        F.when(F.col("e1") < cap, F.col("tokens")).otherwise(0).alias("utok"),
    )
    pool = r1s.agg(
        F.sum("s1").cast("long").alias("served"),
        F.sum("utok").cast("long").alias("ucap_tot"),
    )
    extra_e = idiv(
        idiv(
            (F.col("budget") - F.col("served")) * F.col("tokens"),
            F.col("ucap_tot"),
        )
        * 1_000_000,
        F.col("tokens"),
    )
    r2 = r1s.crossJoin(F.broadcast(pool)).select(
        "lang",
        "tokens",
        F.when(
            (F.col("e1") < cap) & (F.col("ucap_tot") > 0),
            F.least(cap, F.col("e1") + extra_e),
        )
        .otherwise(F.col("e1"))
        .alias("e2"),
    )
    return r2.select(
        "lang",
        "tokens",
        F.col("e2").cast("long").alias("epochs_micro"),
        idiv(F.col("tokens") * F.col("e2"), F.lit(1_000_000)).alias(
            "sampled_tokens"
        ),
        (F.col("e2") >= cap).alias("capped"),
    )
