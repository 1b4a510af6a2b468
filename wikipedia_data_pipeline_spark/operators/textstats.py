"""Text-analysis operators for training-data curation: language ID,
quality scoring, token counting, document fingerprinting.

All pure `pyspark.sql.functions` expressions (whole-stage codegen, no
Python) — these run per-document as narrow maps, so they cost one scan
at any corpus size.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Tiny seed stopword lists per language for the n-gram/stopword-overlap
# language heuristic. Deliberately small and deterministic.
LANG_STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "es": ["el", "la", "de", "que", "y", "los"],
    "fr": ["le", "la", "les", "de", "et", "un"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
}

QUALITY_STOPWORDS = LANG_STOPWORDS["en"]

# BPE-ish pre-tokenization: runs of letters, runs of digits, or a single
# non-alphanumeric non-space character. Same regex runs on both engines.
BPE_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

FINGERPRINT_MOD = (1 << 31) - 1  # Mersenne prime 2^31-1


def _tokens(text_col):
    return F.split(text_col, " ")


def language_id(documents: DataFrame) -> DataFrame:
    """Stopword-overlap language scorer: count tokens that appear in
    each language's seed list; predict the argmax (ties → lexicographic
    language order; 'und' = undetermined when every score is 0)."""
    toks = _tokens(F.col("text"))

    def score(lang: str):
        words = LANG_STOPWORDS[lang]
        return F.size(
            F.filter(toks, lambda t: t.isin(*[F.lit(w) for w in words]))
        ).cast("long")

    scored = documents.select(
        "doc_id",
        "lang",
        *[score(lang).alias(f"score_{lang}") for lang in sorted(LANG_STOPWORDS)],
    )
    langs = sorted(LANG_STOPWORDS)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.lit("und")
    # reversed so the earliest language wins ties via later overwrite
    for lang in reversed(langs):
        pred = F.when(
            (best > 0) & (F.col(f"score_{lang}") == best), F.lit(lang)
        ).otherwise(pred)
    return scored.select(
        "doc_id",
        "lang",
        pred.alias("predicted_lang"),
        best.alias("best_score"),
    )


def quality_scores(documents: DataFrame) -> DataFrame:
    """Length / punctuation / stopword heuristics. All ratios are
    int/int divisions — deterministic doubles."""
    toks = _tokens(F.col("text"))
    n_tok = F.size(toks).cast("long")
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin(*[F.lit(w) for w in QUALITY_STOPWORDS]))
    ).cast("long")
    n_chars = F.length("text").cast("long")
    n_alpha = F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast("long")
    sum_tok_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return documents.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_chars.alias("n_chars_text"),
        (sum_tok_len / n_tok).alias("avg_token_len"),
        (n_stop / n_tok).alias("stopword_ratio"),
        (n_alpha / n_chars).alias("alpha_ratio"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        (F.size(F.array_distinct(toks)) / n_tok).alias("ttr"),
    )


def token_counts(documents: DataFrame) -> DataFrame:
    """Whitespace token count + BPE-ish pre-token count (regex runs)."""
    return documents.select(
        "doc_id",
        F.size(_tokens(F.col("text"))).cast("long").alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(BPE_PATTERN)).cast("long").alias(
            "bpe_tokens"
        ),
        F.length("text").cast("long").alias("n_chars_text"),
    )


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of
    tokens taken by the single most-frequent token, and the fraction of
    trigram occurrences whose trigram repeats within the document.

    Scale posture: both signals are computed WITHOUT a shuffle — the
    naive plan (explode tokens → groupBy(doc_id, word)) shuffles the
    whole token table; here each document's stats come from a sorted
    in-row array walked once with ``aggregate`` (run-length encoding),
    so cost is O(n log n) per doc inside a narrow map and the corpus
    scan stays embarrassingly parallel at any size.
    """
    from wikipedia_data_pipeline_spark.operators.text import token_array

    toks = token_array()

    def max_run(sorted_arr):
        """Longest run of equal adjacent values in a sorted array."""
        init = F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        )

        def step(acc, x):
            run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
            return F.struct(
                x.alias("prev"),
                run.alias("run"),
                F.greatest(acc["best"], run).alias("best"),
            )

        return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])

    def singleton_count(sorted_arr):
        """Number of values appearing exactly once in a sorted array."""
        init = F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("singles"),
        )

        def step(acc, x):
            is_new = x != acc["prev"]
            closed_single = is_new & (acc["run"] == 1)
            return F.struct(
                x.alias("prev"),
                F.when(is_new, F.lit(1).cast("long"))
                .otherwise(acc["run"] + 1)
                .alias("run"),
                F.when(closed_single, acc["singles"] + 1)
                .otherwise(acc["singles"])
                .alias("singles"),
            )

        return F.aggregate(
            sorted_arr,
            init,
            step,
            lambda acc: F.when(acc["run"] == 1, acc["singles"] + 1).otherwise(
                acc["singles"]
            ),
        )

    # Guard: Spark's sequence(1, stop) DESCENDS when stop < 1, so short
    # docs must short-circuit to an empty gram array.
    grams = F.when(
        F.size(F.col("toks")) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("toks")) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("toks"), i),
                F.element_at(F.col("toks"), i + 1),
                F.element_at(F.col("toks"), i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        documents.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            F.array_sort("toks").alias("stoks"),
            F.array_sort(grams).alias("grams"),
        )
        .select(
            "doc_id",
            F.size("stoks").cast("long").alias("n_tokens"),
            (max_run(F.col("stoks")) / F.size("stoks")).alias("top_token_frac"),
            F.when(
                F.size("grams") > 0,
                (F.size("grams").cast("long") - singleton_count(F.col("grams")))
                / F.size("grams"),
            ).alias("dup_trigram_frac"),
        )
    )


def decontaminate(
    documents: DataFrame,
    benchmark_mod: int = 97,
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: find corpus documents sharing any
    word n-gram with a held-out benchmark set (here: docs whose id is
    divisible by ``benchmark_mod`` stand in for the benchmark corpus).

    Returns (doc_id, n_hit_grams) for contaminated corpus docs — the
    relation a curation pipeline anti-joins against before training.

    Scale posture: the benchmark gram set is distinct-reduced BEFORE
    the join (benchmarks are thousands of docs — it broadcasts), so
    the corpus side streams through a broadcast semi-probe with no
    corpus-wide shuffle of gram strings; only the surviving hits
    shuffle for the per-doc count. For a benchmark too large to
    broadcast, hash grams to int64 (xxhash64) and shuffle-join on the
    hash — same plan shape, 8× narrower rows.
    """
    from wikipedia_data_pipeline_spark.operators.text import ngrams

    grams = ngrams(documents, n=n)
    is_bench = F.col("doc_id") % benchmark_mod == 0
    bench = grams.filter(is_bench).select("ngram").distinct()
    corpus = grams.filter(~is_bench)
    return (
        corpus.join(F.broadcast(bench), "ngram", "left_semi")
        .groupBy("doc_id")
        .agg(F.countDistinct("ngram").alias("n_hit_grams"))
    )


def fingerprints(documents: DataFrame) -> DataFrame:
    """Order-sensitive document fingerprint, SQL-portable: per token at
    1-based position i, contribute i * (131*len(tok) + ascii(first
    char)); sum mod 2^31-1. Catches reorderings that bag-of-words
    hashes miss while staying expressible on any engine (the
    engine-native path would just be xxhash64(text))."""
    toks = _tokens(F.col("text"))
    contrib = F.zip_with(
        toks,
        F.sequence(F.lit(1), F.size(toks)),
        lambda t, i: i.cast("long")
        * (F.lit(131) * F.length(t) + F.ascii(F.substring(t, 1, 1))),
    )
    total = F.aggregate(contrib, F.lit(0).cast("long"), lambda a, x: a + x)
    return documents.select(
        "doc_id",
        F.pmod(total, F.lit(FINGERPRINT_MOD)).alias("fingerprint"),
        F.xxhash64(F.col("text")).alias("content_hash64"),
    )


# --- Mini-BPE ------------------------------------------------------------

def bpe_train_merges(
    documents, n_merges: int = 8, max_vocab: int = 1_000_000
) -> list[tuple[str, str]]:
    """Learn byte-pair-encoding merges from the corpus (Sennrich et al.
    2016): split every word into characters, repeatedly merge the most
    frequent adjacent symbol pair.

    The Spark-first split: pair statistics come from the DISTRIBUTED
    word-frequency aggregate (one shuffle over the corpus — the only
    part that scales with data volume); the merge loop itself runs on
    the collected word-count dictionary, which is bounded by vocabulary
    size, not corpus size (a 100 TB corpus still has a ~10M-entry word
    dict — BPE trainers aggregate distributed counts then train
    centrally for exactly this reason). Ties break lexicographically so
    the learned merges are deterministic.

    ``max_vocab`` bounds the collected dictionary: only the top-N words
    by (count desc, word asc) reach the driver, so a pathological corpus
    (unique-token spam, binary junk) cannot OOM it. Truncation drops
    only tail words whose pair contributions are dominated by the head —
    standard practice in BPE trainers. The cut is a TakeOrdered (no full
    sort) and deterministic via the word tiebreak.
    """
    from pyspark.sql import functions as F

    word_counts = (
        documents.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("w"))
        .limit(max_vocab)
        .collect()
    )
    vocab = {tuple(r.w): int(r.n) for r in word_counts}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, n in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + n
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged: dict[tuple[str, ...], int] = {}
        for syms, n in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            merged[key] = merged.get(key, 0) + n
        vocab = merged
    return merges


def bpe_encode(documents, merges: list[tuple[str, str]]):
    """Tokenize with learned merges, distributed: the merge table rides
    to executors inside the UDF closure (broadcast-by-serialization —
    it is vocabulary-bounded), and each Arrow batch of documents is
    encoded in Python with zero shuffles. Output: (doc_id, n_bpe_tokens,
    n_words, tokens_per_word)."""
    from pyspark.sql.types import LongType

    ranks = {pair: i for i, pair in enumerate(merges)}
    # Word-level memo shared across Arrow batches within a Python
    # worker: the encode is a pure function of the word, and corpora
    # are Zipfian, so distinct words are orders of magnitude fewer
    # than occurrences (100x-replica probe: 13.1 s -> 3.6 s for the
    # fertility query). Capped at the trainer's max_vocab bound so
    # unique-token spam cannot grow worker memory unboundedly —
    # uncached words are simply re-encoded.
    _memo: dict[str, int] = {}
    _MEMO_CAP = 1_000_000

    @F.pandas_udf(LongType())
    def _count_tokens(texts: pd.Series) -> pd.Series:
        def encode_word(word: str) -> int:
            n = _memo.get(word)
            if n is not None:
                return n
            syms = list(word)
            while len(syms) > 1:
                best_i, best_rank = -1, len(ranks)
                for i in range(len(syms) - 1):
                    r = ranks.get((syms[i], syms[i + 1]), len(ranks))
                    if r < best_rank:
                        best_i, best_rank = i, r
                if best_i < 0:
                    break
                syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
            n = len(syms)
            if len(_memo) < _MEMO_CAP:
                _memo[word] = n
            return n

        return texts.map(
            lambda t: sum(encode_word(w) for w in t.split(" ") if w)
        )

    return documents.select(
        "doc_id",
        _count_tokens(F.col("text")).alias("n_bpe_tokens"),
        F.size(F.filter(F.split("text", " "), lambda w: F.length(w) > 0))
        .cast("long")
        .alias("n_words"),
    ).withColumn(
        "tokens_per_word",
        F.round(F.col("n_bpe_tokens") / F.col("n_words"), 4),
    )


def trigram_commonness(documents: DataFrame, min_df: int = 2) -> DataFrame:
    """Corpus-fit score per document: how common are its word trigrams
    across the corpus (the cheap stand-in for an n-gram LM perplexity
    gate a la CCNet — documents whose trigrams barely occur elsewhere
    are outliers: boilerplate, garbled text, or contamination).

    Two aggregations and one shuffle join, all on the trigram key:
    (1) distinct (doc, trigram) -> document frequency per trigram;
    (2) every trigram occurrence joins its df and re-aggregates per
    doc. Integer sums only (exact under any partitioning); the two
    ratios are single IEEE divisions per output row. At 100 TB both
    aggs partial-combine map-side and the join shuffles on the same
    trigram key Catalyst reuses across the two subtrees.

    Output: doc_id, n_trigrams, n_common (occurrences whose trigram
    appears in >= min_df docs), common_frac, avg_df.
    """
    from wikipedia_data_pipeline_spark.operators.text import ngrams

    occ = ngrams(documents, n=3)
    df_tbl = (
        occ.distinct()
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return (
        occ.join(df_tbl, "ngram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum((F.col("df") >= min_df).cast("long")).alias("n_common"),
            F.sum("df").alias("_sum_df"),
        )
        .select(
            "doc_id",
            "n_trigrams",
            "n_common",
            (F.col("n_common") / F.col("n_trigrams")).alias("common_frac"),
            (F.col("_sum_df") / F.col("n_trigrams")).alias("avg_df"),
        )
    )


def collocations(documents: DataFrame, top_k: int = 100) -> DataFrame:
    """Top-k word collocations by lift: score(a,b) =
    n(ab) * N / (n(a) * n(b)) — pointwise mutual information WITHOUT
    the log, so every factor is an integer count and the single
    serve-time division is bit-portable across engines (log is not).

    Three aggregations (bigram counts, unigram counts, total) and two
    joins of the bigram relation against the unigram table — at corpus
    scale the unigram side is vocabulary-sized and broadcasts, so the
    bigram relation never shuffles for the joins; top-k rides
    TakeOrdered with a total (score, bigram) order.
    """
    from wikipedia_data_pipeline_spark.operators.text import ngrams, tokenize

    toks = tokenize(documents)
    uni = toks.groupBy("word").agg(F.count(F.lit(1)).alias("n_word"))
    total = toks.select(F.count(F.lit(1)).alias("n_total"))
    bi = (
        ngrams(documents, n=2)
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .withColumn("w1", F.split("ngram", " ").getItem(0))
        .withColumn("w2", F.split("ngram", " ").getItem(1))
    )
    scored = (
        bi.join(
            F.broadcast(uni.select(F.col("word").alias("w1"), F.col("n_word").alias("n_w1"))),
            "w1",
        )
        .join(
            F.broadcast(uni.select(F.col("word").alias("w2"), F.col("n_word").alias("n_w2"))),
            "w2",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "ngram",
            "n_pair",
            "n_w1",
            "n_w2",
            (
                (F.col("n_pair") * F.col("n_total"))
                / (F.col("n_w1") * F.col("n_w2"))
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.desc("lift"), F.asc("ngram")).limit(top_k)


def compression_ratio(documents: DataFrame) -> DataFrame:
    """Gopher-style repetitiveness signal: zlib-compressed size over
    raw UTF-8 size per document. Highly repetitive (template/boiler-
    plate) text compresses far below normal prose, making this one of
    the cheapest high-signal quality gates. zlib at a fixed level is
    deterministic, but no SQL engine exposes it, so this operator is
    pytest-verified (known plaintexts) rather than oracle-compared.
    Arrow-batched pandas UDF — one narrow map, no shuffle."""
    import zlib

    import pandas as pd

    @F.pandas_udf("long")
    def zsize(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), 6)) if t else 0
        ).astype("int64")

    raw_len = F.length(F.col("text")).cast("long")
    return documents.select(
        "doc_id",
        raw_len.alias("n_bytes"),
        zsize(F.col("text")).alias("n_compressed"),
    ).withColumn(
        "compression_ratio",
        F.when(
            F.col("n_bytes") > 0, F.col("n_compressed") / F.col("n_bytes")
        ).otherwise(F.lit(None).cast("double")),
    )


def unigram_surprisal(documents: DataFrame) -> DataFrame:
    """Per-document mean unigram surprisal (bits/token) under the
    corpus's own unigram LM — the cheapest member of the
    perplexity-gate family used to screen training corpora (high
    bits/token ⇒ rare-word soup; near-zero ⇒ degenerate repetition).

    Shape: one token explode, one vocab aggregate (vocab-sized, tiny
    relative to the corpus), a 1-row total broadcast onto it, then the
    word→surprisal table broadcast back onto the token stream — the
    token-side join is broadcast, so the whole query costs the
    tokenize scan plus one vocab shuffle at any corpus size.
    Determinism: the per-word log2 is computed ONCE per vocab entry and
    rounded to 6 decimals, and the per-doc sum runs over those rounded
    values as DECIMAL — associative, so bit-identical under any
    partitioning (and exactly SQL-checkable).
    """
    from wikipedia_data_pipeline_spark.operators.text import tokenize

    toks = tokenize(documents)
    vocab = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    wsurp = vocab.crossJoin(F.broadcast(total)).select(
        "word",
        F.round(
            F.log2(F.col("total").cast("double") / F.col("cnt").cast("double")),
            6,
        )
        .cast("decimal(18,6)")
        .alias("surp"),
    )
    return (
        toks.join(F.broadcast(wsurp), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("surp").alias("surp_dec"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.col("surp_dec").cast("double") / F.col("n_tokens"), 6
            ).alias("bits_per_token"),
        )
    )


# --- Winnowing (MOSS) fingerprints -----------------------------------------

WINNOW_HASH_MOD = (1 << 31) - 1  # Mersenne prime; poly base 131


def winnow_fingerprints(
    documents: DataFrame,
    k: int = 4,
    w: int = 5,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """MOSS winnowing (Schleimer, Wilkerson & Aiken, SIGMOD 2003):
    per document (``doc_id``, ``text``, plus any ``keep_cols`` carried
    through), hash every k-word gram with a two-level polynomial
    hash (chars -> word hash, word hashes -> gram hash, base 131 mod
    2^31-1 — portable: plain integer ops both engines evaluate
    identically, and each character is hashed once per document), then
    slide a w-gram window and keep the MINIMUM hash of each window.
    Output is one row per (document, DISTINCT selected hash).

    The winnowing guarantee: any shared token run of length
    >= w + k - 1 between two documents yields at least one shared
    fingerprint, while only ~2/(w+1) of grams are retained — the
    plagiarism/boilerplate detector that beats full k-gram shingles by
    w/2 in index size at equal recall for long matches.

    Scale shape: everything up to the explode is per-row array math
    inside whole-stage codegen (no shuffle, no UDF); the explode emits
    ~G/w rows per document. Documents with fewer than w + k - 1 tokens
    emit nothing.
    """
    from wikipedia_data_pipeline_spark.operators.text import token_array
    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    # the pipeline projects fixed intermediate names below; a caller
    # column with one of these names would be silently shadowed
    clash = {"toks", "whs", "fingerprint"} & set(keep_cols)
    if clash:
        raise ValueError(
            f"winnow_fingerprints: column(s) {sorted(clash)} collide with "
            "internal working names ('toks', 'whs', 'fingerprint'); "
            "rename or drop them before calling"
        )

    toks = token_array()
    # word char-hashes once -> gram hashes fold k WORD hashes (each
    # character is hashed exactly once per document, instead of ~k
    # times through concatenated gram strings) -> per-window minima,
    # all array-side. Each stage is LET-BOUND via transform(array(x),
    # v -> ...): Catalyst's projection collapse would otherwise inline
    # an intermediate column straight into the next stage's lambda
    # BODY, re-evaluating it once per element (measured 3x at the 100x
    # corpus when whs was a plain projected column). sequence(1, n)
    # flips DESCENDING when n < 1, so every sequence is gated behind a
    # size check (DuckDB's range(1, n<1) is just empty).
    fps = F.expr(
        f"""
        element_at(transform(array(whs), hsv ->
          CASE WHEN size(hsv) >= {k} THEN
            element_at(transform(array(
                transform(sequence(1, size(hsv) - {k - 1}),
                          p -> aggregate(slice(hsv, p, {k}),
                                         cast(0 as bigint),
                                         (acc, x) -> (acc * 131 + x)
                                           % {WINNOW_HASH_MOD}))), hs ->
              CASE WHEN size(hs) >= {w} THEN
                array_distinct(
                  transform(sequence(1, size(hs) - {w - 1}),
                            q -> array_min(slice(hs, q, {w}))))
              ELSE array() END), 1)
          ELSE array() END), 1)
        """
    )
    word_hashes = F.expr(
        f"""
        transform(toks,
          w -> aggregate(
                 transform(sequence(1, length(w)),
                           i -> cast(ascii(substr(w, i, 1)) as bigint)),
                 cast(0 as bigint),
                 (acc, x) -> (acc * 131 + x) % {WINNOW_HASH_MOD}))
        """
    )
    return (
        fan_out(documents)
        .select("doc_id", *keep_cols, toks.alias("toks"))
        .select("doc_id", *keep_cols, word_hashes.alias("whs"))
        .select("doc_id", *keep_cols, F.explode(fps).alias("fingerprint"))
    )
