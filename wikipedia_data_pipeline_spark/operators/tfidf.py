"""The TF-IDF pipeline — the reference's entire Task 1 + Task 3 surface
as lazy DataFrame programs (SURVEY.md §2, §3, §7 steps 0-1).

Reference semantics preserved (file:line into /root/reference):
  * per-doc hash-agg word counts            — DocInfo.java:32-35   (A2)
  * per-doc top-K vocabulary cap (20000)    — DocInfo.java:37-47   (W2)
  * TF = round(count / RAW token count, 2)  — DocInfo.java:88-91
    (denominator counts tokens BEFORE normalization/empty-filtering)
  * drop rows whose rounded TF = 0.00       — DocInfo.java:50      (P5)
  * document frequency = #docs containing w — DocInfo.java:95-97   (A3)
  * IDF = round(log10(N / df), 2), keep > 0 — DocInfo.java:114-117 (P6)
  * TF-IDF = round(tf * idf, 2), inner join — TF_IDFWorker.java:29-46 (J1)
  * Task-1 dictionary: corpus counts, top 5000, rank, UPPER
                                            — Main.java:82-110 (A1,W1,W3,P7)

What changes vs the reference: the 3 thread-pool stages + file/S3 IR
(Main.java:146-254) collapse into one lazy plan with exactly two shuffles
(the (doc_id, word) agg and the word-level df agg); the O(n·m)
re-read-idf-per-row nested loop join becomes a broadcast hash join (the
idf side is bounded by |vocab|, small at any corpus scale); ties are
broken deterministically (count desc, word asc) where the reference's
hash-map iteration order was nondeterministic (Main.java:90-93).

Scale notes (100 TB corpus): tokenize is a narrow map — no shuffle.
Both aggs partial-aggregate map-side before shuffling. The idf relation
is |distinct vocab| rows (~millions at web scale, a few MB–GB) —
broadcastable; if vocabulary ever outgrows broadcast, drop the hint and
AQE picks sort-merge on the same plan. No driver-side state anywhere.

Every 2-decimal round is ``functions.round2``, the reference's
``Math.round(x * 100) / 100`` — not ``F.round(x, 2)``, which differs
from it at binary near-ties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.functions import round2
from wikipedia_data_pipeline_spark.operators.ranks import pin
from wikipedia_data_pipeline_spark.operators.text import tokenize, with_raw_token_count

PER_DOC_VOCAB_CAP = 20000  # DocInfo.java:39
DICTIONARY_CAP = 5000  # Main.java:92
TASK1_PROBE_WORDS = ["during", "and", "time", "protein", "car"]  # Main.java:99-103
# Probe words guaranteed present in the driver testdata vocabulary, so the
# probe query exercises a non-empty IN-set path (reference list stays above).
CORPUS_PROBE_WORDS = ["join", "hash", "stream", "window", "dup"]


def doc_term_counts(documents: DataFrame) -> DataFrame:
    """(doc_id, word, count) — per-document hash aggregation (A2)."""
    return (
        tokenize(documents)
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("count"))
    )


def doc_tf(documents: DataFrame, counts: DataFrame | None = None) -> DataFrame:
    """(doc_id, word, count, tf) with the per-doc top-``PER_DOC_VOCAB_CAP``
    cap and TF>0 filter.

    The raw-token denominator joins back onto the counts by doc_id; Spark
    plans this doc_id-keyed join alongside the agg shuffle, and at scale
    both sides are co-partitioned on doc_id so the join is shuffle-free
    after the agg. ``counts`` lets a caller share one (possibly persisted)
    ``doc_term_counts`` relation across the TF and IDF branches.
    """
    if counts is None:
        counts = doc_term_counts(documents)
    denom = with_raw_token_count(documents).select("doc_id", "raw_token_count")
    w = Window.partitionBy("doc_id").orderBy(F.desc("count"), F.asc("word"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PER_DOC_VOCAB_CAP)
        .drop("rn")
        .join(denom, "doc_id")
        .withColumn("tf", round2(F.col("count") / F.col("raw_token_count")))
        .filter(F.col("tf") > 0)
        .select("doc_id", "word", "count", "tf")
    )


def idf(documents: DataFrame, counts: DataFrame | None = None) -> DataFrame:
    """(word, idf) — document frequency → round(log10(N/df), 2), keep > 0.

    Document frequency is derived from ``doc_term_counts`` (whose keys
    are already distinct per (doc_id, word)) instead of a separate
    tokenize→distinct. ``counts`` lets ``tfidf`` pass one persisted
    relation so the tokenize+agg runs once for both TF and IDF.

    N (total docs) is computed as a 1-row aggregate and cross-joined
    (broadcast, free) rather than collected driver-side, so the whole
    program stays one lazy plan.
    """
    if counts is None:
        counts = doc_term_counts(documents)
    df_counts = counts.groupBy("word").agg(F.count("*").alias("df"))
    n_docs = documents.select(F.count("*").alias("n_docs"))
    return (
        df_counts.crossJoin(F.broadcast(n_docs))
        .withColumn(
            "idf", round2(F.log10(F.col("n_docs").cast("double") / F.col("df")))
        )
        .filter(F.col("idf") > 0)
        .select("word", "idf")
    )


def tfidf_join(doc_tf_rel: DataFrame, idf_rel: DataFrame) -> DataFrame:
    """Stage C (J1): broadcast inner join + TF-IDF formula.

    Factored out of :func:`tfidf` so the golden-corpus replay test can
    drive the exact production join/formula path on reconstructed
    ``(doc_tf, idf)`` inputs (TF_IDFWorker.java:29-46).
    """
    return (
        doc_tf_rel.join(F.broadcast(idf_rel), "word", "inner")
        .withColumn("tf_idf", round2(F.col("tf") * F.col("idf")))
        .select("doc_id", "word", "count", "tf", "tf_idf")
    )


def tfidf(documents: DataFrame) -> DataFrame:
    """(doc_id, word, count, tf, tf_idf) — the golden-corpus relation.

    Broadcast inner join on word (J1): doc words whose IDF rounds to ≤ 0
    drop out, exactly as in the reference's inner nested-loop join.

    The (doc_id, word) counts feed both the TF branch and the IDF
    branch; a pushed-down join-key null filter makes the two subtrees
    non-identical, so Spark's ReusedExchange does NOT unify them —
    persist the counts once instead (the cluster-scale equivalent is
    checkpointing the term-count relation between stages). Pinned with
    ``ranks.pin``, so ``unpersist_all()`` releases it between timed
    runs.
    """
    counts = pin(doc_term_counts(documents))
    return tfidf_join(
        doc_tf(documents, counts=counts), idf(documents, counts=counts)
    )


def task1_dictionary(documents: DataFrame) -> DataFrame:
    """(word UPPER, rank 0-based, count) — corpus top-``DICTIONARY_CAP``
    dictionary.

    orderBy+limit lowers to TakeOrderedAndProject (partial top-K per
    partition, no full sort); the rank window then runs over ≤
    DICTIONARY_CAP rows.
    """
    counts = (
        tokenize(documents).groupBy("word").agg(F.count("*").alias("count"))
    )
    w = Window.orderBy(F.desc("count"), F.asc("word"))
    return (
        counts.orderBy(F.desc("count"), F.asc("word"))
        .limit(DICTIONARY_CAP)
        .withColumn("rank", (F.row_number().over(w) - 1).cast("long"))
        .select(F.upper(F.col("word")).alias("word"), "rank", "count")
    )


def task1_probe(documents: DataFrame, probe_words: list[str] | None = None) -> DataFrame:
    """Dictionary filtered to the reference's 5 probe words (P8/J2)."""
    words = [w.upper() for w in (probe_words or TASK1_PROBE_WORDS)]
    return task1_dictionary(documents).filter(F.col("word").isin(words))


def tfidf_with_df(
    documents: DataFrame, df_times_le_ndocs: int | None = None
) -> DataFrame:
    """tfidf() plus each word's document frequency — the extra column
    downstream similarity joins need for prefix-filter pruning (cap the
    posting-list length before a word-keyed self-join). Same persisted
    single-scan shape as tfidf().

    ``df_times_le_ndocs=k`` applies the scale-relative cap
    ``df * k <= n_docs`` (keep words in at most 1/k of documents) on
    the WORD-level relation — |vocab| rows — so the cap costs nothing
    and the big doc_tf side joins an already-pruned broadcast."""
    counts = pin(doc_term_counts(documents))
    df_counts = counts.groupBy("word").agg(F.count("*").alias("df"))
    n_docs = documents.select(F.count("*").alias("n_docs"))
    idf_rel = (
        df_counts.crossJoin(F.broadcast(n_docs))
        .withColumn(
            "idf",
            round2(F.log10(F.col("n_docs").cast("double") / F.col("df"))),
        )
        .where(F.col("idf") > 0)
    )
    if df_times_le_ndocs is not None:
        idf_rel = idf_rel.where(
            F.col("df") * df_times_le_ndocs <= F.col("n_docs")
        )
    idf_rel = idf_rel.select("word", "idf", "df")
    return (
        doc_tf(documents, counts=counts)
        .join(F.broadcast(idf_rel), "word", "inner")
        .withColumn("tf_idf", round2(F.col("tf") * F.col("idf")))
        .select("doc_id", "word", "count", "tf", "tf_idf", "df")
    )
