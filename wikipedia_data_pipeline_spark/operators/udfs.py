"""User-extensibility surface (SURVEY.md §2.9): vectorized pandas UDF,
Arrow-optimized Python UDF, grouped-map applyInPandas and a Python UDTF.

The reference has no user extension points; its per-document unit
(DocInfo.run) is behaviorally a grouped-map UDF, reproduced here as
``doc_top_word`` via applyInPandas. Rule of thumb encoded in these
implementations: built-ins > pandas UDF (Arrow-batched) > row-at-a-time
Python (~10-100× slower; no registered query uses a pickled scalar UDF).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType


@F.pandas_udf(LongType())
def pd_token_count(text: pd.Series) -> pd.Series:
    """Vectorized pandas UDF (Arrow batches): whitespace token count."""
    return text.str.split(" ").str.len().astype("int64")


def token_counts_pandas(documents: DataFrame) -> DataFrame:
    return documents.select(
        "doc_id", pd_token_count(F.col("text")).alias("ws_tokens")
    )


def _top_word(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-document grouped-map: token count + most frequent word
    (ties → lexicographically smallest) — DocInfo.run's job as a UDF."""
    out = []
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        toks = text.split(" ")
        counts: dict[str, int] = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        top = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((doc_id, len(toks), top[0], top[1]))
    return pd.DataFrame(
        out, columns=["doc_id", "n_tokens", "top_word", "top_count"]
    )


def doc_top_word(documents: DataFrame) -> DataFrame:
    """groupBy(doc_id).applyInPandas — arbitrary per-group Python with a
    declared output schema. Shuffles once on doc_id; each group is a
    small pandas frame."""
    return documents.select("doc_id", "text").groupBy("doc_id").applyInPandas(
        _top_word,
        schema="doc_id bigint, n_tokens bigint, top_word string, top_count bigint",
    )


def sentence_udtf():
    """Python UDTF (table function, Spark 3.5+): one input row ->
    variable output rows, the API class scalar/pandas/grouped UDFs
    can't express (those are 1->1 or group->1). Splits a document into
    sentences with per-sentence stats.

    UDTFs are the slowest Python path (row-at-a-time, no Arrow
    batching in the eval loop) — production splitting belongs in
    built-ins (posexplode over split()); this exists to complete the
    UDF API surface and as the template for logic that genuinely
    cannot be a composition of built-ins."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_id bigint, sentence string, n_words bigint")
    class SentenceSplit:
        def eval(self, text: str):
            if not text:
                return
            for i, raw in enumerate(text.split(". ")):
                s = raw.strip()
                if s:
                    yield i, s, len([w for w in s.split(" ") if w])

    return SentenceSplit


def doc_sentences(documents: DataFrame) -> DataFrame:
    """(doc_id, sent_id, sentence, n_words) via the sentence UDTF in a
    LATERAL join — each document row feeds the table function."""
    SentenceSplit = sentence_udtf()
    spark = documents.sparkSession
    documents.select("doc_id", "text").createOrReplaceTempView("_udtf_docs")
    spark.udtf.register("wdp_sentence_split", SentenceSplit)
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_id, s.sentence, s.n_words
        FROM _udtf_docs d, LATERAL wdp_sentence_split(d.text) s
        """
    )


@F.pandas_udf(DoubleType())
def pd_median_value(v: pd.Series) -> float:
    """GROUPED_AGG pandas UDF (Series -> scalar, the UDAF shape):
    exact median. For even group sizes both numpy and standard SQL
    median average the two middle elements with one IEEE add+halve, so
    the result is engine-portable bit-for-bit on 2-decimal inputs."""
    import numpy as np

    return float(np.median(v.to_numpy()))


def user_value_medians(events: DataFrame) -> DataFrame:
    """Per-user median event value via the grouped-aggregate pandas
    UDF — the custom-UDAF surface (built-in `median` exists since
    Spark 3.4; the UDF form is the template for aggregates Spark
    lacks). Executes as a real aggregate: partial batches stream per
    group, one scalar out."""
    return events.groupBy("user_id").agg(
        pd_median_value(F.col("value")).alias("median_value")
    )


def arrow_long_words(documents: DataFrame) -> DataFrame:
    """Arrow-optimized Python UDF (Spark 4 `useArrow=True`): scalar
    Python semantics with Arrow-batched transport — the middle ground
    between the pickled row-at-a-time UDF and a pandas UDF. Counts
    words longer than 6 characters per document."""
    @F.udf(returnType="long", useArrow=True)
    def n_long(text: str) -> int:
        if not text:
            return 0
        return sum(1 for w in text.split(" ") if len(w) > 6)

    return documents.select(
        "doc_id", n_long(F.col("text")).alias("n_long_words")
    )
