"""Positional inverted index + phrase search.

The index is the classic IR layout as a DataFrame: one posting row per
(word, doc_id, pos), partitionable by word — the layout a search
pipeline writes once (bucketed/partitioned by word so a term lookup
prunes to one partition) and queries many times.

Phrase search is an n-way self-equi-join of the phrase terms' postings
on (doc_id, pos - i): occurrence starts are exactly the rows where all
n terms line up at consecutive positions. Catalyst pushes the
``word = term_i`` filters into the scan, so each join input is one
term's posting list, not the whole index; the joins are equi-joins on
(doc_id, start) and broadcast when a term is rare — at 100 TB this is
a handful of narrow scans over a word-partitioned table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators.text import token_array


def positional_postings(documents: DataFrame) -> DataFrame:
    """(word, doc_id, pos) postings with 0-based token positions over
    the normalized token stream of ``text`` (empty-normalized tokens
    dropped, so positions index REAL words — phrase adjacency survives
    punctuation tokens). posexplode keeps it one narrow projection, no
    shuffle."""
    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    toks = token_array()
    return (
        fan_out(documents)
        .select(F.col("doc_id").alias("doc_id"), F.posexplode(toks))
        .select("doc_id", F.col("col").alias("word"), F.col("pos").cast("long").alias("pos"))
    )


def phrase_search(postings: DataFrame, phrase: list[str]) -> DataFrame:
    """All occurrences of the exact word sequence ``phrase``:
    (doc_id, start_pos) per occurrence. Term i's postings are filtered
    at the scan and joined on (doc_id, pos - i) == (doc_id, start)."""
    if not phrase:
        raise ValueError("phrase must contain at least one word")
    result = (
        postings.where(F.col("word") == phrase[0])
        .select("doc_id", F.col("pos").alias("start_pos"))
    )
    for i, term in enumerate(phrase[1:], start=1):
        nxt = postings.where(F.col("word") == term).select(
            "doc_id", (F.col("pos") - i).alias("start_pos")
        )
        result = result.join(nxt, ["doc_id", "start_pos"], "inner")
    return result
