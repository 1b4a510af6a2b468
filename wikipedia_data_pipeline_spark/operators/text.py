"""Tokenization / normalization operators (reference P1–P4).

The reference tokenizes per-document on single spaces and normalizes by
stripping non-``[a-zA-Z]`` and lowercasing (Main.java:84-86,
DocInfo.java:26,33-34 in /root/reference). Here the whole corpus is one
DataFrame; tokenization is ``explode(split(...))`` so it pipelines inside
whole-stage codegen with no Python in the loop.

Also provided: the pseudo-XML wiki-line parser (P1, DocInfo.java:23-26)
for ingesting the reference's raw source format
``<doc id=".." url="..">body</doc>`` from plain text files.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Single-space split — same delimiter the reference uses (Main.java:84).
TOKEN_DELIMITER = " "
NORMALIZE_PATTERN = "[^a-zA-Z]"


def normalize_word(col: Column) -> Column:
    """lower(strip non-alpha) — reference P3 (Main.java:85)."""
    return F.lower(F.regexp_replace(col, NORMALIZE_PATTERN, ""))


def token_array() -> Column:
    """The ``text`` column's tokens as an array column: split on
    TOKEN_DELIMITER, each normalized by ``normalize_word``, empties
    dropped."""
    return F.filter(
        F.transform(F.split(F.col("text"), TOKEN_DELIMITER), normalize_word),
        lambda w: F.length(w) > 0,
    )


def with_raw_token_count(documents: DataFrame) -> DataFrame:
    """Add ``raw_token_count`` = whitespace-token count of ``text`` BEFORE
    normalization.

    This is the reference's TF denominator (DocInfo.java:26,89): tokens
    that normalize to empty still inflate it.
    """
    return documents.withColumn(
        "raw_token_count", F.size(F.split(F.col("text"), TOKEN_DELIMITER)).cast("long")
    )


def tokenize(documents: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """corpus → one row per (doc_id, word) of ``text``, normalized,
    empties dropped; ``id_col`` becomes ``doc_id``.

    Reference P2–P4. The explode itself is narrow; ``fan_out`` first
    spreads an under-split scan (small parquet = one row group = one
    task) across the cluster so the regex+explode work parallelizes —
    a no-op when the source already arrives wide.
    """
    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    return (
        fan_out(documents).select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.col("text"), TOKEN_DELIMITER)).alias("raw_word"),
        )
        .select("doc_id", normalize_word(F.col("raw_word")).alias("word"))
        .filter(F.length("word") > 0)
    )


def ngrams(documents: DataFrame, n: int = 3, id_col: str = "doc_id") -> DataFrame:
    """Word n-grams of ``text`` per document: (doc_id, ngram) with
    document order preserved inside each gram; ``id_col`` becomes
    ``doc_id``.

    Pure higher-order functions — build the normalized token array once,
    then ``transform(sequence(...))`` materializes each window as a
    space-joined string; no UDF, no shuffle until whatever aggregation
    follows. Documents with fewer than ``n`` tokens produce no rows.
    """
    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    toks = token_array()
    grams = F.transform(
        F.sequence(F.lit(1), F.size(F.col("toks")) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("toks"), i + j) for j in range(n)]
        ),
    )
    return (
        fan_out(documents)
        .select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
        .filter(F.size("toks") >= n)
        .select("doc_id", F.explode(grams).alias("ngram"))
    )


def parse_wiki_lines(lines: DataFrame) -> DataFrame:
    """Parse the reference's raw corpus format: one pseudo-XML doc per
    ``value`` line.

    ``<doc id="429180" url="..." title="...">body text</doc>`` →
    ``(doc_id STRING, text STRING)``. Mirrors DocInfo.java:23-26 semantics
    (substring id extraction; residual-tag strip) but with a clean regex
    so the closing ``</doc>`` never leaks into the last token (the
    reference's ``includedoc`` artifact, SURVEY.md §1.1).
    """
    c = F.col("value")
    return lines.select(
        F.regexp_extract(c, r'<doc id="([^"]*)"', 1).alias("doc_id"),
        F.trim(
            F.regexp_replace(
                F.regexp_extract(c, r">(.*)$", 1),
                r"<[^>]*>?",
                "",
            )
        ).alias("text"),
    ).filter(F.length("doc_id") > 0)


def parse_wiki_lines_compat(lines: DataFrame) -> DataFrame:
    """Bit-compatible replay of the reference's parser (DocInfo.java:22-26)
    over the ``value`` lines.

    ``line.split(">")[1]`` keeps everything between the first and second
    ``>`` — i.e. the body with a dangling ``</doc`` glued to the last
    token — then strips only COMPLETE tags (``<[^>]+>``) and trims.
    The dangling fragment therefore survives into tokenization, which is
    what produces the golden corpus's merged-last-token artifact
    (``include`` + ``</doc`` → ``includedoc``, SURVEY.md §1.1,
    TF-IDF-Docs/418298.csv:5). Use :func:`parse_wiki_lines` for clean
    ingestion; use this only to replay golden outputs bit-for-bit.
    """
    c = F.col("value")
    return lines.select(
        F.regexp_extract(c, r'<doc id="([^"]*)" url="', 1).alias("doc_id"),
        F.trim(
            F.regexp_replace(F.split(c, ">").getItem(1), r"<[^>]+>", "")
        ).alias("text"),
    ).filter(F.length("doc_id") > 0)


def chunk_documents(
    documents: DataFrame, chunk_tokens: int = 64, stride: int = 48
) -> DataFrame:
    """Fixed-size token chunking of ``text`` with overlap (stride <
    chunk_tokens) — the RAG-indexing / long-document-training split. One
    narrow sequence+explode+slice projection, no UDF, no shuffle: chunk
    starts are sequence(0, n-1, stride), each chunk is
    slice(tokens, start+1, chunk_tokens) rejoined with spaces.

    Output: (doc_id, chunk_id, chunk_start, n_chunk_tokens, chunk_text).
    Chunks preserve document order; the final chunk may be short.
    Empty documents produce no chunks.
    """
    toks = token_array()
    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    with_toks = fan_out(documents).select(
        F.col("doc_id").alias("doc_id"), toks.alias("_toks")
    ).where(F.size("_toks") > 0)
    starts = F.sequence(
        F.lit(0), F.size("_toks") - 1, F.lit(stride)
    )
    return (
        with_toks.select(
            "doc_id", "_toks", F.explode(starts).alias("chunk_start")
        )
        .select(
            "doc_id",
            (F.col("chunk_start") / stride).cast("long").alias("chunk_id"),
            F.col("chunk_start").cast("long").alias("chunk_start"),
            F.slice(
                F.col("_toks"), F.col("chunk_start") + 1, chunk_tokens
            ).alias("_chunk"),
        )
        .select(
            "doc_id",
            "chunk_id",
            "chunk_start",
            F.size("_chunk").cast("long").alias("n_chunk_tokens"),
            F.array_join("_chunk", " ").alias("chunk_text"),
        )
    )
