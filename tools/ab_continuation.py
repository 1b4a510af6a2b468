"""Interleaved A/B: registered dedup_doc_continuation vs two rewrites.

The first honest probe of this query (r14 sweep) read 37.9 s at 100x —
now the heaviest non-timeout row. Two independent causes:

1. the boundary-key relation `hk` feeds BOTH sides of the tail=head
   self-join with no persist, so the full normalization pass runs
   TWICE (Spark does no cross-subtree CSE) — fix: pin it (``ranks.pin``);
2. normalization is a PER-TOKEN regexp_replace inside a transform
   lambda (~|tokens| regex invocations per document) — fix: one
   whole-text regex that keeps letters AND the single-space delimiter
   (`[^a-zA-Z ]` -> ''), then lower + split + filter-empty: identical
   token lists (tokens are space-delimited; a token with no letters
   normalizes to '' and is filtered in both forms), ~1 regex call per
   document instead of ~|tokens|.

Variants: `persist_only` isolates (1); `persist_single_regex` adds (2).

Usage: python tools/ab.py continuation [rounds]
Flip iff >20% at the 100x replica.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators.ranks import pin

_K = 3


def _finish(hk):
    a = hk.select(
        F.col("doc_id").alias("tail_doc"), F.col("tail").alias("overlap")
    )
    b = hk.select(F.col("doc_id").alias("head_doc"), F.col("head"))
    return (
        a.join(b, a["overlap"] == b["head"])
        .filter(F.col("tail_doc") != F.col("head_doc"))
        .select("tail_doc", "head_doc", "overlap")
    )


def continuation_persist_only(spark, sf_dir):
    from wikipedia_data_pipeline_spark.operators.text import (
        NORMALIZE_PATTERN,
        TOKEN_DELIMITER,
    )
    from wikipedia_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.transform(
            F.split(F.col("text"), TOKEN_DELIMITER),
            lambda w: F.lower(F.regexp_replace(w, NORMALIZE_PATTERN, "")),
        ),
        lambda w: F.length(w) > 0,
    )
    hk = (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 2 * _K)
        .select(
            "doc_id",
            F.concat_ws(" ", F.slice("toks", 1, _K)).alias("head"),
            F.concat_ws(" ", F.slice("toks", -_K, _K)).alias("tail"),
        )
    )
    return _finish(pin(hk))


def continuation_single_regex(spark, sf_dir):
    from wikipedia_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(
            F.lower(F.regexp_replace(F.col("text"), "[^a-zA-Z ]", "")), " "
        ),
        lambda w: F.length(w) > 0,
    )
    hk = (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 2 * _K)
        .select(
            "doc_id",
            F.concat_ws(" ", F.slice("toks", 1, _K)).alias("head"),
            F.concat_ws(" ", F.slice("toks", -_K, _K)).alias("tail"),
        )
    )
    return _finish(pin(hk))


ARTIFACT = "AB_CONTINUATION_r14.json"
PAIRS = [
    ("dedup_doc_continuation", continuation_persist_only),
    ("dedup_doc_continuation", continuation_single_regex),
]
