"""Training-corpus curation: PII scrubbing + the end-to-end filter
pipeline (the query an LLM data team actually ships).

All pure ``pyspark.sql.functions`` regex/column expressions — narrow
maps, whole-stage codegen, zero Python in the hot path. The composite
pipeline stacks: language gate → quality gates → exact-dedup keep →
PII scrub. Every stage is individually oracle-checked elsewhere; the
composite is registered with its own end-to-end oracle
(queries.text_queries.documents_curation_pipeline).

Scale: the only wide operation in the composite is the dedup keep
(hash agg on content hash); everything else pipelines in one scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Deliberately simple, deterministic patterns — the point is the
# operator shape (ordered regex rewrite chain), not NLP-grade recall.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "\\+?[0-9][0-9()\\-. ]{7,}[0-9]"
IPV4_RE = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

PII_RULES: list[tuple[str, str]] = [
    (EMAIL_RE, "<EMAIL>"),
    (IPV4_RE, "<IP>"),
    (PHONE_RE, "<PHONE>"),
]

# Length gates shared by curate() and curation_funnel(): shorter texts
# are junk, longer ones pathological.
MIN_CHARS = 20
MAX_CHARS = 1_000_000


def scrub_pii(col: Column) -> Column:
    """Ordered regex rewrite chain. Email before phone: an address like
    ``a1234567890@x.com`` must become one ``<EMAIL>``, not a ``<PHONE>``
    inside an address."""
    out = col
    for pattern, token in PII_RULES:
        out = F.regexp_replace(out, pattern, token)
    return out


def curate(
    documents: DataFrame, languages: list[str] | None = None
) -> DataFrame:
    """The end-to-end curation pipeline:

    1. language gate on ``languages`` (default English; metadata column —
       swap in ``textstats.language_id`` when labels are absent);
    2. length gates, ``MIN_CHARS`` to ``MAX_CHARS`` (junk / pathological
       documents);
    3. exact-dedup keep: one representative (min doc_id) per distinct
       content — the composite's single shuffle;
    4. PII scrub on the surviving text.

    Output: ``(doc_id, lang, text_clean, n_chars)`` — the training
    corpus relation.
    """
    from pyspark.sql import Window

    langs = languages or ["en"]
    gated = documents.filter(
        F.col("lang").isin(langs)
        & (F.length("text") >= MIN_CHARS)
        & (F.length("text") <= MAX_CHARS)
    )
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    return (
        gated.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "doc_id",
            "lang",
            scrub_pii(F.col("text")).alias("text_clean"),
            F.length("text").cast("long").alias("n_chars"),
        )
    )


def segment_dedup(
    documents: DataFrame, seg_words: int = 10
) -> DataFrame:
    """Segment-level (line-level) dedup, the C4/RefinedWeb shape: split
    each document into fixed ``seg_words``-word segments, drop every
    segment whose exact text already occurred earlier in the corpus
    (first occurrence by ``(doc_id, seg_idx)`` wins), and reassemble the
    surviving segments in document order.

    Output: ``(doc_id, n_segs, n_kept, text_clean)``.

    Scale shape: segmentation is a narrow higher-order-function map
    (``split``/``sequence``/``transform``/``slice`` — no Python, stays
    in whole-stage codegen) followed by ``posexplode``; the global
    first-occurrence decision is ONE shuffle partitioned by segment
    text (at 100 TB you would shuffle ``xxhash64(seg)`` + a sample
    verify instead of the raw string to keep shuffle rows narrow — same
    plan, narrower key); reassembly is one shuffle back on doc_id with
    ``sort_array(collect_list(struct(idx, seg)))`` restoring order
    without a per-group sort.
    """
    # let-bound token array: an inline split would re-run once per
    # segment inside the lambda body (see dedup.hashed_shingles)
    segs = F.expr(
        f"""
        element_at(transform(array(split(text, ' ')), ws ->
          transform(sequence(0, cast(ceil(size(ws) / {float(seg_words)})
                                     as int) - 1),
                    i -> array_join(slice(ws, i * {seg_words} + 1,
                                          {seg_words}), ' '))), 1)
        """
    )
    exploded = documents.select(
        "doc_id", F.posexplode(segs).alias("seg_idx", "seg_text")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("seg_text").orderBy("doc_id", "seg_idx")
    kept = exploded.withColumn("_rn", F.row_number().over(w))
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segs"),
            F.sum(F.when(F.col("_rn") == 1, 1).otherwise(0)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("_rn") == 1,
                                F.struct(
                                    F.col("seg_idx"), F.col("seg_text")
                                ),
                            )
                        )
                    ),
                    lambda s: s.seg_text,
                ),
                " ",
            ).alias("text_clean"),
        )
        .select("doc_id", "n_segs", "n_kept", "text_clean")
    )


def quality_percentile_gate(
    documents: DataFrame, drop_below: float = 0.1
) -> DataFrame:
    """Relative quality gate: drop each language's bottom ``drop_below``
    fraction by type-token ratio (absolute thresholds misfire across
    languages; per-group percentile is the standard fix). Returns
    ``(doc_id, lang, ttr, pctl)`` for survivors.

    percent_rank over a (lang)-partitioned window — every language
    ranks in parallel, and the rank arithmetic is integer-derived, so
    the cut is bit-deterministic. At 100 TB a single giant language
    would make its window partition hot.
    """
    toks = F.split(F.col("text"), " ")
    ttr = F.size(F.array_distinct(toks)) / F.size(toks)
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy("ttr", "doc_id")
    return (
        documents.select("doc_id", "lang", ttr.alias("ttr"))
        .withColumn("pctl", F.percent_rank().over(w))
        .filter(F.col("pctl") >= drop_below)
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    order_cols: list[Column],
    cap: int,
) -> DataFrame:
    """Keep at most ``cap`` rows per group, chosen by a deterministic
    ranking — the per-domain/per-source document cap every crawl
    curation pipeline applies so one host cannot dominate the corpus.

    One row_number window per group key (a single shuffle on the group
    column). At 100 TB this beats groupBy+collect_list by never
    materializing a group in memory; skewed giant groups stream
    through the window operator's external sort. The rank column is
    dropped, so the output schema equals the input schema.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cap)
        .drop("_rn")
    )


def curation_funnel(documents: DataFrame) -> DataFrame:
    """Rejection accounting for the English curate() pipeline: every document
    classified by the FIRST gate that drops it (language -> too_short
    -> too_long -> duplicate) or 'kept' — the funnel report a curation
    run publishes so corpus shrinkage is attributable.

    Same gate predicates and dup-representative rule as curate()
    (min doc_id per md5(text) among gate-passing docs). One window
    over the gated subset + a left join back: the funnel costs one
    extra broadcast-sized aggregation, not a second pipeline.
    """
    from pyspark.sql import Window

    langs = ["en"]
    gated = documents.filter(
        F.col("lang").isin(langs)
        & (F.length("text") >= MIN_CHARS)
        & (F.length("text") <= MAX_CHARS)
    )
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    dup_rank = gated.select(
        "doc_id", F.row_number().over(w).alias("_rn")
    )
    reason = (
        F.when(~F.col("lang").isin(langs), "lang_rejected")
        .when(F.length("text") < MIN_CHARS, "too_short")
        .when(F.length("text") > MAX_CHARS, "too_long")
        .when(F.col("_rn") > 1, "duplicate")
        .otherwise("kept")
    )
    return (
        documents.join(dup_rank, "doc_id", "left")
        .select(reason.alias("reason"), F.col("n_chars"))
        .groupBy("reason")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars_total"),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    compare_cols: list[str],
) -> DataFrame:
    """Row-level diff between two corpus snapshots: 'added', 'removed',
    or 'changed' per key (unchanged rows are dropped — at release
    scale the diff is the small output, never the tables). One full
    outer join on the key; change detection compares md5 over the
    concatenated compare columns so arbitrarily wide rows reduce to
    one string equality."""
    def fp(df: DataFrame) -> Column:
        return F.md5(F.concat_ws("\x1f", *[F.col(c) for c in compare_cols]))

    o = old.select(F.col(key_col).alias("k"), fp(old).alias("old_fp"))
    n = new.select(F.col(key_col).alias("k"), fp(new).alias("new_fp"))
    joined = o.join(n, "k", "full_outer")
    change = (
        F.when(F.col("old_fp").isNull(), "added")
        .when(F.col("new_fp").isNull(), "removed")
        .when(F.col("old_fp") != F.col("new_fp"), "changed")
    )
    return (
        joined.select(F.col("k").alias(key_col), change.alias("change"))
        .where(F.col("change").isNotNull())
    )
