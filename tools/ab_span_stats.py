"""Interleaved A/B: registered text_span_dedup_stats vs two rewrites
(r13 verdict #2 — the heaviest non-timeout probe row, 23 s at 100x).

Registered shape: occ (positional 8-gram fingerprints, exploded) feeds
BOTH a count_distinct aggregate (gram -> nd) and the left side of an
occ JOIN gram_docs — occ has no persist, so the explode + slice-hash
gram computation runs TWICE and the occurrence stream is shuffled
twice (count_distinct partial + join side) before the per-doc agg.

Variant 1 (window): aggregate occ to (g, doc_id, cnt) FIRST — one
exchange with map-side partial agg — then nd = count(*) over
(partition by g) on the deduped pair relation, then the per-doc agg:

  n_spans     = sum(cnt)                    == count(*) over occ
  n_dup_spans = sum(cnt WHERE nd >= 2)      == the joined form's sum

One gram computation, no join, 3 exchanges of strictly smaller inputs.

Variant 2 (window + token-hash grams): same plan, but the gram
fingerprint is built from PER-TOKEN xxhash64 values combined with
xor-of-rotations instead of xxhash64(slice(tokens, i, 8)) — each
token's bytes are hashed ONCE instead of once per covering gram
(8x less string hashing; the rotation spacing keeps permuted grams
distinct). The fingerprint is internal to the plan (the oracle
recomputes on raw gram strings), so any injective-on-this-corpus
fingerprint yields identical output — proven by tools/ab.py's
exact-equality check and the oracle gate.

Usage: python tools/ab.py span_stats [rounds]
Flip iff >20% at the 100x replica.
"""

from __future__ import annotations

from pyspark.sql import functions as F

_N = 8


def _finish(occ):
    """Shared tail of both variants: (doc_id, g) occurrences ->
    per-doc span stats via pair dedup + windowed gram-doc count."""
    from pyspark.sql import Window

    pg = occ.groupBy("g", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    nd = F.count(F.lit(1)).over(Window.partitionBy("g"))
    return (
        pg.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_spans"),
            F.sum(F.when(F.col("nd") >= 2, F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            (
                F.col("n_dup_spans").cast("double") / F.col("n_spans")
            ).alias("dup_ratio"),
        )
    )


def span_stats_window_variant(spark, sf_dir):
    from wikipedia_data_pipeline_spark.sources.tables import fan_out, load_table

    documents = fan_out(load_table(spark, sf_dir, "documents"))
    grams = F.expr(
        f"""
        element_at(transform(array(split(text, ' ')), ts ->
          CASE WHEN size(ts) >= {_N} THEN
            transform(sequence(1, size(ts) - {_N - 1}),
                      i -> xxhash64(slice(ts, i, {_N})))
          ELSE array() END), 1)
        """
    )
    occ = documents.select(
        "doc_id", F.explode(grams.cast("array<bigint>")).alias("g")
    )
    return _finish(occ)


def span_stats_tokenhash_variant(spark, sf_dir):
    from wikipedia_data_pipeline_spark.sources.tables import fan_out, load_table

    documents = fan_out(load_table(spark, sf_dir, "documents"))
    # per-token xxhash64 once, then xor of per-position rotations:
    # g_i = XOR_j rot(h_{i+j}, 8*j) — bitwise ops, no ANSI overflow
    combine = " ^ ".join(
        f"(shiftleft(element_at(hs, i + {j}), {8 * j}) | "
        f"shiftrightunsigned(element_at(hs, i + {j}), {64 - 8 * j}))"
        if j
        else "element_at(hs, i)"
        for j in range(_N)
    )
    grams = F.expr(
        f"""
        element_at(transform(array(transform(split(text, ' '),
                                             t -> xxhash64(t))), hs ->
          CASE WHEN size(hs) >= {_N} THEN
            transform(sequence(1, size(hs) - {_N - 1}), i -> {combine})
          ELSE array() END), 1)
        """
    )
    occ = documents.select(
        "doc_id", F.explode(grams.cast("array<bigint>")).alias("g")
    )
    return _finish(occ)


ARTIFACT = "AB_SPAN_STATS_r14.json"
PAIRS = [
    ("text_span_dedup_stats", span_stats_window_variant),
    ("text_span_dedup_stats", span_stats_tokenhash_variant),
]
