"""Interleaved A/B: ml_eval_bleu_corpus with xxhash64 gram
fingerprints (registered, round 12) vs the round-11 string-gram form
(r11 verdict item #5).

The r11 probe measured BLEU at 68 s on the 100x replica — the slowest
query in the probe — with the (doc, n, gram) hash agg shuffling
up-to-4-token STRINGS. Clipping (min(c_cnt, r_cnt)) only needs gram
EQUALITY, so the registered form now fingerprints each gram to a
single xxhash64 long inside the explode struct (the 8-byte-key trick
text_span_dedup_stats already uses). This runner interleaves the two
forms F,S,F,S,F,S in ONE process after warming both, per the
AB_KMV_r11 discipline. Decision rule: keep the fingerprint form iff
its best-of-3 beats the string form by more than the 20% noise band.

Both forms end in the same one-row brevity-penalty / BLEU-4 tail
(ab_bleu_numpy.bleu_scores), so they return the same rows.

Usage: python tools/ab.py bleu_fp [rounds]
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tools.ab_bleu_numpy import bleu_scores


def bleu_stringgram_baseline(spark, sf_dir):
    """Round-11 registered form: gram key = concat_ws string (kept
    here only as the A/B baseline; same output, same oracle)."""
    from wikipedia_data_pipeline_spark.sources.tables import fan_out, load_table

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    ns = (1, 2, 3, 4)
    toks = F.split(F.col("text"), " ")
    clen = F.greatest(F.expr("(size(split(text, ' ')) * 4) div 5"), F.lit(1))
    d = docs.select(
        "doc_id", toks.alias("toks"), clen.alias("clen"), F.size(toks).alias("rlen")
    ).withColumn(
        "ctoks",
        F.transform(
            F.sequence(F.lit(1), F.col("clen")),
            lambda i: F.when((i % 7) == 0, F.lit("UNK")).otherwise(
                F.element_at(F.col("toks"), i.cast("int"))
            ),
        ),
    )

    def grams(arr_col, n, flag):
        return F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.size(F.col(arr_col)) - (n - 1), F.lit(0))
            ),
            lambda i: F.struct(
                F.lit(n).alias("n"),
                F.concat_ws(
                    " ",
                    *[
                        F.element_at(F.col(arr_col), (i + j).cast("int"))
                        for j in range(n)
                    ],
                ).alias("g"),
                F.lit(flag).alias("is_c"),
            ),
        )

    exploded = d.select(
        "doc_id",
        F.explode(
            F.flatten(
                F.array(
                    *(
                        [grams("ctoks", n, 1) for n in ns]
                        + [grams("toks", n, 0) for n in ns]
                    )
                )
            )
        ).alias("s"),
    ).select("doc_id", "s.n", "s.g", "s.is_c")
    counts = exploded.groupBy("doc_id", "n", "g").agg(
        F.sum("is_c").alias("c_cnt"), F.sum(1 - F.col("is_c")).alias("r_cnt")
    )
    m = counts.groupBy("n").agg(
        F.sum(F.least("c_cnt", "r_cnt")).cast("long").alias("matches")
    )
    tot = d.agg(
        *[
            F.sum(F.greatest(F.col("clen") - (n - 1), F.lit(0)))
            .cast("long")
            .alias(f"t{n}")
            for n in ns
        ],
        F.sum("clen").cast("long").alias("cand_tokens"),
        F.sum("rlen").cast("long").alias("ref_tokens"),
    )
    mp = m.agg(
        *[
            F.max(F.when(F.col("n") == n, F.col("matches")))
            .cast("long")
            .alias(f"m{n}")
            for n in ns
        ]
    )
    return bleu_scores(mp.crossJoin(F.broadcast(tot)))


ARTIFACT = "AB_BLEU_r12.json"
PAIRS = [("ml_eval_bleu_corpus", bleu_stringgram_baseline)]
