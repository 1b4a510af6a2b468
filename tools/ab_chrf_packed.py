"""Interleaved A/B: ml_eval_chrf's (n, g, is_c) STRUCT gram stream vs
a PACKED-LONG variant (v = xxhash64(gram) << 4 | n << 1 | is_c).

chrF is the probe's heaviest Spark row (177 s at the 100x replica
post-repartition-fix): the 1..6-char-gram stream is ~12x the corpus
characters, and each occurrence currently materializes a 3-field
struct inside per-document arrays before the explode. Packing the
whole occurrence into ONE primitive long keeps the per-doc arrays
primitive (no struct allocation), halves the exploded row width, and
collapses the aggregate key to a single long — (doc_id, v >> 1)
groups candidate and reference occurrences of the same (n, gram)
together, bit 0 separates the sides inside the aggregate, and
n = (v >> 1) & 7 recovers the per-n split afterwards.

Correctness: tools/ab.py checks the variant's full output EQUAL to the
registered query's before any timing. Interleaved P,S,P,S,P,S after
warming both (AB_KMV_r11 discipline); keep the packed form iff its
best-of-3 beats the struct form by more than the 20% noise band.

Usage: python tools/ab.py chrf_packed [rounds]
"""

from __future__ import annotations

from pyspark.sql import functions as F


_NS = (1, 2, 3, 4, 5, 6)
_BETA_SQ = 4


def chrf_packed(spark, sf_dir):
    """Packed-long gram-stream variant of ml_eval_chrf (same output)."""
    from wikipedia_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    toks = F.split(F.col("text"), " ")
    clen = F.greatest(
        F.expr("(size(split(text, ' ')) * 4) div 5"), F.lit(1)
    )
    d = docs.select(
        "doc_id",
        F.concat_ws(
            "",
            F.transform(
                F.sequence(F.lit(1), clen),
                lambda i: F.when((i % 7) == 0, F.lit("UNK")).otherwise(
                    F.element_at(toks, i.cast("int"))
                ),
            ),
        ).alias("cstr"),
        F.concat_ws("", toks).alias("rstr"),
    )

    def grams(col, n, flag):
        return F.transform(
            F.sequence(
                F.lit(1),
                F.greatest(F.length(F.col(col)) - (n - 1), F.lit(0)),
            ),
            lambda i: F.shiftleft(
                F.xxhash64(F.substr(F.col(col), i, F.lit(n))), 4
            ).bitwiseOR(F.lit(n * 2 + flag)),
        )

    exploded = d.select(
        "doc_id",
        F.explode(
            F.flatten(
                F.array(
                    *[grams("cstr", n, 1) for n in _NS],
                    *[grams("rstr", n, 0) for n in _NS],
                )
            )
        ).alias("v"),
    )
    cg = exploded.groupBy(
        "doc_id", F.expr("shiftright(v, 1)").alias("k")
    ).agg(
        F.sum(F.expr("cast(v & 1 as bigint)")).cast("long").alias("c_cnt"),
        F.sum(F.expr("cast(1 - (v & 1) as bigint)"))
        .cast("long")
        .alias("r_cnt"),
    )
    m = cg.groupBy(F.expr("cast(k & 7 as int)").alias("n")).agg(
        F.sum(F.least(F.col("c_cnt"), F.col("r_cnt")))
        .cast("long")
        .alias("matches")
    )
    ns = spark.range(1, 7).select(F.col("id").cast("int").alias("n"))
    tot = (
        d.crossJoin(F.broadcast(ns))
        .groupBy("n")
        .agg(
            F.sum(
                F.greatest(
                    F.length(F.col("cstr")) - F.col("n") + 1, F.lit(0)
                )
            )
            .cast("long")
            .alias("c_total"),
            F.sum(
                F.greatest(
                    F.length(F.col("rstr")) - F.col("n") + 1, F.lit(0)
                )
            )
            .cast("long")
            .alias("r_total"),
        )
    )
    md = F.col("matches").cast("double")
    p = md / F.col("c_total").cast("double")
    r = md / F.col("r_total").cast("double")
    chr_f = F.when(F.col("matches") == 0, F.lit(0.0)).otherwise(
        (1 + _BETA_SQ) * p * r / (_BETA_SQ * p + r)
    )
    pn = m.join(tot, "n").select(
        F.col("n").cast("long").alias("n"),
        "matches",
        "c_total",
        "r_total",
        p.alias("chr_p"),
        r.alias("chr_r"),
        chr_f.alias("chr_f"),
    )
    avgf = pn.agg(
        (
            F.sum(F.round(1e9 * F.col("chr_f")).cast("long")).cast("double")
            / F.count(F.lit(1))
            / 1e9
        ).alias("chrf_avg")
    )
    return pn.crossJoin(F.broadcast(avgf))


ARTIFACT = "AB_CHRF_PACKED_r12.json"
PAIRS = [("ml_eval_chrf", chrf_packed)]
