"""Interleaved A/B: registered text_rake_keywords vs a phrase-explode
restructure.

The registered plan joins the token-level ``nons`` relation against
``phrase`` and consumes that join TWICE (wstat, pscore); with no
cross-subtree CSE the posexplode of the whole corpus re-runs for every
reference (~6 token-level passes per execution). The candidate derives
BOTH word stats and phrase scores by re-exploding the PERSISTED phrase
relation instead: split(ptext, ' ') recovers each phrase's exact word
multiset (words cannot contain spaces — they came from split(' ')), so

  wstat  = explode(phrase.ptext) -> (w, plen)  -> groupBy(w)
  pscore = explode(phrase.ptext) -> join broadcast(wstat) -> groupBy

are exactly the nons-join aggregations, with the token-level fact
touched twice total (stopword scan + segmentation) and the persisted
phrase relation (one row per candidate phrase, ~tokens/3 rows) serving
everything downstream.

Usage: python tools/ab.py rake_phrase [rounds]
Flip iff >20% at the 100x replica.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators.ranks import pin

_RAKE_K_STOP = 20
_RAKE_TOPK = 20


def rake_phrase_variant(spark, sf_dir):
    from pyspark.sql import Window

    from wikipedia_data_pipeline_spark.sources.tables import fan_out, load_table

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p0", "w")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "w")
    stop = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(_RAKE_K_STOP)
        .select("w")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("p")
    nons = (
        tok.join(F.broadcast(stop), "w", "left_anti")
        .withColumn("grp", F.col("p") - F.row_number().over(w_doc))
    )
    phrase = pin(
        nons.groupBy("doc_id", "grp")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("p"), F.col("w")))
                    ),
                    lambda s: s["w"],
                ),
            ).alias("ptext"),
            F.count(F.lit(1)).cast("long").alias("plen"),
        )
    )
    pw = phrase.select(
        "doc_id",
        "grp",
        "ptext",
        "plen",
        F.explode(F.split("ptext", " ")).alias("w"),
    )
    wstat = pw.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("deg"),
    )
    pscore = (
        pw.join(F.broadcast(wstat), "w")
        .groupBy("doc_id", "grp", "ptext")
        .agg(
            F.sum(
                F.round(
                    1e9 * F.col("deg").cast("double") / F.col("freq")
                ).cast("long")
            )
            .cast("long")
            .alias("score_nano")
        )
    )
    dedup = pscore.groupBy("ptext").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.max("score_nano").cast("long").alias("score_nano"),
    )
    return (
        dedup.orderBy(F.desc("score_nano"), "ptext")
        .limit(_RAKE_TOPK)
        .select(
            F.col("ptext").alias("phrase"),
            "n_occurrences",
            (F.col("score_nano").cast("double") / 1e9).alias("rake_score"),
        )
    )


ARTIFACT = "AB_RAKE_PHRASE_r13.json"
PAIRS = [("text_rake_keywords", rake_phrase_variant)]
