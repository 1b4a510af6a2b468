"""Interleaved A/B: registered ROUGE-N (one explode of xxhash64
token-gram fingerprints + one (doc, n, gram) hash agg) vs the
token-gram NumPy partials that ml_eval_bleu_corpus already runs: an
Arrow-batched kernel tokenizes each doc in the Python worker, assigns
per-doc exact integer token ids, builds rolling injective gram codes,
and emits per-batch partial sums (n, matches, c_total, r_total).
ROUGE-N recall is matches / r_total of the same partials, so the
variant is the registered BLEU kernel (``_token_gram_partials``) with
n = 1, 2 and ROUGE's tail.

BLEU flipped to the kernel (row AB_BLEU_NUMPY_r13 of
artifacts/ab/DECISIONS.md, 2.2x); ROUGE was kept at 16%, inside the
band. Open: the re-run under the shipped session config has the
kernel well ahead at the 100x replica.

Usage: python tools/ab.py bleu_numpy [rounds]
Flip iff >20% at the 100x replica.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.queries.generation_queries import (
    _token_gram_partials,
)


def rouge_numpy_variant(spark, sf_dir):
    mt = _token_gram_partials(spark, sf_dir, (1, 2))
    return mt.select(
        F.col("n").cast("long").alias("n"),
        "matches",
        F.col("r_total").alias("total_ref"),
        (
            F.col("matches").cast("double")
            / F.col("r_total").cast("double")
        ).alias("rouge_n_recall"),
    ).orderBy("n")


ARTIFACT = "AB_BLEU_NUMPY_r13.json"
PAIRS = [("ml_eval_rouge_n", rouge_numpy_variant)]
