"""Interleaved A/B: registered BLEU-4 / ROUGE-N (one explode of
xxhash64 token-gram fingerprints + one (doc, n, gram) hash agg) vs the
chrF numpy-partials pattern applied to TOKEN grams: an Arrow-batched
kernel tokenizes each doc in the Python worker, assigns per-doc exact
integer token ids (np.unique inverse — exact string equality, no
collision assumption at all, stronger than xxhash64 fingerprints),
builds rolling injective gram codes, and emits per-batch partial sums
(n, matches, c_total, r_total). BLEU's t_n / cand_tokens / ref_tokens
are closed forms of the same partials (t_n = c_total_n, cand = c_total
at n=1, ref = r_total at n=1), so ONE kernel serves both metrics.

Context: AB_CHRF_NUMPY_r13 measured 23x on chrF, whose exploded stream
is ~12x corpus CHARS. The BLEU/ROUGE stream is ~8x/4x corpus TOKENS
(~6x smaller), so the expected win is smaller — this A/B prices it.
SCALE_PROBE_r13: ml_eval_bleu_corpus 10.09 s, ml_eval_rouge_n 5.0 s.

Usage: python tools/ab.py bleu_numpy [rounds]
Flip iff >20% at the 100x replica.
"""

from __future__ import annotations

from pyspark.sql import functions as F

_HASH_M = 0x9E3779B97F4A7C15


def _token_partials_kernel(ns):
    """Factory: per-batch token-gram partials for the given n levels.
    Tokenization replicates the Spark fixture exactly: split(' ') with
    trailing/interior empties kept, candidate = ceil-80% prefix with
    every 7th token (1-indexed) replaced by 'UNK'."""
    max_n = max(ns)

    def kernel(batches):
        import numpy as np
        import pandas as pd

        def clipped(a, b):
            if a.size == 0 or b.size == 0:
                return 0
            ua, ca = np.unique(a, return_counts=True)
            ub, cb = np.unique(b, return_counts=True)
            idx = np.searchsorted(ub, ua)
            idx[idx == ub.size] = 0
            mask = ub[idx] == ua
            if not mask.any():
                return 0
            return int(np.minimum(ca[mask], cb[idx[mask]]).sum())

        for pdf in batches:
            matches = {n: 0 for n in ns}
            c_tot = {n: 0 for n in ns}
            r_tot = {n: 0 for n in ns}
            for text in pdf["text"]:
                toks = (text or "").split(" ")
                clen = max(len(toks) * 4 // 5, 1)
                ctoks = [
                    "UNK" if i % 7 == 0 else toks[i - 1]
                    for i in range(1, clen + 1)
                ]
                uniq, inv = np.unique(
                    np.array(ctoks + toks, dtype=object), return_inverse=True
                )
                bits = max(int(len(uniq)).bit_length(), 1)
                M = (
                    np.uint64(1 << bits)  # injective: exact token equality
                    if max_n * bits <= 64
                    else np.uint64(_HASH_M)
                )
                inv = inv.astype(np.uint64) + np.uint64(1)  # ids >= 1
                cc = inv[: len(ctoks)]
                rr = inv[len(ctoks):]
                pc, pr = cc, rr
                for n in range(1, max_n + 1):
                    if n > 1:
                        pc = (
                            pc[: cc.size - n + 1] * M + cc[n - 1:]
                            if cc.size >= n
                            else cc[:0]
                        )
                        pr = (
                            pr[: rr.size - n + 1] * M + rr[n - 1:]
                            if rr.size >= n
                            else rr[:0]
                        )
                    if n in matches:
                        matches[n] += clipped(pc, pr)
                        c_tot[n] += max(cc.size - n + 1, 0)
                        r_tot[n] += max(rr.size - n + 1, 0)
            yield pd.DataFrame(
                {
                    "n": list(ns),
                    "matches": [matches[n] for n in ns],
                    "c_total": [c_tot[n] for n in ns],
                    "r_total": [r_tot[n] for n in ns],
                }
            )

    return kernel


def _partials(spark, sf_dir, ns):
    from wikipedia_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    par = docs.sparkSession.sparkContext.defaultParallelism
    docs = docs.repartition(par, "doc_id")
    p = docs.select("text").mapInPandas(
        _token_partials_kernel(ns),
        "n long, matches long, c_total long, r_total long",
    )
    return p.groupBy("n").agg(
        F.sum("matches").cast("long").alias("matches"),
        F.sum("c_total").cast("long").alias("c_total"),
        F.sum("r_total").cast("long").alias("r_total"),
    )


def bleu_numpy_variant(spark, sf_dir):
    mt = _partials(spark, sf_dir, (1, 2, 3, 4))
    wide = mt.agg(
        *[
            F.max(F.when(F.col("n") == n, F.col(c)))
            .cast("long")
            .alias(f"{a}{n}")
            for n, c, a in [
                (n, c, a)
                for n in (1, 2, 3, 4)
                for c, a in (("matches", "m"), ("c_total", "t"))
            ]
        ],
        F.max(F.when(F.col("n") == 1, F.col("c_total")))
        .cast("long")
        .alias("cand_tokens"),
        F.max(F.when(F.col("n") == 1, F.col("r_total")))
        .cast("long")
        .alias("ref_tokens"),
    )
    return bleu_scores(wide)


def bleu_scores(wide):
    """The registered BLEU tail over one row of (m1..m4, t1..t4,
    cand_tokens, ref_tokens): brevity penalty and BLEU-4, both
    quantized to nano-units."""
    c_d = F.col("cand_tokens").cast("double")
    r_d = F.col("ref_tokens").cast("double")
    bp = F.when(
        F.col("cand_tokens") >= F.col("ref_tokens"), F.lit(1.0)
    ).otherwise(F.exp(F.lit(1.0) - r_d / c_d))
    bp_nano = F.round(F.lit(1_000_000_000) * bp).cast("long")
    lp = [
        F.log(F.col(f"m{n}").cast("double") / F.col(f"t{n}").cast("double"))
        for n in (1, 2, 3, 4)
    ]
    bleu_nano = F.when(
        (F.col("m1") > 0)
        & (F.col("m2") > 0)
        & (F.col("m3") > 0)
        & (F.col("m4") > 0),
        F.round(
            F.lit(1_000_000_000)
            * bp
            * F.exp(F.lit(0.25) * (((lp[0] + lp[1]) + lp[2]) + lp[3]))
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return wide.select(
        "m1", "m2", "m3", "m4", "t1", "t2", "t3", "t4",
        "cand_tokens", "ref_tokens",
        (bp_nano.cast("double") / 1_000_000_000).alias("brevity_penalty"),
        (bleu_nano.cast("double") / 1_000_000_000).alias("bleu4"),
    )


def rouge_numpy_variant(spark, sf_dir):
    mt = _partials(spark, sf_dir, (1, 2))
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
PAIRS = [
    ("ml_eval_bleu_corpus", bleu_numpy_variant),
    ("ml_eval_rouge_n", rouge_numpy_variant),
]
