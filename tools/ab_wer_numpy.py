"""Interleaved A/B: registered ml_eval_wer (per-row JVM levenshtein)
vs a batched NumPy two-row DP in mapInPandas (r13 verdict #5 — "run
ONE A/B; ship or commit the measured rejection").

The registered form encodes each token as one ASCII byte (94-slot
vocabulary bound) and calls Spark's built-in ``levenshtein`` per row —
a tight JVM char DP, no Python in the hot path. The candidate keeps
the JVM encoding (bit-identical strings) and moves ONLY the DP into
NumPy: per Arrow batch, docs are sorted by reference length and
processed in chunks as a row-at-a-time DP vectorized ACROSS docs and
across candidate positions (the intra-row left-dependency resolved by
the prefix-min trick: dp_i = minimum.accumulate(t - arange) + arange).
Integer DP — exactly the levenshtein recurrence, so distances are
bit-identical; the question is purely whether batched NumPy beats the
JVM's per-row char loop + the Arrow boundary cost.

Usage: python tools/ab.py wer_numpy [rounds]
Flip iff >20% at the 100x replica.
"""

from __future__ import annotations

from pyspark.sql import functions as F

_CHUNK = 1024


def wer_numpy_variant(spark, sf_dir):
    import numpy as np

    from wikipedia_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    d = docs.select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("rlen")
    ).withColumn(
        "ctoks",
        F.transform(
            F.sequence(
                F.lit(1),
                F.greatest(F.expr("(size(toks) * 4) div 5"), F.lit(1)),
            ),
            lambda i: F.when((i % 7) == 0, F.lit("UNK")).otherwise(
                F.element_at(F.col("toks"), i.cast("int"))
            ),
        ),
    )
    vocab = sorted(
        {
            r["tok"]
            for r in d.select(F.explode("toks").alias("tok"))
            .distinct()
            .collect()
        }
        | {"UNK"}
    )
    if len(vocab) > 94:
        raise ValueError("single-byte WER encoding supports <= 94 tokens")
    enc_map = F.create_map(
        *[
            lit
            for i, tok in enumerate(vocab)
            for lit in (F.lit(tok), F.lit(chr(33 + i)))
        ]
    )

    def enc(col):
        return F.concat_ws(
            "", F.transform(F.col(col), lambda t: F.element_at(enc_map, t))
        )

    encoded = d.select(
        "doc_id",
        "rlen",
        F.size("ctoks").alias("clen"),
        enc("toks").alias("er"),
        enc("ctoks").alias("ec"),
    )

    def _dp_chunk(refs, cands):
        """Levenshtein for a chunk of (ref, cand) byte-arrays, batched:
        row-at-a-time over the ref axis, vectorized across docs and
        candidate positions."""
        B = len(refs)
        rl = np.array([len(r) for r in refs], dtype=np.int64)
        cl = np.array([len(c) for c in cands], dtype=np.int64)
        R, Cm = int(rl.max()), int(cl.max())
        # pad with disjoint sentinels so padded cells never fake a match
        Rm_arr = np.zeros((B, R), dtype=np.int16)
        Cm_arr = np.full((B, Cm), -1, dtype=np.int16)
        for k, r in enumerate(refs):
            Rm_arr[k, : rl[k]] = np.frombuffer(r, dtype=np.uint8)
        for k, c in enumerate(cands):
            Cm_arr[k, : cl[k]] = np.frombuffer(c, dtype=np.uint8)
        j = np.arange(Cm + 1, dtype=np.int64)
        dp = np.broadcast_to(j, (B, Cm + 1)).copy()  # row 0: dp[0][j] = j
        res = np.zeros(B, dtype=np.int64)
        done0 = rl == 0
        if done0.any():
            res[done0] = cl[done0]
        for i in range(1, R + 1):
            sub = (Cm_arr != Rm_arr[:, i - 1 : i]).astype(np.int64)
            t = np.empty_like(dp)
            t[:, 0] = i
            # t[j] = min(dp[i-1][j] + 1, dp[i-1][j-1] + sub_j)
            t[:, 1:] = np.minimum(dp[:, 1:] + 1, dp[:, :-1] + sub)
            # dp[i][j] = min_{k<=j} t[k] + (j - k)
            dp = np.minimum.accumulate(t - j, axis=1) + j
            hit = rl == i
            if hit.any():
                res[hit] = dp[hit, cl[hit]]
        return res

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.shape[0] == 0:
                continue
            refs = [s.encode("ascii") for s in pdf["er"]]
            cands = [s.encode("ascii") for s in pdf["ec"]]
            order = np.argsort([len(r) for r in refs], kind="stable")
            dist = np.zeros(len(refs), dtype=np.int64)
            for lo in range(0, len(order), _CHUNK):
                idx = order[lo : lo + _CHUNK]
                dist[idx] = _dp_chunk(
                    [refs[k] for k in idx], [cands[k] for k in idx]
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(dtype=np.int64),
                    "rlen": pdf["rlen"].to_numpy(dtype=np.int64),
                    "clen": pdf["clen"].to_numpy(dtype=np.int64),
                    "dist": dist,
                }
            )

    scored = encoded.mapInPandas(
        kernel, "doc_id long, rlen long, clen long, dist long"
    )
    return scored.select(
        "doc_id",
        "rlen",
        "clen",
        F.col("dist").alias("edit_distance"),
        (F.col("dist").cast("double") / F.col("rlen")).alias("wer"),
    )


ARTIFACT = "AB_WER_NUMPY_r14.json"
PAIRS = [("ml_eval_wer", wer_numpy_variant)]
