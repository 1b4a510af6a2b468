"""Interleaved A/B: registered chrF (explode + doc-scoped hash agg) vs
an Arrow-batched NumPy kernel over ``mapInPandas`` that computes each
doc's clipped per-n char-gram overlap inside the Python worker and
emits ONLY per-batch partial sums (6 rows of (n, matches, c_total,
r_total) per Arrow batch) — the 12x-corpus-chars gram stream is never
materialized as Spark rows at all.

Rationale: the r12/r13 A/Bs established that the explode form's cost
is CPU + row overhead on the ~1.6B-row exploded gram stream (packed
fingerprints -18%, inside the 20% band; per-row sort+aggregate 2.4x
SLOWER). The one untried shape is the participation-ratio pattern
(similarity.py Gram partials, 23x win): per-partition vectorized
partials with O(1)-sized emit. Gram codes are rolling polynomial codes
over UTF-32 codepoints; when every codepoint fits b bits and 6*b <= 64
(true for ASCII corpora: b=7) the code is INJECTIVE — exact string
equality, strictly stronger than the registered form's xxhash64
no-collision assumption. Wider alphabets fall back to a 64-bit odd
multiplier (same collision class as xxhash64).

Usage: python tools/ab.py chrf_numpy [rounds]

NOTE: this A/B ran against the PRE-flip registered explode form and
decided the flip (301 s vs 13.1 s round 1 — 23x, decisive).
``ml_eval_chrf`` is now the numpy-partials form itself, so re-running
this script compares the new registered form against this inline copy
(a no-op check), not against the explode form it replaced.
"""

from __future__ import annotations

from pyspark.sql import functions as F

_CHRF_NS = (1, 2, 3, 4, 5, 6)
_CHRF_BETA_SQ = 4
_HASH_M = 0x9E3779B97F4A7C15  # 64-bit odd multiplier (fallback mode)


def _fixture(spark, sf_dir):
    """Same cstr/rstr construction as the registered query (shared by
    both arms; built in Spark SQL so the fixture semantics are
    identical by construction)."""
    from wikipedia_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    toks = F.split(F.col("text"), " ")
    clen = F.greatest(
        F.expr("(size(split(text, ' ')) * 4) div 5"), F.lit(1)
    )
    return docs.select(
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


def _partials_kernel(batches):
    import numpy as np
    import pandas as pd

    def clipped(a, b):
        if a.size == 0 or b.size == 0:
            return 0
        ua, ca = np.unique(a, return_counts=True)
        ub, cb = np.unique(b, return_counts=True)
        idx = np.searchsorted(ub, ua)
        idx[idx == ub.size] = 0  # safe: masked below (ua > ub[-1] != ub[0])
        mask = ub[idx] == ua
        if not mask.any():
            return 0
        return int(np.minimum(ca[mask], cb[idx[mask]]).sum())

    for pdf in batches:
        matches = np.zeros(7, dtype=np.int64)
        c_tot = np.zeros(7, dtype=np.int64)
        r_tot = np.zeros(7, dtype=np.int64)
        for cs, rs in zip(pdf["cstr"], pdf["rstr"]):
            ca = np.frombuffer(
                (cs or "").encode("utf-32-le"), dtype=np.uint32
            )
            ra = np.frombuffer(
                (rs or "").encode("utf-32-le"), dtype=np.uint32
            )
            mx = 0
            if ca.size:
                mx = int(ca.max())
            if ra.size:
                mx = max(mx, int(ra.max()))
            bits = max(mx.bit_length(), 1)
            # injective shift when 6 levels fit in 64 bits, else the
            # odd-multiplier mix (xxhash64's collision class)
            M = np.uint64(1 << bits) if 6 * bits <= 64 else np.uint64(_HASH_M)
            cc = ca.astype(np.uint64)
            rr = ra.astype(np.uint64)
            pc, pr = cc, rr
            for n in _CHRF_NS:
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
                matches[n] += clipped(pc, pr)
                c_tot[n] += max(cc.size - n + 1, 0)
                r_tot[n] += max(rr.size - n + 1, 0)
        yield pd.DataFrame(
            {
                "n": np.arange(1, 7, dtype=np.int64),
                "matches": matches[1:7],
                "c_total": c_tot[1:7],
                "r_total": r_tot[1:7],
            }
        )


def chrf_numpy_variant(spark, sf_dir):
    """NumPy-partials chrF — same output schema/values as ml_eval_chrf."""
    d = _fixture(spark, sf_dir)
    partials = d.select("cstr", "rstr").mapInPandas(
        _partials_kernel,
        "n long, matches long, c_total long, r_total long",
    )
    mt = partials.groupBy("n").agg(
        F.sum("matches").cast("long").alias("matches"),
        F.sum("c_total").cast("long").alias("c_total"),
        F.sum("r_total").cast("long").alias("r_total"),
    )
    md = F.col("matches").cast("double")
    p = md / F.col("c_total").cast("double")
    r = md / F.col("r_total").cast("double")
    chr_f = F.when(F.col("matches") == 0, F.lit(0.0)).otherwise(
        (1 + _CHRF_BETA_SQ) * p * r / (_CHRF_BETA_SQ * p + r)
    )
    pn = mt.select(
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


ARTIFACT = "AB_CHRF_NUMPY_r13.json"
PAIRS = [("ml_eval_chrf", chrf_numpy_variant)]
