"""Interleaved A/B: registered chrF (explode + doc-scoped hash agg)
vs an explode-free variant that computes each doc's clipped per-n
match count INSIDE a row expression — sort the candidate+reference
gram-hash structs per (doc, n), then a single F.aggregate pass walks
the sorted array two-pointer-style (state = (prev_hash, c_cand,
c_ref, acc); on every hash change, acc += min counts) — so the only
thing that ever leaves a row is 6 small (n, matches) pairs per doc.

Rationale: the session-5 re-probe showed chrF flat at ~232 s after the
doc_id pre-partition removed its post-explode shuffle — the cost is
CPU+row overhead on the ~1.6 B exploded gram stream, which this
variant never materializes as rows.

Usage: python tools/ab.py chrf_merge [rounds]
"""

from __future__ import annotations

from pyspark.sql import functions as F

_CHRF_NS = (1, 2, 3, 4, 5, 6)
_CHRF_BETA_SQ = 4


def chrf_merge_variant(spark, sf_dir):
    """Explode-free chrF — same output schema and values as
    ml_eval_chrf (hash-collision assumption identical)."""
    from wikipedia_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
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

    def gram_structs(col, n, flag):
        return F.transform(
            F.sequence(
                F.lit(1),
                F.greatest(F.length(F.col(col)) - (n - 1), F.lit(0)),
            ),
            lambda i: F.struct(
                F.xxhash64(F.substr(F.col(col), i, F.lit(n))).alias("h"),
                F.lit(flag).alias("is_c"),
            ),
        )

    def matches_for(n):
        merged = F.array_sort(
            F.concat(
                gram_structs("cstr", n, 1), gram_structs("rstr", n, 0)
            )
        )
        init = F.struct(
            F.lit(None).cast("long").alias("prev"),
            F.lit(0).cast("long").alias("c0"),
            F.lit(0).cast("long").alias("c1"),
            F.lit(0).cast("long").alias("acc"),
        )

        def step(acc, x):
            same = acc.prev.isNotNull() & (x.h == acc.prev)
            inc_c = x.is_c.cast("long")
            return F.struct(
                x.h.alias("prev"),
                F.when(same, acc.c0 + (1 - inc_c))
                .otherwise(1 - inc_c)
                .alias("c0"),
                F.when(same, acc.c1 + inc_c).otherwise(inc_c).alias("c1"),
                F.when(same, acc.acc)
                .otherwise(acc.acc + F.least(acc.c0, acc.c1))
                .alias("acc"),
            )

        return F.aggregate(
            merged,
            init,
            step,
            lambda acc: acc.acc + F.least(acc.c0, acc.c1),
        )

    per_doc = d.select(
        "doc_id",
        F.length("cstr").alias("c_len"),
        F.length("rstr").alias("r_len"),
        *[matches_for(n).alias(f"m{n}") for n in _CHRF_NS],
    )
    agg = per_doc.agg(
        *[F.sum(f"m{n}").cast("long").alias(f"m{n}") for n in _CHRF_NS],
        *[
            F.sum(F.greatest(F.col("c_len") - (n - 1), F.lit(0)))
            .cast("long")
            .alias(f"ct{n}")
            for n in _CHRF_NS
        ],
        *[
            F.sum(F.greatest(F.col("r_len") - (n - 1), F.lit(0)))
            .cast("long")
            .alias(f"rt{n}")
            for n in _CHRF_NS
        ],
    )
    rows = []
    for n in _CHRF_NS:
        m = F.col(f"m{n}").cast("double")
        p = m / F.col(f"ct{n}").cast("double")
        r = m / F.col(f"rt{n}").cast("double")
        f = F.when(F.col(f"m{n}") == 0, F.lit(0.0)).otherwise(
            (1 + _CHRF_BETA_SQ) * p * r / (_CHRF_BETA_SQ * p + r)
        )
        rows.append(
            F.struct(
                F.lit(n).cast("long").alias("n"),
                F.col(f"m{n}").alias("matches"),
                F.col(f"ct{n}").alias("c_total"),
                F.col(f"rt{n}").alias("r_total"),
                p.alias("chr_p"),
                r.alias("chr_r"),
                f.alias("chr_f"),
            )
        )
    pn = agg.select(F.explode(F.array(*rows)).alias("s")).select("s.*")
    avgf = pn.agg(
        (
            F.sum(F.round(1e9 * F.col("chr_f")).cast("long")).cast("double")
            / F.count(F.lit(1))
            / 1e9
        ).alias("chrf_avg")
    )
    return pn.crossJoin(F.broadcast(avgf))


ARTIFACT = "AB_CHRF_MERGE_r13.json"
PAIRS = [("ml_eval_chrf", chrf_merge_variant)]
