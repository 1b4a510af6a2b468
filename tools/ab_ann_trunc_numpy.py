"""Interleaved A/B: registered ann_dim_truncation_recall vs an
Arrow-batched NumPy kernel (guide §4.2, the chrF/BLEU flip family).

The registered single-pass form scores each (query, corpus) pair with
incremental prefix folds built from Catalyst higher-order functions
(zip_with + aggregate) — 3 fold chains x 64 products per pair through
interpreted lambda evaluation — then ranks |pairs| x 3 exploded rows
through one window. The candidate moves the per-pair math into NumPy
over ``mapInPandas`` corpus batches:

- products and prefix sums via ``np.add.accumulate`` (strictly
  sequential left-to-right accumulation — bit-identical to the
  registered ``F.aggregate`` left fold starting from 0.0);
- cosine denominators multiplied in the registered order
  (sqrt(nq) * sqrt(ne), then one division);
- per (query, dim) the kernel emits only each batch's top-10 by
  (cos DESC, vec_id ASC) — a superset of the global top-10 under the
  same strict total order (vec_id is unique), so the downstream
  window rank / pivot / overlap logic is unchanged but runs over
  ~150 rows per batch instead of |pairs| x 3.

The 5 query vectors are collected at construction (bounded by the
literal IN-list — the HL class of driver-sized collect); the variant
is therefore EAGER and the timer starts before construction.

Usage: python tools/ab.py ann_trunc_numpy [rounds]
Flip iff >20% at the 100x replica.
"""

from __future__ import annotations

from pyspark.sql import functions as F

_DIMS = (16, 32, 64)
_TOPK = 10


def ann_trunc_numpy_variant(spark, sf_dir):
    import numpy as np
    from pyspark.sql import Window

    from wikipedia_data_pipeline_spark.sources.tables import fan_out, load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q_rows = sorted(
        emb.filter(F.col("vec_id").isin([0, 1, 2, 3, 4]))
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    qids = np.array([int(r["vec_id"]) for r in q_rows], dtype=np.int64)
    qmat = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    qcum = np.add.accumulate(qmat * qmat, axis=1)
    nq = {m: qcum[:, m - 1] for m in _DIMS}

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.shape[0] == 0:
                continue
            vec = pdf["vec_id"].to_numpy(dtype=np.int64)
            E = np.stack(
                [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
            )
            ecum = np.add.accumulate(E * E, axis=1)
            out_q, out_v, out_m, out_c = [], [], [], []
            for j in range(qids.size):
                cum = np.add.accumulate(E * qmat[j], axis=1)
                mask = vec != qids[j]
                for m in _DIMS:
                    cos = cum[:, m - 1] / (
                        np.sqrt(nq[m][j]) * np.sqrt(ecum[:, m - 1])
                    )
                    cm, vm = cos[mask], vec[mask]
                    idx = np.lexsort((vm, -cm))[:_TOPK]
                    out_q.append(np.full(idx.size, qids[j], dtype=np.int64))
                    out_v.append(vm[idx])
                    out_m.append(np.full(idx.size, m, dtype=np.int64))
                    out_c.append(cm[idx])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_v),
                    "dim_kept": np.concatenate(out_m),
                    "cos": np.concatenate(out_c),
                }
            )

    s = fan_out(emb).select("vec_id", "embedding").mapInPandas(
        kernel,
        "query_id long, vec_id long, dim_kept long, cos double",
    )
    w = Window.partitionBy("dim_kept", "query_id").orderBy(
        F.desc("cos"), F.asc("vec_id")
    )
    ranked = s.select(
        "query_id",
        "vec_id",
        "dim_kept",
        F.row_number().over(w).cast("long").alias("rnk"),
    )
    piv = ranked.groupBy("query_id", "vec_id").agg(
        *[
            F.min(F.when(F.col("dim_kept") == m, F.col("rnk"))).alias(f"r{m}")
            for m in _DIMS
        ]
    )
    hits = piv.select(
        "query_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("dim_kept"),
                        (
                            (F.col(f"r{m}") <= _TOPK)
                            & (F.col("r64") <= _TOPK)
                        ).alias("hit"),
                    )
                    for m in _DIMS
                ]
            )
        ).alias("h"),
    ).select("query_id", "h.dim_kept", "h.hit")
    return (
        hits.groupBy("dim_kept", "query_id")
        .agg(
            F.sum(F.when(F.col("hit"), 1).otherwise(0))
            .cast("long")
            .alias("n_overlap")
        )
        .filter(F.col("n_overlap") > 0)
        .select(
            "dim_kept",
            "query_id",
            "n_overlap",
            (F.col("n_overlap").cast("double") / F.lit(10)).alias(
                "recall_at_10"
            ),
        )
        .orderBy("dim_kept", "query_id")
    )


ARTIFACT = "AB_ANN_TRUNC_NUMPY_r13.json"
PAIRS = [("ann_dim_truncation_recall", ann_trunc_numpy_variant)]
