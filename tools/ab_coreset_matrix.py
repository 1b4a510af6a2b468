"""Interleaved A/B: registered curation_coreset_facility_location vs a
precomputed-similarity-matrix form (guide §4.2 + §5, r13 verdict #4).

The registered greedy loop runs k = 4 corpus scans, each evaluating
|pool| Catalyst higher-order cosine folds (zip_with + aggregate —
interpreted lambda evaluation, ~pool x 64 multiply-adds per row) over
the cover relation, re-persisting a grown lineage per step. The
candidate observes that the POOL IS FIXED (vec_id < 16): every
quantity the greedy loop ever needs is a function of the per-row
quantized cosine vector (q_0..q_{m-1}), so

1. ONE Arrow-batched NumPy pass computes all |pool| cosines per row —
   products and sums via ``np.add.accumulate`` (strictly sequential,
   bit-identical to the registered ``F.aggregate`` left fold; the
   ann_dim_truncation_recall precedent) — and the JVM applies the
   registered quantization ``round(cos * 1e9) AS BIGINT`` unchanged;
2. the (vec_id, q_0..q_{m-1}) relation is pinned;
3. each greedy step is ONE tiny aggregate over the cached matrix:
   cov = greatest(0, q_selected...) per row, gain_c = sum(greatest(q_c,
   cov) - cov) — all-integer, same values as the registered step, so
   the argmax (gain DESC, cid ASC) walks the identical greedy path.

Usage: python tools/ab.py coreset_matrix [rounds]
Flip iff >20% at the 100x replica.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators.ranks import pin

_K = 4
_CAND_MAX = 16
_UNIT = 1_000_000_000.0


def coreset_matrix_variant(spark, sf_dir):
    import numpy as np

    from wikipedia_data_pipeline_spark.sources.tables import fan_out, load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cand_rows = sorted(
        emb.filter(F.col("vec_id") < _CAND_MAX)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    if any(r["embedding"] is None for r in cand_rows):
        raise ValueError("null candidate embedding")
    cids = [int(r["vec_id"]) for r in cand_rows]
    C = np.array([r["embedding"] for r in cand_rows], dtype=np.float64)
    # sqrt(na) with na = sequential left fold of cemb_i^2 (registered order)
    c_norm = np.sqrt(np.add.accumulate(C * C, axis=1)[:, -1])
    m = len(cids)

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.shape[0] == 0:
                continue
            if pdf["embedding"].isna().any():
                raise ValueError(
                    "null corpus embedding (precondition: non-null)"
                )
            vids = pdf["vec_id"].to_numpy(dtype=np.int64)
            E = np.stack(
                [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
            )
            sq_nb = np.sqrt(np.add.accumulate(E * E, axis=1)[:, -1])
            cols = {"vec_id": vids}
            for j in range(m):
                dot = np.add.accumulate(E * C[j], axis=1)[:, -1]
                cols[f"s{j}"] = dot / (c_norm[j] * sq_nb)
            yield pd.DataFrame(cols)

    schema = "vec_id long, " + ", ".join(f"s{j} double" for j in range(m))
    smat = (
        fan_out(emb).select("vec_id", "embedding").mapInPandas(kernel, schema)
    )
    qmat = pin(
        smat.select(
            "vec_id",
            *[
                F.round(F.col(f"s{j}") * _UNIT).cast("long").alias(f"q{j}")
                for j in range(m)
            ],
        )
    )

    sel_idx: list[int] = []
    out: list[tuple[int, int, int, int]] = []
    total = 0
    for step in range(1, _K + 1):
        cov = (
            F.greatest(
                F.lit(0).cast("long"), *[F.col(f"q{j}") for j in sel_idx]
            )
            if sel_idx
            else F.lit(0).cast("long")
        )
        rem = [j for j in range(m) if j not in sel_idx]
        row = qmat.agg(
            *[
                F.sum(F.greatest(F.col(f"q{j}"), cov) - cov)
                .cast("long")
                .alias(f"g{j}")
                for j in rem
            ]
        ).collect()[0]
        best_j = sorted(rem, key=lambda j: (-row[f"g{j}"], cids[j]))[0]
        gain = int(row[f"g{best_j}"])
        sel_idx.append(best_j)
        total += gain
        out.append((step, cids[best_j], gain, total))
    return spark.createDataFrame(
        out, "step long, vec_id long, gain_nano long, coverage_nano long"
    )


ARTIFACT = "AB_CORESET_MATRIX_r14.json"
PAIRS = [("curation_coreset_facility_location", coreset_matrix_variant)]
