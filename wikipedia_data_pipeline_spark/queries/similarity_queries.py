"""Similarity-search query registrations (operators.similarity).

The cosine expression (sequential double fold over zip_with) is
bit-identical to DuckDB's list_sum(list_transform(list_zip(...))) —
verified empirically — so exact oracles work for the brute-force paths.
The LSH-bucketed ANN is approximate by construction → rows-only.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators import similarity as S
from wikipedia_data_pipeline_spark.operators.ranks import pin
from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table

QUERY_IDS = [0, 1, 2, 3, 4]
TOP_K = 10

COS_SQL = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    " * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
)


@register(
    "ann_cosine_topk_brute",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
  WHERE vec_id IN (0, 1, 2, 3, 4)
),
scored AS (
  SELECT query_id, e.vec_id,
         {COS_SQL.format(a='q.q_emb', b='e.embedding')} AS cos
  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
  FROM scored
)
SELECT query_id, vec_id, cos, rnk FROM ranked WHERE rnk <= {TOP_K}
""",
)
def ann_cosine_topk_brute(spark, sf_dir):
    """Exact top-10 cosine neighbors for 5 query vectors."""
    return S.cosine_topk(
        load_table(spark, sf_dir, "embeddings"), QUERY_IDS, TOP_K
    )


@register("ann_cosine_topk_lsh")  # approximate → rows-only check
def ann_cosine_topk_lsh(spark, sf_dir):
    """LSH-bucketed ANN: same interface, bucket equi-join instead of
    cross product."""
    return S.ann_lsh_topk(
        load_table(spark, sf_dir, "embeddings"), QUERY_IDS, TOP_K
    )


@register("ann_cosine_topk_ivf")  # approximate → rows-only check
def ann_cosine_topk_ivf(spark, sf_dir):
    """IVF-bucketed ANN: nearest-centroid cells + nprobe=2 exact rerank."""
    return S.ann_ivf_topk(
        load_table(spark, sf_dir, "embeddings"), QUERY_IDS, TOP_K
    )


@register("ann_cosine_topk_ivf_kmeans")  # approximate → rows-only check
def ann_cosine_topk_ivf_kmeans(spark, sf_dir):
    """IVF with a TRAINED coarse quantizer: k-means centroids from 3
    Lloyd iterations (operators.similarity.kmeans_centroids), then the
    same cell equi-join + nprobe rerank as the hash-sampled variant."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ann_ivf_topk(
        emb, QUERY_IDS, TOP_K, centroids=S.kmeans_centroids(emb, k=16, iters=3)
    )


BRUTE_CTES = f"""
q AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
  WHERE vec_id IN (0, 1, 2, 3, 4)
),
brute AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, vec_id) AS rnk
    FROM (
      SELECT query_id, e.vec_id,
             {COS_SQL.format(a='q.q_emb', b='e.embedding')} AS cos
      FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id
    )
  ) WHERE rnk <= {TOP_K}
)
"""

# The hash-sampled coarse quantizer (every 37th vector a centroid) and
# each vector's nearest cell, shared by the IVF oracle and SemDeDup.
_IVF_CELLS_CTES = f"""
centroids AS (
  SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings
  WHERE vec_id % {37} = 0
),
cells AS (
  SELECT vec_id, embedding, centroid_id AS cell FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {COS_SQL.format(a='e.embedding', b='c.c_emb')} DESC,
                                       c.centroid_id) AS c_rnk
    FROM embeddings e CROSS JOIN centroids c
  ) WHERE c_rnk = 1
)"""

IVF_CTES = f"""
{_IVF_CELLS_CTES},
qcells AS (
  SELECT vec_id AS query_id, embedding AS q_emb, centroid_id AS cell FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {COS_SQL.format(a='e.embedding', b='c.c_emb')} DESC,
                                       c.centroid_id) AS c_rnk
    FROM embeddings e CROSS JOIN centroids c
    WHERE e.vec_id IN (0, 1, 2, 3, 4)
  ) WHERE c_rnk <= 2
),
ivf AS (
  SELECT query_id, vec_id FROM (
    SELECT qc.query_id, cl.vec_id,
           row_number() OVER (PARTITION BY qc.query_id
                              ORDER BY {COS_SQL.format(a='qc.q_emb', b='cl.embedding')} DESC,
                                       cl.vec_id) AS rnk
    FROM cells cl JOIN qcells qc ON cl.cell = qc.cell
    WHERE cl.vec_id != qc.query_id
  ) WHERE rnk <= {TOP_K}
)
"""


@register(
    "ann_ivf_recall",
    oracle=f"""
WITH {BRUTE_CTES.strip().rstrip()},
{IVF_CTES.strip().lstrip()}
SELECT b.query_id,
       CAST(count(i.vec_id) AS BIGINT) AS hits,
       CAST(count(*) AS BIGINT) AS k_possible,
       round(count(i.vec_id) / count(*), 4) AS recall
FROM brute b
LEFT JOIN ivf i ON b.query_id = i.query_id AND b.vec_id = i.vec_id
GROUP BY b.query_id
""",
)
def ann_ivf_recall(spark, sf_dir):
    """Recall@10 of the IVF ANN path vs the exact brute-force top-k —
    the IVF pipeline is hash-free (modulo centroid sample + cosine
    ranks), so the WHOLE recall computation has an exact DuckDB twin."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ann_recall(
        S.cosine_topk(emb, QUERY_IDS, TOP_K),
        S.ann_ivf_topk(emb, QUERY_IDS, TOP_K),
    )


@register("ann_cosine_topk_pq")  # approximate (quantization) → rows-only
def ann_cosine_topk_pq(spark, sf_dir):
    """Product-quantization ANN, SERVE-shaped: asymmetric distance scan
    over the compressed code table (the path whose scan cost at 100 TB
    is m bytes/vector, not the raw embeddings), then exact rerank of a
    rerank×k shortlist.

    Mirrors the IVF query's training-free determinism: the codebook is
    the hash-ordered seed sample (``iters=0`` — no Lloyd rounds), with
    the quantization slack bought back by a wider shortlist
    (``rerank=12``; recall@10 ≥0.9 vs brute force, measured in
    ann_recall_report under this same configuration and asserted in
    tests/test_similarity.py). Full Lloyd training lives in the
    amortized index job — ``operators.similarity.build_pq_index`` /
    ``load_pq_index`` / ``ann_pq_topk(codebooks=, codes=)`` — not in
    the per-query path."""
    return S.ann_pq_topk(
        load_table(spark, sf_dir, "embeddings"),
        QUERY_IDS,
        TOP_K,
        iters=0,
        rerank=12,
    )


@register(
    "embedding_semdedup",
    oracle=f"""
WITH {_IVF_CELLS_CTES},
drops AS (
  SELECT DISTINCT a.vec_id
  FROM cells a JOIN cells b ON a.cell = b.cell AND b.vec_id < a.vec_id
  WHERE {COS_SQL.format(a='a.embedding', b='b.embedding')} >= 0.45
)
SELECT c.vec_id, c.cell, (d.vec_id IS NULL) AS keep
FROM cells c LEFT JOIN drops d ON c.vec_id = d.vec_id
""",
)
def embedding_semdedup(spark, sf_dir):
    """SemDeDup semantic deduplication (Abbas et al. 2023): cluster,
    then drop in-cluster vectors with a more-senior cosine-≥τ
    duplicate. The hash-sampled coarse quantizer makes the whole
    pipeline deterministic, so unlike the ANN paths this has an EXACT
    DuckDB twin — the oracle recomputes cells and drops from scratch.
    Scale: pair search is an equi-join on the cluster id, never
    corpus×corpus (operators/similarity.py:semantic_dedup)."""
    return S.semantic_dedup(load_table(spark, sf_dir, "embeddings"))


@register("ann_recall_report")  # LSH bucket ids use xxhash64 → rows-only
def ann_recall_report(spark, sf_dir):
    """Recall@10 of each approximate ANN path (lsh, ivf, pq) vs brute
    force, one row per (method, query). Each path is measured under the
    SAME configuration its registered query serves (pq: seed codebook +
    rerank=12), so these rows are the recall of what actually runs."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = S.cosine_topk(emb, QUERY_IDS, TOP_K)
    lsh = S.ann_recall(exact, S.ann_lsh_topk(emb, QUERY_IDS, TOP_K))
    ivf = S.ann_recall(exact, S.ann_ivf_topk(emb, QUERY_IDS, TOP_K))
    pq = S.ann_recall(
        exact, S.ann_pq_topk(emb, QUERY_IDS, TOP_K, iters=0, rerank=12)
    )
    return (
        lsh.select(F.lit("lsh").alias("method"), "*")
        .unionByName(ivf.select(F.lit("ivf").alias("method"), "*"))
        .unionByName(pq.select(F.lit("pq").alias("method"), "*"))
    )


@register(
    "embedding_near_dup",
    oracle=f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {COS_SQL.format(a='a.embedding', b='b.embedding')} AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {COS_SQL.format(a='a.embedding', b='b.embedding')} >= 0.45
""",
)
def embedding_near_dup(spark, sf_dir):
    """All-pairs embedding-cosine near-dup pairs (cos ≥ 0.45)."""
    return S.embedding_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), 0.45
    )


@register(
    "embedding_label_centroids",
    oracle="""
SELECT label, pos,
       CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mean_x,
       count(*) AS n
FROM (
  SELECT label, g - 1 AS pos, CAST(embedding[g] AS DOUBLE) AS x
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(g)
)
GROUP BY label, pos
""",
)
def embedding_label_centroids(spark, sf_dir):
    """Per-label centroid components: posexplode the embedding array and
    mean each dimension — the aggregation pattern behind k-means /
    cluster-quality jobs. Sums route through DECIMAL so the result is
    bit-identical under any partitioning (same convention as dec_sum);
    one shuffle on (label, pos)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .withColumn("pos", F.col("pos").cast("long"))
        .groupBy("label", "pos")
        .agg(
            (
                F.sum(F.col("x").cast("double").cast("decimal(18,6)")).cast(
                    "double"
                )
                / F.count("*")
            ).alias("mean_x"),
            F.count("*").alias("n"),
        )
    )


@register("embedding_fd_sketch", eager=True)
def embedding_fd_sketch(spark, sf_dir):
    """Frequent Directions spectrum of the embedding corpus: the ℓ=8
    sketch's singular values next to the deterministic FD error bound
    ‖A‖²_F/ℓ each estimate lives under. Sketch values depend on
    partition order (the guarantee does not — see
    operators.similarity.frequent_directions), so the gate records
    rows-only; the spectral bound itself is pytest-asserted against
    the exact covariance on planted-low-rank data. EAGER: the
    two-level sketch (task partials → driver merge) runs on
    construction, like the other central-solve operators."""
    from wikipedia_data_pipeline_spark.operators.similarity import (
        frequent_directions,
    )
    from wikipedia_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    ell = 8
    sketch, frob_sq = frequent_directions(emb, ell=ell)
    import numpy as np

    svs = np.linalg.svd(sketch, compute_uv=False)
    rows = [
        (int(i + 1), float(sv), float(frob_sq), float(frob_sq / ell))
        for i, sv in enumerate(svs)
    ]
    return spark.createDataFrame(
        rows, "rank long, sv double, frob_sq double, err_bound double"
    )


@register(
    "ann_dim_truncation_recall",
    oracle=f"""
WITH dims AS (SELECT unnest([64, 32, 16]) AS dim_kept),
q AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
  WHERE vec_id IN (0, 1, 2, 3, 4)
),
full_rank AS (
  SELECT query_id, e.vec_id,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY {COS_SQL.format(a='q.q_emb', b='e.embedding')} DESC,
                       e.vec_id) AS BIGINT) AS rnk
  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id
),
trunc_rank AS (
  SELECT d.dim_kept, query_id, e.vec_id,
         CAST(row_number() OVER (PARTITION BY d.dim_kept, query_id
              ORDER BY {COS_SQL.format(a='list_slice(q.q_emb, 1, d.dim_kept)', b='list_slice(e.embedding, 1, d.dim_kept)')} DESC,
                       e.vec_id) AS BIGINT) AS rnk
  FROM embeddings e CROSS JOIN q CROSS JOIN dims d
  WHERE e.vec_id != q.query_id
)
SELECT t.dim_kept, t.query_id,
       CAST(count(*) AS BIGINT) AS n_overlap,
       CAST(count(*) AS DOUBLE) / 10 AS recall_at_10
FROM trunc_rank t
JOIN full_rank f ON f.query_id = t.query_id AND f.vec_id = t.vec_id
WHERE t.rnk <= 10 AND f.rnk <= 10
GROUP BY t.dim_kept, t.query_id
ORDER BY t.dim_kept, t.query_id
""",
    eager=True,
)
def ann_dim_truncation_recall(spark, sf_dir):
    """Matryoshka-style truncation audit: recall@10 of cosine search
    over the FIRST m dimensions (m = 64/32/16) against the full-dim
    exact top-10, per query vector — the measurement behind "can we
    serve the short prefix and re-rank with the tail" deployments of
    truncatable embeddings. The m=64 rows are the built-in sanity
    fixed point (recall exactly 1.0 — same ranking).

    Exactness: scoring runs in an Arrow-batched NumPy kernel (the
    chrF/BLEU flip family, r13: AB_ANN_TRUNC_NUMPY_r13, 6.85→1.49 s
    best-of-3 at 100×). Per pair the products are float64 casts
    multiplied elementwise and prefix-summed with
    ``np.add.accumulate`` — a strictly sequential left-to-right
    accumulation, bit-identical to the previous Catalyst
    ``F.aggregate`` left fold from 0.0 and to DuckDB's list_sum
    evaluation order; cosine divides by the denominator multiplied in
    the same order (sqrt(nq) * sqrt(ne)). Ties broken by vec_id under
    a strict total order, recall is an integer overlap count over one
    exact division — bit-identical end to end.

    Scale shape: brute-force by design like ann_cosine_topk_brute (the
    oracle-checkable QUALITY audit; the serving path at scale is the
    IVF/PQ family). The kernel sees only (vec_id, embedding) corpus
    batches and emits each batch's top-10 per (query, dim) under the
    same (cos DESC, vec_id ASC) order — a superset of the global
    top-10, so the downstream window rank / pivot / overlap logic is
    unchanged but runs over ~150 rows per batch instead of |pairs|×3
    exploded rows (the r9 two-pass form is row
    SCALE_PROBE_r14:ann_dim_truncation_recall__twopass_baseline of
    artifacts/ab/DECISIONS.md). EAGER: the 5 query vectors are collected at
    construction — bounded by the literal IN-list, the HL class of
    driver-sized collect.

    Precondition (r13 advice): embeddings must be non-null and
    nonzero-norm. The kernel is STRICTER than the Catalyst fold on
    degenerate rows — a NULL embedding makes np.stack raise (the old
    fold yielded null cos, ranked last) and a zero-norm prefix yields
    NaN whose lexsort placement differs from Spark's null ordering;
    the fixture satisfies both, and a violation fails loudly rather
    than silently reordering."""
    import numpy as np

    from pyspark.sql import Window
    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    dims = (16, 32, 64)
    emb = load_table(spark, sf_dir, "embeddings")
    q_rows = sorted(
        emb.filter(F.col("vec_id").isin(QUERY_IDS))
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    qids = np.array([int(r["vec_id"]) for r in q_rows], dtype=np.int64)
    qmat = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    qcum = np.add.accumulate(qmat * qmat, axis=1)
    nq = {m: qcum[:, m - 1] for m in dims}

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
                for m in dims:
                    cos = cum[:, m - 1] / (
                        np.sqrt(nq[m][j]) * np.sqrt(ecum[:, m - 1])
                    )
                    cm, vm = cos[mask], vec[mask]
                    idx = np.lexsort((vm, -cm))[: TOP_K]
                    out_q.append(
                        np.full(idx.size, qids[j], dtype=np.int64)
                    )
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
            F.min(F.when(F.col("dim_kept") == m, F.col("rnk"))).alias(
                f"r{m}"
            )
            for m in dims
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
                            (F.col(f"r{m}") <= TOP_K)
                            & (F.col("r64") <= TOP_K)
                        ).alias("hit"),
                    )
                    for m in dims
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





_FL_K = 4
_FL_CAND_MAX = 16  # candidate pool: vec_id < 16 (mod-fixed, scale-free)


def _fl_simq_sql(prev: int) -> str:
    return (
        "CAST(round((list_sum(list_transform(list_zip(cemb,"
        f" s{prev}.embedding),"
        " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
        " / (sqrt(list_sum(list_transform(cemb,"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        f" * sqrt(list_sum(list_transform(s{prev}.embedding,"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))"
        " * 1000000000.0) AS BIGINT)"
    )


def _fl_oracle(k: int = _FL_K) -> str:
    """Unrolled-CTE DuckDB twin of the greedy facility-location loop —
    same structure as graph_queries._pagerank_oracle: one (gains,
    argmax, cover-update) CTE level per greedy step."""
    parts = [
        "WITH cand AS (SELECT vec_id AS cid, embedding AS cemb"
        f" FROM embeddings WHERE vec_id < {_FL_CAND_MAX}),\n"
        "s0 AS (SELECT vec_id, embedding, CAST(0 AS BIGINT) AS cov"
        " FROM embeddings)"
    ]
    unions = []
    for i in range(1, k + 1):
        prev, simq = i - 1, _fl_simq_sql(i - 1)
        if i == 1:
            excl = ""
        else:
            u = " UNION ALL ".join(
                f"SELECT cid FROM b{j}" for j in range(1, i)
            )
            excl = f" WHERE cid NOT IN ({u})"
        parts.append(
            f""",
g{i} AS (
  SELECT cid, CAST(sum(greatest({simq}, cov) - cov) AS BIGINT) AS gain
  FROM s{prev}, (SELECT * FROM cand{excl}) cand
  GROUP BY cid
),
b{i} AS (SELECT cid, gain FROM g{i} ORDER BY gain DESC, cid ASC LIMIT 1)"""
        )
        if i < k:
            parts.append(
                f""",
s{i} AS (
  SELECT s{prev}.vec_id, s{prev}.embedding,
         greatest(cov, {simq}) AS cov
  FROM s{prev},
       (SELECT cemb FROM cand JOIN b{i} ON cand.cid = b{i}.cid) ch
)"""
            )
        unions.append(
            f"SELECT CAST({i} AS BIGINT) AS step,"
            f" CAST(cid AS BIGINT) AS vec_id, gain AS gain_nano FROM b{i}"
        )
    return (
        "".join(parts)
        + "\nSELECT step, vec_id, gain_nano,\n"
        + "       CAST(sum(gain_nano) OVER (ORDER BY step) AS BIGINT)"
        + " AS coverage_nano\nFROM ("
        + "\nUNION ALL\n".join(unions)
        + ") u\nORDER BY step"
    )


@register(
    "curation_coreset_facility_location",
    oracle=_fl_oracle(_FL_K),
    eager=True,
)
def curation_coreset_facility_location(spark, sf_dir):
    """Greedy facility-location coreset selection — the classic
    submodular data-subset routine (pick k exemplars maximizing
    sum over the corpus of max-similarity to any selected exemplar;
    greedy is (1 - 1/e)-optimal by Nemhauser et al. 1978). This is
    the "which k documents best represent the corpus" primitive under
    coreset curation and diverse few-shot selection. Candidates are
    the fixed pool vec_id < 16; k = 4 greedy steps over the WHOLE
    corpus as coverage targets.

    Exactness: each candidate-corpus cosine is the fixed-fold double,
    quantized ONCE to nano-units, so per-candidate marginal gains are
    associative BIGINT sums (the events_psi_drift discipline); the
    argmax ties break on candidate id; the running coverage total is
    the exact BIGINT prefix sum of selected gains. Both engines walk
    identical greedy iterates — the oracle unrolls the loop as CTE
    levels, one per step (the graph_pagerank_partsupp pattern).

    Scale shape (r14, AB_CORESET_MATRIX_r14: 10.5 → 2.67 s best-of-3
    at 100×): the pool is FIXED, so every quantity the greedy loop
    needs is a function of the per-row quantized cosine vector. ONE
    Arrow-batched NumPy pass computes all |pool| cosines per corpus
    row — products and norms summed with ``np.add.accumulate``, the
    strictly sequential order that is bit-identical to the
    ``F.aggregate`` left fold the r13 form evaluated per row (the
    ann_dim_truncation_recall precedent, pinned in
    tests/test_round14.py) — and the JVM applies the registered
    quantization ``round(cos·1e9) AS BIGINT`` unchanged. The
    (vec_id, q_0..q_{m-1}) relation is pinned; each
    greedy step is then one tiny integer aggregate over the cached
    matrix: cov = greatest(0, q_selected…) per row, gain_c =
    Σ (greatest(q_c, cov) − cov) — the same integers the r13
    per-step corpus scans produced, so the argmax (gain DESC, cid
    ASC) walks the identical greedy path and the output rows are
    bit-identical. Cost: one corpus pass + k matrix scans, never
    |corpus|². Marked eager: construction runs the greedy jobs.

    Precondition (loud, not silent): embeddings must be non-null —
    the kernel raises on a null row where the Catalyst fold yielded a
    null cosine that ``greatest`` then skipped (gain contribution 0);
    the fixture has none."""
    import numpy as np

    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    emb = load_table(spark, sf_dir, "embeddings")
    cand_rows = sorted(
        emb.filter(F.col("vec_id") < _FL_CAND_MAX)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    if any(r["embedding"] is None for r in cand_rows):
        raise ValueError(
            "curation_coreset_facility_location: null candidate embedding"
        )
    cids = [int(r["vec_id"]) for r in cand_rows]
    cmat = np.array([r["embedding"] for r in cand_rows], dtype=np.float64)
    # sqrt(na) with na = the sequential left fold of cemb_i^2 — the
    # registered cosine_similarity evaluation order
    c_norm = np.sqrt(np.add.accumulate(cmat * cmat, axis=1)[:, -1])
    m = len(cids)

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.shape[0] == 0:
                continue
            if pdf["embedding"].isna().any():
                raise ValueError(
                    "curation_coreset_facility_location: null corpus "
                    "embedding (precondition: non-null)"
                )
            vids = pdf["vec_id"].to_numpy(dtype=np.int64)
            emat = np.stack(
                [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
            )
            sq_nb = np.sqrt(np.add.accumulate(emat * emat, axis=1)[:, -1])
            cols = {"vec_id": vids}
            for j in range(m):
                dot = np.add.accumulate(emat * cmat[j], axis=1)[:, -1]
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
                F.round(F.col(f"s{j}") * 1_000_000_000.0)
                .cast("long")
                .alias(f"q{j}")
                for j in range(m)
            ],
        )
    )

    sel_idx: list[int] = []
    out: list[tuple[int, int, int, int]] = []
    total = 0
    for step in range(1, _FL_K + 1):
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


# ---------------------------------------------------------------------------
# Binary (sign-bit) Hamming ANN — 1-bit quantized search (round 10)
# ---------------------------------------------------------------------------

_HAMMING_SIG_SQL = """
list_aggregate(list_transform(range(0, 32),
  i -> CASE WHEN {emb}[i + 1] >= 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END),
  'sum')"""
_HAMMING_SIG_HI_SQL = """
list_aggregate(list_transform(range(32, 64),
  i -> CASE WHEN {emb}[i + 1] >= 0 THEN (1::BIGINT << (i - 32))
       ELSE 0::BIGINT END), 'sum')"""

_HAMMING_ORACLE = f"""
WITH sigs AS (
  SELECT vec_id,
         {_HAMMING_SIG_SQL.format(emb='embedding')} AS lo,
         {_HAMMING_SIG_HI_SQL.format(emb='embedding')} AS hi
  FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, lo AS q_lo, hi AS q_hi FROM sigs
  WHERE vec_id IN (0, 1, 2, 3, 4)
),
scored AS (
  SELECT query_id, s.vec_id,
         CAST(bit_count(xor(s.lo, q.q_lo))
              + bit_count(xor(s.hi, q.q_hi)) AS BIGINT) AS hamming
  FROM sigs s CROSS JOIN q WHERE s.vec_id != q.query_id
)
SELECT query_id, vec_id, hamming, rnk
FROM (
  SELECT query_id, vec_id, hamming,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY hamming, vec_id) AS BIGINT) AS rnk
  FROM scored
)
WHERE rnk <= 10
"""


@register("embedding_hamming_topk", oracle=_HAMMING_ORACLE)
def embedding_hamming_topk(spark, sf_dir):
    """1-bit (sign) quantized nearest-neighbor search: each 64-dim
    float vector compresses to 64 SIGN BITS packed into two BIGINT
    halves, and similarity becomes Hamming distance — two XORs and two
    popcounts per candidate (Charikar's hyperplane-LSH signature with
    the identity basis; the 'binary embedding' serving tier that cuts
    vector bytes 32x below even int8 and turns scoring into pure ALU
    ops). Top-10 per probe vector, distance then vec_id as the total
    order.

    Complements the quantization ladder already registered: float
    (ann_cosine_topk_brute) -> int8 (embedding_int8_quantize) -> PQ
    codes (ann_pq_topk) -> 1-bit (this). Every quantity is an exact
    integer — packing is a disjoint-bit sum, distances are popcounts —
    so Spark and DuckDB agree bit-for-bit with no float tolerance at
    all, unusual for a similarity query.

    Scale shape: the signature relation is built in ONE narrow pass
    (no shuffle) and is 16 bytes/vector, so at 10^9 vectors it is
    ~16 GB — scannable per query batch; the 5 probe signatures
    broadcast, scoring is embarrassingly parallel (fan_out spreads the
    few-split parquet scan), and per-query top-10 rides a rank window
    over candidate rows. No all-pairs join: |probes| x |corpus|, the
    probe side bounded."""
    from pyspark.sql import Window

    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    emb = load_table(spark, sf_dir, "embeddings")
    lo = F.expr(
        "aggregate(transform(sequence(0, 31), i -> IF(element_at(embedding,"
        " i + 1) >= 0, shiftleft(1L, i), 0L)), 0L, (a, x) -> a + x)"
    )
    hi = F.expr(
        "aggregate(transform(sequence(32, 63), i -> IF(element_at(embedding,"
        " i + 1) >= 0, shiftleft(1L, i - 32), 0L)), 0L, (a, x) -> a + x)"
    )
    sigs = fan_out(emb).select(
        "vec_id", lo.alias("lo"), hi.alias("hi")
    )
    q = sigs.filter(F.col("vec_id").isin([0, 1, 2, 3, 4])).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("q_lo"),
        F.col("hi").alias("q_hi"),
    )
    scored = (
        sigs.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.expr(
                "cast(bit_count(lo ^ q_lo) + bit_count(hi ^ q_hi) as bigint)"
            ).alias("hamming"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 10)
    )
