"""Embedding-column QA queries: centroid distances, int8
quantization, PCA projection, and the label-outlier (mislabeled-data
candidate) screen. Split out of mleval_queries (round 10)."""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators.sampling import SQL_DET_HASH
from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.queries.similarity_queries import COS_SQL
from wikipedia_data_pipeline_spark.sources.tables import load_table


# Decimal-exact per-label centroid components (the label_centroids
# construction), shared by the centroid-distance matrix, the label-
# outlier screen and the simplified silhouette.
_CENTROID_COMP_CTE = """
comp AS (
  SELECT label, g - 1 AS pos,
         CAST(sum(CAST(CAST(embedding[g] AS DOUBLE) AS DECIMAL(18,6)))
              AS DOUBLE) / count(*) AS mean_x
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(g)
  GROUP BY label, pos
)"""


def _label_centroids(emb, key):
    """One row per label, grouped by ``key`` (the label column or its
    alias), with the ordered centroid array ``c``: the Spark side of
    ``_CENTROID_COMP_CTE`` plus its ``list(mean_x ORDER BY pos)``."""
    comp = (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", F.col("pos").cast("long").alias("pos"))
        .agg(
            (
                F.sum(F.col("x").cast("double").cast("decimal(18,6)"))
                .cast("double")
                / F.count("*")
            ).alias("mean_x")
        )
    )
    return comp.groupBy(key).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean_x"))),
            lambda s: s["mean_x"],
        ).alias("c")
    )


@register(
    "embedding_centroid_distances",
    oracle=f"""
WITH {_CENTROID_COMP_CTE},
cent AS (
  SELECT label, list(mean_x ORDER BY pos) AS c FROM comp GROUP BY label
)
SELECT a.label AS label_a, b.label AS label_b,
       {COS_SQL.format(a='a.c', b='b.c')} AS cos
FROM cent a JOIN cent b ON a.label < b.label
""",
)
def embedding_centroid_distances(spark, sf_dir):
    """Label-centroid separation matrix: decimal-exact centroid
    components (the label_centroids construction) assembled into
    ordered arrays, then pairwise cosine via the deterministic
    sequential fold — the cluster-separability report behind embedding
    QA. The pair join runs over |labels| rows; everything heavy is the
    one component aggregation."""
    from wikipedia_data_pipeline_spark.functions import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    cent = _label_centroids(emb, "label")
    a = cent.select(
        F.col("label").alias("label_a"), F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), F.col("c").alias("cb")
    )
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            cosine_similarity(F.col("ca"), F.col("cb")).alias("cos"),
        )
    )



@register(
    "embedding_int8_quantize",
    oracle="""
WITH s AS (
  SELECT vec_id,
         list_max(list_transform(embedding,
                                 x -> abs(CAST(x AS DOUBLE)))) AS qscale,
         embedding
  FROM embeddings
)
SELECT vec_id, qscale,
       COALESCE(array_to_string(
         CASE WHEN qscale > 0
              THEN list_transform(embedding,
                     x -> CAST(round(CAST(x AS DOUBLE) * 127 / qscale, 0)
                               AS INTEGER))
              ELSE list_transform(embedding, x -> 0) END, ','), '') AS qvec
FROM s
""",
)
def embedding_int8_quantize(spark, sf_dir):
    """Per-vector symmetric int8 quantization (qᵢ = round(127·xᵢ/max|x|)
    plus the one float scale) — the 4× compression applied to embedding
    corpora before ANN serving. A narrow higher-order-function map, no
    shuffle, no UDF: at 100 TB this halves-twice the bytes every
    downstream similarity scan reads, which is usually worth more than
    any CPU optimization. Zero vectors quantize to zeros (guarded
    division)."""
    emb = load_table(spark, sf_dir, "embeddings")
    xd = lambda x: x.cast("double")  # noqa: E731
    qscale = F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(xd(x))))
    s = emb.select("vec_id", qscale.alias("qscale"), "embedding")
    qvec = F.when(
        F.col("qscale") > 0,
        F.transform(
            F.col("embedding"),
            lambda x: F.round(xd(x) * 127 / F.col("qscale"), 0).cast("int"),
        ),
    ).otherwise(F.transform(F.col("embedding"), lambda x: F.lit(0)))
    # string-join, not a raw array column: the driver's pandas
    # canonicalizer cannot hash list cells (r9 red row). No final
    # orderBy — the driver compares order-insensitively.
    qvec_str = F.array_join(F.transform(qvec, lambda v: v.cast("string")), ",")
    return s.select("vec_id", "qscale", qvec_str.alias("qvec"))


@register("embedding_pca_project")  # eigensolver output: no SQL oracle
def embedding_pca_project(spark, sf_dir):
    """Distributed PCA to 2 components: Arrow-batch NumPy partials →
    d²-row aggregate → driver-side eigh on the model-sized covariance →
    broadcast-literal projection map. See operators/similarity.py:
    pca_project for the moments/solve/broadcast boundary."""
    from wikipedia_data_pipeline_spark.operators.similarity import pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_project(emb, k=2).orderBy("vec_id")



# ---------------------------------------------------------------------------
# Embedding label-outlier screen (mislabeled-data candidates)
# ---------------------------------------------------------------------------

_LABEL_OUTLIER_ORACLE = f"""
WITH {_CENTROID_COMP_CTE},
cent AS (
  SELECT label, list(mean_x ORDER BY pos) AS c FROM comp GROUP BY label
),
scored AS (
  SELECT e.vec_id, e.label,
         {COS_SQL.format(a='e.embedding', b='cent.c')} AS cos_to_centroid,
         row_number() OVER (
           PARTITION BY e.label
           ORDER BY {COS_SQL.format(a='e.embedding', b='cent.c')}, e.vec_id
         ) AS rn
  FROM embeddings e JOIN cent ON e.label = cent.label
)
SELECT vec_id, label, cos_to_centroid, CAST(rn AS BIGINT) AS outlier_rank
FROM scored WHERE rn <= 3
"""


@register("embedding_label_outliers", oracle=_LABEL_OUTLIER_ORACLE)
def embedding_label_outliers(spark, sf_dir):
    """Mislabeled-data screen: the 3 vectors per label FARTHEST from
    their own label centroid (lowest cosine) — the embedding-QA
    worklist human review starts from (a vector far from its class
    center is a labeling error, an outlier, or a class in need of
    splitting).

    Centroids use the decimal-exact component construction shared with
    `embedding_label_centroids`; each vector's cosine runs as the
    deterministic sequential fold (JVM higher-order functions, no
    UDF), and the per-label ranking breaks ties by vec_id. The
    centroid relation is |labels|-sized and broadcast; one scan of the
    vectors scores everything.
    """
    from pyspark.sql import Window

    from wikipedia_data_pipeline_spark.functions import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    cent = _label_centroids(emb, "label")
    scored = emb.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        cosine_similarity(F.col("embedding"), F.col("c")).alias(
            "cos_to_centroid"
        ),
    )
    w = Window.partitionBy("label").orderBy("cos_to_centroid", "vec_id")
    return (
        scored.withColumn("outlier_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("outlier_rank") <= 3)
    )



# ---------------------------------------------------------------------------
# Pairwise-cosine histogram over a hash-deterministic pair sample (r12)
# ---------------------------------------------------------------------------

_PAIRHIST_K = 128  # FIXED sample size: pairs = K(K-1)/2 at ANY corpus size

_PAIRHIST_ORACLE = f"""
WITH s AS (
  SELECT vec_id, embedding FROM embeddings
  ORDER BY {SQL_DET_HASH.format(col='vec_id')}, vec_id
  LIMIT {_PAIRHIST_K}
),
pairs AS (
  SELECT least(CAST(floor(({COS_SQL.format(a='a.embedding', b='b.embedding')}
                + 1.0) * 10.0) AS BIGINT), 19) AS bin
  FROM s a JOIN s b ON a.vec_id < b.vec_id
)
SELECT bin, CAST(bin AS DOUBLE) / 10.0 - 1.0 AS cos_lo,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY bin
ORDER BY bin
"""


@register("embedding_cosine_pair_histogram", oracle=_PAIRHIST_ORACLE)
def embedding_cosine_pair_histogram(spark, sf_dir):
    """Embedding-space geometry QA: the distribution of pairwise
    cosines over a hash-deterministic sample of vector pairs, bucketed
    into 20 bins on [−1, 1]. A healthy isotropic embedding space puts
    mass near 0; a collapsed (anisotropic) space — the classic failure
    mode representation-learning audits screen for (Ethayarajh 2019)
    — piles up near 1, and this histogram is the cheapest detector.

    Scale shape: the sample is the K = 128 vectors with the SMALLEST
    portable-hash values — a TakeOrdered selection whose size is fixed
    at ANY corpus size, so the pair count is K(K−1)/2 = 8,128 forever.
    (The first cut sampled by vec_id % 17: correct at the fixture, but
    the subset grows LINEARLY with the corpus and its self-join
    quadratically — at the 100× replica that was already 69M cosine
    folds. A diagnostic's cost must be bounded by the diagnostic, not
    the data.) Cosines are sequential-fold doubles (bit-identical
    across engines, ann_cosine_topk_brute discipline); binning is
    floor arithmetic; counts are exact BIGINTs."""
    from wikipedia_data_pipeline_spark.functions import cosine_similarity
    from wikipedia_data_pipeline_spark.operators.sampling import det_hash

    e = (
        load_table(spark, sf_dir, "embeddings")
        .orderBy(det_hash("vec_id"), F.col("vec_id"))
        .limit(_PAIRHIST_K)
    )
    a = e.select(
        F.col("vec_id").alias("ida"), F.col("embedding").alias("ea")
    )
    b = e.select(
        F.col("vec_id").alias("idb"), F.col("embedding").alias("eb")
    )
    pairs = a.join(F.broadcast(b), F.col("ida") < F.col("idb")).select(
        F.least(
            F.floor(
                (cosine_similarity(F.col("ea"), F.col("eb")) + 1.0) * 10.0
            ).cast("long"),
            F.lit(19).cast("long"),
        ).alias("bin")
    )
    return (
        pairs.groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .select(
            "bin",
            (F.col("bin").cast("double") / 10.0 - 1.0).alias("cos_lo"),
            "n_pairs",
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Simplified silhouette: per-label clustering quality
# ---------------------------------------------------------------------------
# The centroid-based silhouette (Hruschka et al.): for each vector,
# a = cosine DISTANCE to its own label centroid, b = distance to the
# nearest OTHER label centroid, s = (b - a) / max(a, b) in [-1, 1] —
# the O(n*k) label-quality score that replaces the O(n^2) classic
# silhouette at corpus scale. Per-label mean silhouette near 0 or
# negative flags labels whose vectors sit closer to a different
# class's center (merge/relabel candidates). Centroids use the
# decimal-exact component means shared with embedding_label_outliers;
# each vector scores against the broadcast |labels|-row centroid set
# via the deterministic sequential cosine fold; the per-label mean
# rides a DECIMAL(18,6) sum (order-independent).

_SSIL_ORACLE = f"""
WITH {_CENTROID_COMP_CTE},
cent AS (
  SELECT label AS clabel, list(mean_x ORDER BY pos) AS c
  FROM comp GROUP BY label
),
scored AS (
  SELECT e.vec_id, e.label,
         max(CASE WHEN e.label = cent.clabel
             THEN {COS_SQL.format(a='e.embedding', b='cent.c')} END)
           AS cos_own,
         max(CASE WHEN e.label <> cent.clabel
             THEN {COS_SQL.format(a='e.embedding', b='cent.c')} END)
           AS cos_other
  FROM embeddings e CROSS JOIN cent
  GROUP BY e.vec_id, e.label
),
sil AS (
  SELECT label,
         ((1.0 - cos_other) - (1.0 - cos_own))
           / greatest(1.0 - cos_own, 1.0 - cos_other) AS s
  FROM scored
)
SELECT label, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(s AS DECIMAL(18,6))) AS DOUBLE) / count(*)
         AS mean_silhouette
FROM sil GROUP BY label
"""


@register("embedding_simplified_silhouette", oracle=_SSIL_ORACLE)
def embedding_simplified_silhouette(spark, sf_dir):
    """Per-label simplified (centroid) silhouette over the embedding
    corpus — the O(n·k) clustering-quality score. See the section
    comment.

    Scale shape: one component agg for centroids (d·k rows), ONE scan
    of the vectors against the broadcast centroid set (never a vector
    self-join), a per-vector fixed expression, and a DECIMAL per-label
    mean."""
    from wikipedia_data_pipeline_spark.functions import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    cent = _label_centroids(emb, F.col("label").alias("clabel"))
    cos = cosine_similarity(F.col("embedding"), F.col("c"))
    scored = (
        emb.crossJoin(F.broadcast(cent))
        .groupBy("vec_id", "label")
        .agg(
            F.max(
                F.when(F.col("label") == F.col("clabel"), cos)
            ).alias("cos_own"),
            F.max(
                F.when(F.col("label") != F.col("clabel"), cos)
            ).alias("cos_other"),
        )
    )
    a = 1.0 - F.col("cos_own")
    b = 1.0 - F.col("cos_other")
    sil = scored.select(
        "label", ((b - a) / F.greatest(a, b)).alias("s")
    )
    return sil.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.sum(F.col("s").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("mean_silhouette"),
    )


# ---------------------------------------------------------------------------
# Participation ratio: effective dimensionality without an eigensolver
# ---------------------------------------------------------------------------
# PR = tr(C)^2 / tr(C^2) for the embedding covariance C equals
# (sum lambda)^2 / sum lambda^2 — the standard effective-rank readout
# (PR = d for isotropic vectors, ~1 for a collapsed representation) —
# and BOTH traces are computable from second moments alone:
# tr(C^2) = ||C||_F^2 = sum_jk cov_jk^2. No eigendecomposition, so
# unlike embedding_pca_project this has an exact SQL twin.
# Exactness: embeddings micro-quantized once (q = round(1e6 x), so the
# cross-moment sums are exact integers in DECIMAL); each of the d^2
# covariance cells is ONE fixed double expression (n*P_jk - S_j*S_k)
# / n^2 / 1e12, nano-quantized before the d^2-term trace sums (the
# n-scaled all-integer squares would overflow DECIMAL(38)).
# Scale shape: one flat-product explode (d^2 BIGINTs per row — narrow,
# no strings) into a (j, k)-keyed hash agg with map-side combine;
# everything after is d^2-bounded.

_PR_D = 64

_PR_ORACLE = f"""
WITH q AS (
  SELECT list_transform(embedding,
                        x -> CAST(round(1e6 * CAST(x AS DOUBLE)) AS BIGINT))
           AS qv
  FROM embeddings
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q),
s AS (
  SELECT t.j, CAST(sum(qv[t.j]) AS BIGINT) AS sj
  FROM q, generate_series(1, {_PR_D}) t(j) GROUP BY 1
),
p AS (
  SELECT t1.j, t2.k,
         CAST(sum(CAST(qv[t1.j] AS DECIMAL(19,0)) * qv[t2.k])
              AS DECIMAL(38,0)) AS pjk
  FROM q, generate_series(1, {_PR_D}) t1(j),
       generate_series(1, {_PR_D}) t2(k)
  GROUP BY 1, 2
),
cell AS (
  SELECT p.j, p.k,
         CAST(round(1e9 * ((CAST(n.n AS DOUBLE) * CAST(p.pjk AS DOUBLE)
                            - CAST(a.sj AS DOUBLE) * CAST(b.sj AS DOUBLE))
                           / (CAST(n.n AS DOUBLE) * n.n) / 1e12))
              AS BIGINT) AS cov_nano
  FROM p JOIN s a ON p.j = a.j JOIN s b ON p.k = b.j CROSS JOIN n
),
tr AS (
  SELECT
    CAST(sum(CASE WHEN j = k THEN CAST(cov_nano AS DECIMAL(38,0))
             ELSE 0 END) AS DOUBLE) / 1e9 AS tr_c,
    CAST(sum(CAST(cov_nano AS DECIMAL(19,0)) * cov_nano)
         AS DOUBLE) / 1e18 AS tr_c2
  FROM cell
)
SELECT (SELECT n FROM n) AS n_vecs, CAST({_PR_D} AS BIGINT) AS d,
       tr_c AS trace_cov, tr_c2 AS trace_cov_sq,
       tr_c * tr_c / tr_c2 AS participation_ratio,
       tr_c * tr_c / tr_c2 / {_PR_D} AS pr_normalized
FROM tr
"""


@register("embedding_participation_ratio", oracle=_PR_ORACLE)
def embedding_participation_ratio(spark, sf_dir):
    """Effective dimensionality of the embedding space via the
    participation ratio tr(C)^2 / tr(C^2) — the representation-collapse
    audit next to embedding_cosine_pair_histogram, exact-oracle because
    both traces come from second moments (no eigensolver). See the
    section comment for the micro-quantized moment construction."""
    emb = load_table(spark, sf_dir, "embeddings")

    # Moment collection rides an Arrow-batched partial Gram instead of
    # exploding d^2 products per vector (the explode form measured
    # 208.8 s at the 100x replica — 800M generated rows; this form
    # eliminates row generation entirely). Exactness is UNCHANGED: the
    # micro-quantization replicates the engines' HALF_UP round (v has
    # <= ~44 significant bits so v + 0.5 is an exact float64 add, and
    # floor(v+0.5) == BigDecimal HALF_UP there), q^T q is an exact
    # int64 matmul (|q| <= ~6e5 -> per-product <= 4e11, safe to ~2e7
    # rows per Arrow batch; default batches are 10k, and the kernel
    # asserts the bound so a raised maxRecordsPerBatch fails loudly
    # instead of wrapping), and the per-batch
    # partials merge through DECIMAL sums — associative, so the result
    # is bit-identical to the SQL twin under any partitioning.
    def _pr_partials(its):
        import numpy as np
        import pandas as pd

        for pdf in its:
            if len(pdf) == 0:
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            v = x * 1e6
            qm = np.where(
                v >= 0, np.floor(v + 0.5), -np.floor(-v + 0.5)
            ).astype(np.int64)
            # The no-overflow bound below assumes the Arrow batch stays
            # well under ~2e7 rows; numpy int64 wraps SILENTLY past it,
            # so a session that raises arrow.maxRecordsPerBatch must
            # fail loudly here rather than ship a plausible wrong PR.
            if qm.shape[0] > 2_000_000:
                raise ValueError(
                    f"participation-ratio Gram batch of {qm.shape[0]} rows "
                    "exceeds the int64 no-overflow budget (2e6 rows, 10x "
                    "headroom under the 2e7 wrap point); lower "
                    "spark.sql.execution.arrow.maxRecordsPerBatch"
                )
            g = qm.T @ qm
            s = qm.sum(axis=0)
            d = qm.shape[1]
            jj, kk = np.meshgrid(
                np.arange(1, d + 1), np.arange(1, d + 1), indexing="ij"
            )
            yield pd.concat(
                [
                    pd.DataFrame(
                        {"j": jj.ravel(), "k": kk.ravel(), "s": g.ravel()}
                    ),
                    pd.DataFrame(
                        {
                            "j": np.arange(1, d + 1),
                            "k": np.full(d, -1),
                            "s": s,
                        }
                    ),
                    pd.DataFrame(
                        {"j": [-1], "k": [-1], "s": [qm.shape[0]]}
                    ),
                ]
            )

    partials = emb.select("embedding").mapInPandas(
        _pr_partials, "j int, k int, s long"
    )
    mom = partials.groupBy("j", "k").agg(
        F.sum(F.col("s").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("v")
    )
    n = (
        mom.filter((F.col("j") == -1) & (F.col("k") == -1))
        .select(F.col("v").cast("long").alias("n"))
    )
    sj = (
        mom.filter((F.col("j") > 0) & (F.col("k") == -1))
        .select("j", F.col("v").cast("long").alias("sj"))
    )
    p = mom.filter((F.col("j") > 0) & (F.col("k") > 0)).select(
        "j", "k", F.col("v").alias("pjk")
    )
    a = sj.select(F.col("j").alias("aj"), F.col("sj").alias("sa"))
    b = sj.select(F.col("j").alias("bj"), F.col("sj").alias("sb"))
    cell = (
        p.join(F.broadcast(a), F.col("j") == F.col("aj"))
        .join(F.broadcast(b), F.col("k") == F.col("bj"))
        .crossJoin(F.broadcast(n))
        .select(
            "j",
            "k",
            F.round(
                1e9
                * (
                    (
                        F.col("n").cast("double") * F.col("pjk").cast("double")
                        - F.col("sa").cast("double") * F.col("sb").cast("double")
                    )
                    / (F.col("n").cast("double") * F.col("n"))
                    / 1e12
                )
            )
            .cast("long")
            .alias("cov_nano"),
        )
    )
    tr = cell.agg(
        (
            F.sum(
                F.when(
                    F.col("j") == F.col("k"),
                    F.col("cov_nano").cast("decimal(38,0)"),
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).cast("double")
            / 1e9
        ).alias("tr_c"),
        (
            F.sum(F.col("cov_nano").cast("decimal(19,0)") * F.col("cov_nano"))
            .cast("double")
            / 1e18
        ).alias("tr_c2"),
    )
    pr = F.col("tr_c") * F.col("tr_c") / F.col("tr_c2")
    return tr.crossJoin(F.broadcast(n)).select(
        F.col("n").alias("n_vecs"),
        F.lit(_PR_D).cast("long").alias("d"),
        F.col("tr_c").alias("trace_cov"),
        F.col("tr_c2").alias("trace_cov_sq"),
        pr.alias("participation_ratio"),
        (pr / _PR_D).alias("pr_normalized"),
    )
