"""Similarity search over embedding columns (array<float>).

  * brute-force cosine top-k — the exact baseline: broadcast the query
    set, score every (query, candidate) pair JVM-side with
    higher-order functions, per-query top-k via window. Scales linearly
    in corpus size × |queries|; at 100 TB this is the "small query set
    against big corpus" path and is embarrassingly parallel (no
    shuffle until the final per-query top-k, which is tiny).
  * random-hyperplane LSH ANN — the scale path: deterministic
    pseudo-random hyperplanes (hash-derived ±1 components) bucket
    vectors by sign pattern; candidates share a bucket with the query;
    exact rerank inside buckets. Approximate by construction →
    rows-only correctness check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.functions import cosine_similarity
from wikipedia_data_pipeline_spark.operators.ranks import pin

# Bucket count is 2^planes; tune to corpus size (buckets ≈ n/avg_bucket).
# 4 planes → 16 buckets suits the 500-2000-vector testdata; a web-scale
# corpus would use 16-24 planes plus multi-probe.
ANN_PLANES = 4


def _top_k_by_cosine(candidates: DataFrame, k: int) -> DataFrame:
    """Exact rerank of (query_id, q_emb) x (vec_id, embedding) candidate
    rows: self excluded, cosine scored, top-k per query in the order
    (cos desc, vec_id). Output: (query_id, vec_id, cos, rnk)."""
    scored = candidates.filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "vec_id",
        cosine_similarity(F.col("q_emb"), F.col("embedding")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "cos", "rnk")
    )


def cosine_topk(
    embeddings: DataFrame, query_ids: list[int], k: int = 10
) -> DataFrame:
    """Exact top-k neighbors by cosine for each query vector (self
    excluded). Deterministic order: (query_id, cos desc, vec_id).

    The corpus side rides ``fan_out`` before the broadcast cross join:
    an embeddings parquet small enough to arrive as a handful of scan
    splits would otherwise serialize |queries| x |corpus| x dim cosine
    math on those few cores (measured 7x at the 100x replica)."""
    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    q = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    return _top_k_by_cosine(fan_out(embeddings).crossJoin(F.broadcast(q)), k)


def _bucket_expr(emb_col, dim: int, planes: int = ANN_PLANES):
    """Sign-pattern bucket id from deterministic ±1 hyperplanes.

    plane p component j = +1 if xxhash64(p*dim+j) has low bit set else
    -1; bucket bit p = [dot(plane_p, v) > 0]. Pure expressions — no UDF,
    no randomness at runtime."""
    def plane_sign(p: int):
        return lambda j: F.when(
            F.xxhash64(F.lit(p * dim) + j).bitwiseAND(F.lit(1)) == 1, 1.0
        ).otherwise(-1.0)

    bucket = F.lit(0).cast("long")
    for p in range(planes):
        dot = F.aggregate(
            F.zip_with(
                emb_col,
                F.transform(F.sequence(F.lit(0), F.lit(dim - 1)), plane_sign(p)),
                lambda x, s: x.cast("double") * s,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def _probe_masks(planes: int, radius: int) -> list[int]:
    """All XOR masks over ``planes`` bits with popcount <= radius."""
    return [m for m in range(1 << planes) if bin(m).count("1") <= radius]


def ann_lsh_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    dim: int = 64,
    planes: int = ANN_PLANES,
    probe_radius: int = 1,
) -> DataFrame:
    """Approximate top-k: exact rerank restricted to the query's LSH
    bucket neighborhood. Recall < 1 by design (rows-only check); the
    point is the plan shape — bucket equi-join instead of full cross
    product.

    Multi-probe: each query probes every bucket within Hamming distance
    ``probe_radius`` of its own sign pattern (the classic multi-probe
    LSH recall lever) — the query side explodes by ``C(planes, <=r)``
    rows, still broadcast-tiny, while the corpus side stays one bucket
    per vector.

    The corpus-side bucket expression (planes x dim multiply-adds per
    vector) rides ``fan_out``; the query side branches from the RAW
    scan so its 5-id filter still pushes down to parquet."""
    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    bucket = _bucket_expr(F.col("embedding"), dim, planes)
    with_bucket = fan_out(embeddings).withColumn("bucket", bucket)
    masks = F.array(*[F.lit(m) for m in _probe_masks(planes, probe_radius)])
    q = (
        embeddings.withColumn("bucket", bucket)
        .filter(F.col("vec_id").isin(query_ids))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.explode(
                F.transform(masks, lambda m: F.col("bucket").bitwiseXOR(m))
            ).alias("q_bucket"),
        )
    )
    return _top_k_by_cosine(
        with_bucket.join(
            F.broadcast(q), F.col("bucket") == F.col("q_bucket"), "inner"
        ),
        k,
    )


IVF_CENTROID_MOD = 37  # ~n/37 coarse centroids; tune to sqrt(n) at scale
IVF_NPROBE = 2
# Hard cap on the keep_rank==1 argmin fold (one broadcast row holding
# the whole centroid table): 1<<17 centroids at d=64 doubles is ~67 MB
# per row — comfortably under the 2 GB Arrow/JVM row limit, far above
# any sane sqrt(n) quantizer at test SFs.
FOLD_MAX_CENTROIDS = 1 << 17


def _nearest_centroids(
    embeddings: DataFrame,
    centroids: DataFrame,
    keep_rank: int,
    id_out: str,
) -> DataFrame:
    """Assign each vector to its ``keep_rank`` nearest centroids by
    cosine (broadcast centroid table × corpus scan; ties break on the
    smaller centroid_id).

    ``keep_rank == 1`` — the corpus-assignment hot path (IVF build,
    k-means iterations, SemDeDup clustering) — folds the centroid table
    into ONE broadcast array row and takes an ``array_min`` argmin over
    (-cos, centroid_id) structs: a pure map, no |corpus|×|centroids|
    intermediate relation and no per-vec_id window shuffle (which cost
    ~|corpus|×|centroids| rows through an exchange — the dominant term
    of every assignment pass). Lexicographic struct ordering on the
    negated cosine reproduces the (cos DESC, centroid_id ASC) ranking
    bit-for-bit. ``keep_rank > 1`` (query-side nprobe) keeps the
    explicit window — those inputs are query-sized.

    The fold materializes the WHOLE centroid table inside one row, so
    it is only legal for bounded centroid sets (the documented IVF /
    k-means contract: k ≈ √n, trained on a sample). An in-plan
    ``assert_true`` caps the folded count at ``FOLD_MAX_CENTROIDS`` —
    an unbounded quantizer (e.g. a mod-sampled default applied to a
    full-scale corpus) now fails loudly with guidance instead of
    growing one O(corpus) broadcast row into an Arrow/JVM 2 GB-row
    OOM."""
    if keep_rank == 1:
        cand = centroids.groupBy().agg(
            F.collect_list(F.struct("centroid_id", "c_emb")).alias("_cands")
        )
        cand = cand.select(
            F.when(
                F.assert_true(
                    F.size("_cands") <= FOLD_MAX_CENTROIDS,
                    F.concat(
                        F.lit(
                            "_nearest_centroids: centroid count "
                        ),
                        F.size("_cands").cast("string"),
                        F.lit(
                            f" exceeds FOLD_MAX_CENTROIDS={FOLD_MAX_CENTROIDS};"
                            " pass a bounded quantizer"
                            " (kmeans_centroids on a sample, k ~ sqrt(n))"
                            " instead of the mod-sampled default"
                        ),
                    ),
                ).isNull(),
                F.col("_cands"),
            ).alias("_cands")
        )
        scored = F.transform(
            F.col("_cands"),
            lambda c: F.struct(
                (-cosine_similarity(F.col("embedding"), c["c_emb"])).alias(
                    "negcos"
                ),
                c["centroid_id"].alias("centroid_id"),
            ),
        )
        # corpus-assignment hot path: |centroids| x dim multiply-adds
        # per corpus row — fan_out so a few-split scan can't serialize
        # it (no-op on healthy scans and on already-shuffled inputs)
        from wikipedia_data_pipeline_spark.sources.tables import fan_out

        corpus = fan_out(embeddings)
        return corpus.crossJoin(F.broadcast(cand)).select(
            corpus["*"],
            F.array_min(scored)["centroid_id"].alias(id_out),
        )
    scored = embeddings.crossJoin(F.broadcast(centroids)).select(
        embeddings["*"],
        "centroid_id",
        cosine_similarity(F.col("embedding"), F.col("c_emb")).alias("c_cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("c_cos"), F.asc("centroid_id"))
    return (
        scored.withColumn("c_rnk", F.row_number().over(w))
        .filter(F.col("c_rnk") <= keep_rank)
        .select(embeddings["*"], F.col("centroid_id").alias(id_out))
    )


def kmeans_centroids(
    embeddings: DataFrame, k: int = 16, iters: int = 3
) -> DataFrame:
    """Trained IVF coarse quantizer: k-means via Lloyd iterations,
    expressed as a bounded DataFrame loop (the iterative-algorithm
    pattern — same shape as dedup_cluster_select's label propagation).

    Seeds are a deterministic hash-ordered sample (xxhash64 of vec_id —
    reproducible under any partitioning). Each iteration is one corpus
    scan: assign to nearest broadcast centroid (crossJoin is
    broadcast-bounded, k rows), then recompute cluster means with an
    Arrow-vectorized grouped-map (numpy column mean per cell — the
    elementwise array average has no builtin aggregate, so this is the
    documented pandas-UDF escape hatch; one shuffle on centroid_id per
    iteration). Training cost is iters × (scan + tiny shuffle), run
    once and amortized over every subsequent query — at 100 TB you
    train on a sample and assign the full corpus once.

    Empty cells vanish after their iteration (standard Lloyd behavior),
    so the result may have < k rows.
    """
    import pandas as pd  # noqa: F401 — applyInPandas payload

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    centroid_schema = StructType(
        [
            StructField("centroid_id", LongType()),
            StructField("c_emb", ArrayType(DoubleType())),
        ]
    )

    def _cluster_mean(key, pdf):
        import numpy as np
        import pandas as pd

        m = np.stack(pdf["embedding"].to_numpy()).astype("float64").mean(axis=0)
        return pd.DataFrame({"centroid_id": [key[0]], "c_emb": [m.tolist()]})

    w_seed = Window.orderBy("h", "vec_id")
    centroids = (
        embeddings.withColumn("h", F.xxhash64(F.col("vec_id")))
        .orderBy("h", "vec_id")
        .limit(k)
        .select(
            (F.row_number().over(w_seed) - 1).cast("long").alias("centroid_id"),
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
                "c_emb"
            ),
        )
    )
    for _ in range(iters):
        assigned = _nearest_centroids(embeddings, centroids, 1, "centroid_id")
        centroids = (
            assigned.select("centroid_id", "embedding")
            .groupBy("centroid_id")
            .applyInPandas(_cluster_mean, centroid_schema)
        )
    return centroids


def _mod_sampled_centroids(embeddings: DataFrame, centroid_mod: int) -> DataFrame:
    """(centroid_id, c_emb): every ``centroid_mod``-th vector as a
    centroid — the deterministic, training-free quantizer."""
    return embeddings.filter(F.col("vec_id") % centroid_mod == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("c_emb"),
    )


def ann_ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    centroid_mod: int = IVF_CENTROID_MOD,
    nprobe: int = IVF_NPROBE,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus to its nearest centroid,
    then answer each query by exact rerank inside its ``nprobe`` closest
    centroid cells.

    ``centroids`` defaults to a deterministic hash-sample of the corpus
    itself (zero training cost); pass ``kmeans_centroids(...)`` for the
    trained quantizer (tighter cells → higher recall at the same
    nprobe).

    Plan shape at scale: the centroid table is tiny and broadcast twice
    (assignment pass + query probe); the corpus is scanned once to build
    the cell assignment, and the candidate join is an equi-join on
    centroid_id — no cross product against the corpus. Recall < 1 by
    construction → rows-only correctness check, like the LSH variant.
    """
    if centroids is None:
        centroids = _mod_sampled_centroids(embeddings, centroid_mod)

    corpus = _nearest_centroids(embeddings, centroids, 1, "cell")
    queries = _nearest_centroids(
        embeddings.filter(F.col("vec_id").isin(query_ids)), centroids, nprobe, "cell"
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "cell",
    )
    return _top_k_by_cosine(corpus.join(F.broadcast(queries), "cell"), k)


def ann_recall(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query recall@k of an ANN result against the exact top-k.

    Pure DataFrame join of the two result sets (VERDICT.md round-1
    item 4): hits = |approx ∩ exact| per query via a broadcast-size
    semi-join on (query_id, vec_id); recall = hits / |exact top-k|.
    Both inputs are tiny (|queries| × k rows), so this is driver-cheap
    at any corpus scale.
    """
    e = exact.select("query_id", "vec_id")
    hits = (
        e.join(approx.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("hits"))
    )
    possible = e.groupBy("query_id").agg(F.count("*").alias("k_possible"))
    return (
        possible.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            F.col("k_possible").cast("long").alias("k_possible"),
            F.round(
                F.coalesce(F.col("hits"), F.lit(0)) / F.col("k_possible"), 4
            ).alias("recall"),
        )
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.45
) -> DataFrame:
    """All-pairs cosine near-dup detection (exact; the embedding analog
    of brute-force Jaccard dedup)."""
    a = embeddings.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a")
    )
    b = embeddings.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b")
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos", cosine_similarity(F.col("emb_a"), F.col("emb_b")))
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", "cos")
    )


# --- Product quantization (PQ) -------------------------------------------
#
# The 100 TB ANN path: a 64-dim float32 vector is 256 bytes; its PQ code
# is PQ_M bytes + the shared codebook. The ADC scan never touches raw
# vectors — it reads the code table (32-64x smaller than the corpus) and
# sums per-subspace distances out of a broadcast lookup table.

PQ_DIM = 64     # embedding width the PQ path is built for
PQ_M = 16       # subspaces (code bytes per vector); d_sub = PQ_DIM/PQ_M = 4
PQ_K = 32       # codewords per subspace
PQ_ITERS = 3    # Lloyd iterations per subspace codebook
PQ_RERANK = 4   # ADC shortlist = PQ_RERANK × k, then exact rerank


def _sq_dist(a, b):
    """Squared euclidean distance of two double arrays (sequential fold
    — deterministic)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _subspace_rows(embeddings: DataFrame, dim: int, m: int) -> DataFrame:
    """(vec_id, subspace, sub): each vector L2-normalized then split into
    m contiguous sub-vectors — a narrow 1→m explode, no shuffle.

    Normalization makes squared-euclidean ADC ordering equal cosine
    ordering (||a-b||² = 2-2·cos for unit vectors), so the PQ path
    answers the same nearest-by-cosine question as the brute baseline."""
    d_sub = dim // m
    # norm and the normalized vector are LET-BOUND (transform(array(x),
    # v -> ...)): inlined, the norm fold would re-run once per element
    # of the normalize transform and the normalize once per subspace
    # slice (higher-order lambda bodies re-evaluate row-invariant
    # subtrees per element — see dedup.hashed_shingles)
    subs = F.expr(
        f"""
        element_at(transform(
          array(sqrt(aggregate(embedding, cast(0.0 as double),
                               (acc, x) -> acc + cast(x as double)
                                 * cast(x as double)))), nrm ->
          element_at(transform(
            array(transform(embedding,
                  x -> coalesce(try_divide(cast(x as double), nrm),
                                0.0d))), unit ->
            transform(sequence(0, {m - 1}),
                      s -> struct(cast(s as int) AS subspace,
                                  slice(unit, s * {d_sub} + 1,
                                        {d_sub}) AS sub))), 1)), 1)
        """
    )
    return embeddings.select("vec_id", F.explode(subs).alias("e")).select(
        "vec_id",
        F.col("e.subspace").alias("subspace"),
        F.col("e.sub").alias("sub"),
    )


def _nearest_code(sub_rows: DataFrame, codebooks: DataFrame) -> DataFrame:
    """Assign every (vec_id, subspace) sub-vector to its nearest codeword.

    The codebook is folded to ONE array row per subspace and broadcast;
    the argmin is an ``array_min`` over (distance, code) structs — struct
    ordering is lexicographic, so ties break on the smaller code exactly
    like the previous ``row_number`` formulation, but as a PURE MAP: no
    window, no shuffle. Assignment cost is corpus-linear inside codegen,
    which matters because training runs this once per Lloyd iteration
    over corpus×m sub-vector rows (the old per-(vec_id, subspace) window
    shuffled that relation every iteration)."""
    cand = codebooks.groupBy("subspace").agg(
        F.collect_list(F.struct("code", "c_sub")).alias("cands")
    )
    scored = F.transform(
        F.col("cands"),
        lambda c: F.struct(
            _sq_dist(F.col("sub"), c["c_sub"]).alias("d"),
            c["code"].alias("code"),
        ),
    )
    return sub_rows.join(F.broadcast(cand), "subspace").select(
        "vec_id",
        "subspace",
        F.array_min(scored)["code"].alias("code"),
        "sub",
    )


def pq_codebooks(
    embeddings: DataFrame,
    dim: int = PQ_DIM,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
) -> DataFrame:
    """Train per-subspace codebooks: independent k-means in each of the
    m sub-vector spaces (classic PQ, Jégou et al. 2011), as a bounded
    Lloyd loop like kmeans_centroids.

    Seeds are hash-ordered samples per subspace (deterministic under any
    partitioning). Each iteration: one broadcast-join assignment pass
    over the (corpus × m) sub-vector rows + an Arrow grouped-map mean
    per (subspace, code) cell — m×k tiny groups, one shuffle. At 100 TB
    you train on a driver-bounded sample; the loop shape is identical.
    Returns (subspace int, code int, c_sub array<double>); empty cells
    may vanish (standard Lloyd), callers must not assume k codes.
    """
    import pandas as pd  # noqa: F401

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("subspace", IntegerType()),
            StructField("code", IntegerType()),
            StructField("c_sub", ArrayType(DoubleType())),
        ]
    )

    def _cell_mean(key, pdf):
        import numpy as np
        import pandas as pd

        mean = np.stack(pdf["sub"].to_numpy()).astype("float64").mean(axis=0)
        return pd.DataFrame(
            {"subspace": [key[0]], "code": [key[1]], "c_sub": [mean.tolist()]}
        )

    sub_rows = pin(_subspace_rows(embeddings, dim, m))
    w_seed = Window.partitionBy("subspace").orderBy("h", "vec_id")
    cb = (
        sub_rows.withColumn("h", F.xxhash64("vec_id", "subspace"))
        .withColumn("rn", F.row_number().over(w_seed))
        .filter(F.col("rn") <= k)
        .select(
            "subspace",
            (F.col("rn") - 1).cast("int").alias("code"),
            F.col("sub").alias("c_sub"),
        )
    )
    for _ in range(iters):
        assigned = _nearest_code(sub_rows, cb)
        cb = assigned.groupBy("subspace", "code").applyInPandas(
            _cell_mean, schema
        )
    return cb


def pq_encode(
    embeddings: DataFrame,
    codebooks: DataFrame,
    dim: int = PQ_DIM,
    m: int = PQ_M,
) -> DataFrame:
    """(vec_id, codes array<int>): the PQ compressed corpus — m bytes of
    payload per vector. One broadcast assignment scan + one shuffle back
    on vec_id (index build cost, amortized over every query)."""
    assigned = _nearest_code(_subspace_rows(embeddings, dim, m), codebooks)
    return assigned.groupBy("vec_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("subspace", "code"))),
            lambda s: s.code,
        ).alias("codes")
    )


def ann_pq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    m: int = PQ_M,
    kcode: int = PQ_K,
    iters: int = PQ_ITERS,
    rerank: int = PQ_RERANK,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """PQ ANN via asymmetric distance computation (ADC) + exact rerank
    over ``PQ_DIM``-wide embeddings: per query, precompute an m×kcode
    lookup table of squared distances from the query sub-vectors to
    every codeword, score the whole corpus
    by summing m table lookups per vector — the scan reads ONLY the code
    table (no raw vectors) and runs as pure higher-order expressions
    inside codegen against a broadcast of the per-query tables — then
    fetch raw vectors for just the ``rerank × k`` ADC shortlist and
    rank those exactly by cosine (the standard IVF-PQ serving shape:
    quantized scan over everything, exact math over a shortlist).
    Shuffle budget: the one-off encode shuffle + two tiny per-query
    top-k windows; raw embeddings are touched only via a broadcast
    semi-probe of shortlist ids.

    Approximate by construction (quantization error can push a true
    neighbor out of the shortlist) → rows-only check; recall is measured
    in ann_recall_report and asserted in tests.

    Train/serve split (the production amortization): pass ``codebooks``
    (and optionally ``codes``) from ``load_pq_index`` to skip training
    and/or encoding entirely — the call is then scan-time ADC only, the
    same ``centroids=``-style injection the IVF path has. With neither
    passed, the model is trained in-line (``iters`` Lloyd rounds; 0 =
    deterministic hash-ordered seed codewords, training-free).
    Output: (query_id, vec_id, cos, rnk) — same interface as the other
    ANN paths.
    """
    cb = (
        codebooks
        if codebooks is not None
        else pin(pq_codebooks(embeddings, PQ_DIM, m, kcode, iters))
    )
    if codes is None:
        codes = pq_encode(embeddings, cb, PQ_DIM, m)
    qsubs = _subspace_rows(
        embeddings.filter(F.col("vec_id").isin(query_ids)), PQ_DIM, m
    ).select(F.col("vec_id").alias("query_id"), "subspace", "sub")
    dtab = qsubs.join(F.broadcast(cb), "subspace").select(
        "query_id",
        "subspace",
        "code",
        _sq_dist(F.col("sub"), F.col("c_sub")).alias("d"),
    )
    # Flat lookup keyed s*kcode+code; a map (not array) so codewords
    # dropped as empty Lloyd cells cannot shift positions.
    dt = dtab.groupBy("query_id").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    (F.col("subspace") * kcode + F.col("code"))
                    .cast("int")
                    .alias("key"),
                    F.col("d").alias("value"),
                )
            )
        ).alias("dt")
    )
    scored = (
        codes.crossJoin(F.broadcast(dt))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "adist",
            F.aggregate(
                F.sequence(F.lit(0), F.lit(m - 1)),
                F.lit(0.0),
                lambda acc, s: acc
                + F.element_at(
                    F.col("dt"),
                    (s * kcode + F.element_at(F.col("codes"), (s + 1).cast("int")))
                    .cast("int"),
                ),
            ),
        )
    )
    w_adc = Window.partitionBy("query_id").orderBy("adist", F.asc("vec_id"))
    shortlist = (
        scored.withColumn("_arnk", F.row_number().over(w_adc))
        .filter(F.col("_arnk") <= rerank * k)
        .select("query_id", "vec_id")
    )
    q_raw = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    exact = (
        shortlist.join(embeddings, "vec_id")
        .join(F.broadcast(q_raw), "query_id")
        .select(
            "query_id",
            "vec_id",
            cosine_similarity(F.col("q_emb"), F.col("embedding")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        exact.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "cos", "rnk")
    )


def semantic_dedup(
    embeddings: DataFrame,
    tau: float = 0.45,
    centroid_mod: int = IVF_CENTROID_MOD,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): coarse-cluster the corpus, then inside each
    cluster drop every vector that has a MORE-SENIOR semantic duplicate
    (cosine ≥ ``tau``, smaller vec_id — the deterministic stand-in for
    the paper's keep-one-per-group choice).

    Scale shape: the pair search is an equi-join on the cluster id —
    never all-pairs over the corpus. The centroids are every
    ``centroid_mod``-th vector: deterministic and therefore exactly
    oracle-checkable at test SFs, but k grows linearly with the corpus.
    At 100 TB the quantizer would be ``kmeans_centroids(sample, k)``
    with BOUNDED k (≈√n), because assignment costs |corpus|×k cosines.
    One broadcast of the centroid table for the assignment scan, one
    cell-keyed shuffle for the pair join.

    Returns (vec_id, cell, keep): ``keep=false`` rows are the semantic
    duplicates a curation pipeline would drop before training.
    """
    centroids = _mod_sampled_centroids(embeddings, centroid_mod)

    # Persisted: `cells` feeds both sides of the pair join — without a
    # shared materialization each branch re-runs the assignment scan
    # (the expensive pass) over the whole corpus.
    cells = pin(
        _nearest_centroids(embeddings, centroids, 1, "cell")
        .select("vec_id", "embedding", "cell")
    )
    seniors = cells.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        "cell",
    )
    drops = (
        cells.join(seniors, "cell")
        .filter(F.col("b_id") < F.col("vec_id"))
        .filter(
            cosine_similarity(F.col("embedding"), F.col("b_emb")) >= tau
        )
        .select("vec_id")
        .distinct()
    )
    return cells.join(drops.withColumn("_drop", F.lit(True)), "vec_id", "left").select(
        "vec_id",
        "cell",
        F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep"),
    )


def build_pq_index(
    embeddings: DataFrame,
    path: str,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
) -> None:
    """Persist the PQ model of ``PQ_DIM``-wide embeddings as parquet
    artifacts: the trained codebooks and the encoded corpus (m small
    ints per vector — the 32-64× space reduction that makes the ADC
    scan cheap). This is the once-amortized
    train+encode job; serving (``ann_pq_topk(codebooks=..., codes=...)``)
    then never trains, never encodes, and never reads raw vectors except
    for the rerank shortlist."""
    import os

    cb = pq_codebooks(embeddings, PQ_DIM, m, k, iters).persist()
    cb.write.mode("overwrite").parquet(os.path.join(path, "codebooks"))
    pq_encode(embeddings, cb, PQ_DIM, m).write.mode("overwrite").parquet(
        os.path.join(path, "codes")
    )
    cb.unpersist()


def load_pq_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """(codebooks, codes) back from ``build_pq_index`` artifacts."""
    import os

    return (
        spark.read.parquet(os.path.join(path, "codebooks")),
        spark.read.parquet(os.path.join(path, "codes")),
    )


def build_ivf_index(
    embeddings: DataFrame, path: str, k: int = 16, iters: int = 3
) -> None:
    """Persist the IVF index as parquet artifacts: the trained centroid
    table and the corpus laid out partitioned BY CELL — the
    once-amortized train+assign job of a production vector index. With
    the corpus physically clustered by cell, a probe that touches
    ``nprobe`` cells reads only those directories (partition pruning),
    which is the property that makes IVF sublinear on disk, not just in
    compute."""
    import os

    cents = kmeans_centroids(embeddings, k, iters).persist()
    cents.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    assigned = _nearest_centroids(embeddings, cents, 1, "cell")
    (
        assigned.select("vec_id", "embedding", "cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(os.path.join(path, "cells"))
    )
    cents.unpersist()


def load_ivf_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """(centroids, cell-partitioned corpus) back from ``build_ivf_index``
    artifacts."""
    import os

    return (
        spark.read.parquet(os.path.join(path, "centroids")),
        spark.read.parquet(os.path.join(path, "cells")),
    )


def ann_ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Answer ANN queries from the persisted index: probe the broadcast
    centroid table for each query's ``IVF_NPROBE`` cells, equi-join the
    cell-partitioned corpus on cell, exact-rerank inside. No assignment
    pass, no full-corpus scan — the query-time path a serving job runs.
    ``queries``: (vec_id, embedding)."""
    cents, cells = load_ivf_index(spark, path)
    probes = _nearest_centroids(queries, cents, IVF_NPROBE, "cell").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "cell",
    )
    return _top_k_by_cosine(cells.join(F.broadcast(probes), "cell"), k)


# --- Distributed PCA -----------------------------------------------------

def pca_project(embeddings: DataFrame, k: int = 2) -> DataFrame:
    """Principal-component projection of an ``(vec_id, embedding)``
    corpus to k dimensions — the embedding-QA / visualization reduction.

    Distributed shape: the only data-sized work is accumulating the
    d-vector of sums and the d×d Gram matrix, done as NumPy partials
    per Arrow batch inside ``mapInPandas`` (each task emits at most
    d² + d + 1 tiny rows regardless of how many vectors it saw), then
    one d²-row aggregate. The eigendecomposition runs on the driver
    over the d×d covariance — O(d³) on a matrix whose size is fixed by
    the MODEL, not the corpus (the same boundary as BPE's vocab merge
    loop or IVF's centroid training: distributed moments, central
    solve, broadcast back). The projection itself is a narrow map with
    the k×d component matrix as literals.

    Eigenvector sign is normalized (largest-|coefficient| entry made
    positive) so the output is deterministic across LAPACK builds.
    Approximate by nature of float eigensolvers → no SQL oracle;
    correctness is pytest-asserted on data with a planted principal
    direction.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    d = len(embeddings.select("embedding").first()[0])

    part_schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("j", T.IntegerType()),
            T.StructField("v", T.DoubleType()),
        ]
    )

    def moments(batches):
        for pdf in batches:
            x = np.vstack(pdf["embedding"].to_numpy())
            gram = x.T @ x  # d×d partial
            sums = x.sum(axis=0)  # d partial
            ii, jj = np.meshgrid(range(d), range(d), indexing="ij")
            yield pd.DataFrame(
                {
                    "i": np.concatenate([ii.ravel(), np.arange(d), [-1]]),
                    "j": np.concatenate([jj.ravel(), np.full(d, -1), [-1]]),
                    "v": np.concatenate(
                        [gram.ravel(), sums, [float(len(pdf))]]
                    ),
                }
            )

    agg = (
        embeddings.select("embedding")
        .mapInPandas(moments, part_schema)
        .groupBy("i", "j")
        .agg(F.sum("v").alias("v"))
        .collect()
    )
    n = next(r.v for r in agg if r.i == -1 and r.j == -1)
    mu = np.zeros(d)
    gram = np.zeros((d, d))
    for r in agg:
        if r.i == -1:
            continue
        if r.j == -1:
            mu[r.i] = r.v / n
        else:
            gram[r.i, r.j] = r.v
    cov = gram / n - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T  # k×d
    for c in comps:  # sign normalization for determinism
        if c[np.argmax(np.abs(c))] < 0:
            c *= -1

    proj_cols = []
    for ci, comp in enumerate(comps):
        carr = F.array(*[F.lit(float(w)) for w in comp])
        dot = F.aggregate(
            F.zip_with(
                F.col("embedding"), carr, lambda x, w: x.cast("double") * w
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        mu_dot = float(np.dot(mu, comp))
        proj_cols.append((dot - F.lit(mu_dot)).alias(f"pc{ci + 1}"))
    return embeddings.select("vec_id", *proj_cols)


def frequent_directions(embeddings: DataFrame, ell: int = 8):
    """Frequent Directions matrix sketch (Liberty 2013) of the
    ``embedding`` column: an ℓ×d matrix B with the deterministic
    guarantee ‖AᵀA − BᵀB‖₂ ≤ ‖A‖²_F / ℓ — the streaming/mergeable
    low-rank summary of an embedding corpus.

    Where ``pca_project`` ships the exact d×d Gram (right answer while
    d² rows are small), FD is the scale path when d grows: every task
    folds its rows into a 2ℓ×d buffer (SVD-shrink each time the buffer
    fills — O(ℓ·d) memory regardless of rows seen), emits its ℓ
    surviving directions, and the partial sketches — ℓ rows per task,
    model-sized — merge by simply stacking and shrinking once more on
    the driver (FD's merge IS its insert, which is what makes it
    mergeable). Sketch contents depend on partition order, but the
    GUARANTEE holds for any order — so correctness is asserted via the
    spectral-error bound, not value equality (rows-only in the gate).

    Returns (numpy ℓ×d sketch, frob_sq) — query wrappers shape it."""
    import numpy as np

    from pyspark.sql import types as T

    d = len(embeddings.select("embedding").first()[0])
    buf_rows = 2 * ell

    part_schema = T.StructType(
        [
            T.StructField("slot", T.IntegerType()),
            T.StructField("vec", T.ArrayType(T.DoubleType())),
            T.StructField("frob_sq", T.DoubleType()),
        ]
    )

    def shrink(B: "np.ndarray") -> "np.ndarray":
        _, s, vt = np.linalg.svd(B, full_matrices=False)
        if len(s) > ell:
            delta = s[ell - 1] ** 2
            s2 = np.sqrt(np.maximum(s**2 - delta, 0.0))
        else:
            s2 = s
        return (s2[:, None] * vt)[:ell]

    def fd_partial(batches):
        import pandas as pd

        B = np.zeros((0, d))
        frob = 0.0
        for pdf in batches:
            X = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            frob += float((X**2).sum())
            B = np.vstack([B, X])
            while B.shape[0] > buf_rows:
                B = np.vstack([shrink(B[:buf_rows]), B[buf_rows:]])
        if B.shape[0] > ell:
            B = shrink(B)
        if B.shape[0] == 0:
            # empty partition (routine after filters/repartitions):
            # frob is necessarily 0.0 here, so yielding nothing is
            # exact — and avoids a ragged frame ([frob] vs 0 slots).
            return
        yield pd.DataFrame(
            {
                "slot": range(B.shape[0]),
                "vec": [row.tolist() for row in B],
                "frob_sq": [frob] + [0.0] * (B.shape[0] - 1),
            }
        )

    parts = (
        embeddings.select("embedding")
        .mapInPandas(fd_partial, part_schema)
        .collect()
    )
    frob_sq = sum(r.frob_sq for r in parts)
    stacked = np.array([r.vec for r in parts])
    while stacked.shape[0] > ell:
        head = stacked[:buf_rows]
        stacked = np.vstack([shrink(head), stacked[buf_rows:]])
    return stacked, frob_sq
