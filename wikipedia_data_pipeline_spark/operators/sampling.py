"""Deterministic sampling / split-assignment / sequence-packing
operators for training-data preparation.

Everything here is a pure narrow map or a single window pass — no
Python, no randomness. Randomness is the enemy of reproducible data
pipelines at 100 TB: ``rand()`` re-draws on task retry and is
partitioning-dependent, so a retried stage silently changes the
training set. Instead every decision derives from a *portable
arithmetic hash* of the stable row key (Knuth multiplicative hashing),
which (a) is reproducible under any partitioning, task retry, or
cluster size, (b) is computable bit-identically by any SQL engine
(unlike xxhash64/murmur, whose seeds differ across engines), and
(c) makes samples *consistent across runs and tables* — the same
doc_id always lands in the same split.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Knuth's multiplicative constant (golden-ratio * 2^32) and a Mersenne
# prime modulus. doc_id is first reduced mod 1e6+3 so the product stays
# far below 2^63 on any engine (DuckDB raises on BIGINT overflow rather
# than wrapping, so staying in-range is a portability requirement, not
# just hygiene).
KNUTH = 2654435761
PRE_MOD = 1_000_003
HASH_MOD = (1 << 31) - 1

# DuckDB twin of det_hash() — keep the two expressions in lockstep.
SQL_DET_HASH = f"((({{col}} % {PRE_MOD}) * {KNUTH} + 12345) % {HASH_MOD})"


def det_hash(col: Column | str) -> Column:
    """Portable deterministic hash of an integer key → [0, 2^31-1)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        (c.cast("long") % PRE_MOD) * F.lit(KNUTH) + F.lit(12345)
    ) % F.lit(HASH_MOD)


def assign_splits(documents: DataFrame) -> DataFrame:
    """Hash-bucket train/val/test assignment of each doc_id (90% / 5% /
    the remaining 5%).

    One narrow projection — the split column costs nothing at any
    scale and is stable against re-partitioning and retries.
    """
    h = det_hash("doc_id")
    bucket = h % 100
    return documents.select(
        "doc_id",
        "lang",
        "source",
        h.alias("sample_hash"),
        F.when(bucket < 90, "train")
        .when(bucket < 95, "val")
        .otherwise("test")
        .alias("split"),
    )


def stratified_sample(
    documents: DataFrame,
    group_col: str = "lang",
    fraction: float = 0.2,
) -> DataFrame:
    """Keep ceil(fraction × group size) docs per group, chosen by
    doc_id hash order (deterministic, uniform within the group).

    One shuffle on the group key. The per-group count rides the same
    window partition as the rank — no second aggregation pass. Group
    cardinality is small (languages/sources), so skew is bounded by
    group size; for a heavy group the window sort is the cost, which
    is the floor for exact per-group quotas.
    """
    h = det_hash("doc_id")
    w = Window.partitionBy(group_col)
    ranked = documents.select(
        "doc_id",
        group_col,
        h.alias("sample_hash"),
    ).withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy(group_col).orderBy("sample_hash", "doc_id")
        ).cast("long"),
    ).withColumn("group_n", F.count("*").over(w))
    return ranked.filter(
        F.col("rnk") <= F.ceil(F.col("group_n") * F.lit(fraction))
    ).select("doc_id", group_col, "sample_hash", "rnk")


def weighted_mixture(
    documents: DataFrame,
    weights: dict[str, float],
    default_weight: float,
) -> DataFrame:
    """Per-source sampling quota — the "data mixture" step of a
    training pipeline: each ``source`` keeps ceil(weight × source size)
    docs, selected by doc_id hash order. Same single-window plan as
    stratified_sample, with a per-group fraction."""
    frac = F.lit(default_weight)
    for src, wgt in sorted(weights.items()):
        frac = F.when(F.col("source") == src, F.lit(wgt)).otherwise(frac)
    w = Window.partitionBy("source")
    ranked = documents.select(
        "doc_id",
        "source",
        det_hash("doc_id").alias("sample_hash"),
        frac.alias("keep_frac"),
    ).withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("source").orderBy("sample_hash", "doc_id")
        ).cast("long"),
    ).withColumn("group_n", F.count("*").over(w))
    return ranked.filter(
        F.col("rnk") <= F.ceil(F.col("group_n") * F.col("keep_frac"))
    ).select("doc_id", "source", "sample_hash", "rnk")


def pack_sequences(documents: DataFrame, token_budget: int = 512) -> DataFrame:
    """Greedy sequential sequence packing: within each language, walk
    documents in doc_id order and cut a new pack every time the
    running token total passes the budget — the standard
    concat-and-chunk step that turns variable-length documents into
    fixed-budget training sequences.

    pack_id = (running total BEFORE this doc) // budget, so a doc
    whose tokens straddle a boundary belongs to the pack it started
    in. One window pass per language partition; the running sum is a
    cumulative frame over the already-sorted partition, so cost is
    the partition sort — the minimum for order-dependent packing.
    (Docs longer than the budget span packs; real pipelines split
    those upstream — see documents_curation_pipeline's length gate.)
    """
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    return documents.select(
        "doc_id", "lang", n_tok.alias("n_tok")
    ).withColumn(
        "pack_id",
        F.expr(f"(sum(n_tok) over (partition by lang order by doc_id "
               f"rows between unbounded preceding and current row) - n_tok) "
               f"div {token_budget}"),
    )


def shuffle_order(
    documents: DataFrame, seed: int = 0, shards: int = 64
) -> DataFrame:
    """Deterministic global training shuffle, sharded so it scales.

    Every example gets a pseudo-random sort key md5(seed ":" doc_id) — a
    seeded, engine-portable permutation (training reproducibility:
    rerunning the pipeline yields byte-identical epoch order). A single
    global rank would serialize on one task, so the order is expressed
    as (shard, shard_pos): shard from the portable affine hash, rank
    within shard from a window partitioned by shard — every shard ranks
    in parallel, and a consumer reading shards in index order sees the
    full shuffled sequence. At cluster scale the writer pairs this with
    repartitionByRange(shard) + sortWithinPartitions(shard_pos), making
    each output file one contiguous slice of the epoch.
    """
    key = F.md5(F.concat_ws(":", F.lit(str(seed)), F.col("doc_id").cast("string")))
    shard = det_hash("doc_id") % F.lit(shards)
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return (
        documents.select(
            F.col("doc_id"), shard.alias("shard"), key.alias("skey")
        )
        .withColumn("shard_pos", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "shard", "shard_pos")
    )


def token_budget_cut(
    documents: DataFrame,
    budget: int,
    shards: int = 64,
) -> DataFrame:
    """Prefix of the deterministic (seed 0) training shuffle holding at
    most ``budget`` tokens — "assemble tonight's mix to N tokens"
    without a global sort.

    The epoch order is (shard_pos, shard) over shuffle_order's sharded
    ranks. The running token total over that order is computed
    HIERARCHICALLY: per-position block totals (|blocks| = max shard
    rank, tiny) get a running sum on the driver-sized relation, and
    each row adds its within-block prefix (window partitioned by
    block, <= ``shards`` rows each, all parallel). No single task ever
    sees more than a block — the standard distributed prefix-sum — and
    every value is an integer, so the cut is exact and portable.
    """
    n_tokens = F.size(
        F.filter(
            F.split(F.col("text"), " "), lambda w: F.length(w) > 0
        )
    ).cast("long")
    t = shuffle_order(documents, shards=shards).join(
        documents.select("doc_id", n_tokens.alias("n_tokens")), "doc_id"
    )
    block_w = Window.orderBy("shard_pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    blocks = (
        t.groupBy("shard_pos")
        .agg(F.sum("n_tokens").alias("_block_total"))
        .withColumn(
            "_before_block",
            F.coalesce(F.sum("_block_total").over(block_w), F.lit(0)),
        )
        .select("shard_pos", "_before_block")
    )
    in_block_w = (
        Window.partitionBy("shard_pos")
        .orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        t.join(F.broadcast(blocks), "shard_pos")
        .withColumn(
            "cum_tokens",
            F.col("_before_block") + F.sum("n_tokens").over(in_block_w),
        )
        .where(F.col("cum_tokens") <= budget)
        .select("doc_id", "shard", "shard_pos", "n_tokens", "cum_tokens")
    )


def token_mask(documents: DataFrame, rate_den: int = 5) -> DataFrame:
    """Deterministic MLM-style token masking: position i of document d
    is masked iff det_hash(d + i) % rate_den == 0 (expected rate
    1/rate_den). The mask pattern derives from the portable arithmetic
    hash, NOT rand() — a retried task or a different partitioning
    reproduces the identical corruption, which is what makes masked
    pretraining data regenerable and auditable.

    Pure narrow map: transform-with-index builds the masked token
    array and the target list in one pass; no UDF, no shuffle.
    Output: (doc_id, n_tokens, n_masked, masked_text, targets).
    """
    from wikipedia_data_pipeline_spark.operators.text import token_array

    toks = token_array()

    def masked(doc_id: Column, i: Column) -> Column:
        h = (
            ((doc_id % PRE_MOD) + i) % PRE_MOD
        ) * F.lit(KNUTH) + F.lit(12345)
        return (h % F.lit(HASH_MOD)) % rate_den == 0

    d = F.col("doc_id").cast("long")
    out = F.transform(
        F.col("_toks"),
        lambda w, i: F.when(masked(d, i), F.lit("<MASK>")).otherwise(w),
    )
    targets = F.filter(
        F.transform(
            F.col("_toks"), lambda w, i: F.when(masked(d, i), w)
        ),
        lambda w: w.isNotNull(),
    )
    return (
        documents.select(F.col("doc_id"), toks.alias("_toks"))
        .where(F.size("_toks") > 0)
        .select(
            "doc_id",
            F.size("_toks").cast("long").alias("n_tokens"),
            F.size(targets).cast("long").alias("n_masked"),
            F.array_join(out, " ").alias("masked_text"),
            F.array_join(targets, " ").alias("targets"),
        )
    )


def negative_samples(documents: DataFrame, k: int = 4) -> DataFrame:
    """Deterministic contrastive negatives: candidate j for anchor d is
    det_hash(d * 31 + j) % (max_id + 1), kept only if that id exists
    and differs from the anchor — so pairs are reproducible under any
    partitioning (rand() negatives are not), and the op needs NO
    global rank (a row_number over all docs would serialize on one
    task at corpus scale). One explode (k candidates per anchor) + one
    equi-join against the id set; expected yield is slightly under k
    per anchor (self-hits and id gaps drop out), which contrastive
    training tolerates by design.
    """
    ids = documents.select(F.col("doc_id").cast("long").alias("_nid"))
    max_id = documents.select(
        F.max(F.col("doc_id")).cast("long").alias("_max_id")
    )
    cand = (
        documents.select(F.col("doc_id").cast("long").alias("anchor_id"))
        .crossJoin(F.broadcast(max_id))
        .select(
            "anchor_id",
            F.explode(
                F.array(*[F.lit(j) for j in range(k)])
            ).alias("j"),
            "_max_id",
        )
        .select(
            "anchor_id",
            F.col("j").cast("long").alias("j"),
            (
                det_hash(
                    F.col("anchor_id") * 31 + F.col("j")
                ) % (F.col("_max_id") + 1)
            ).alias("_nid"),
        )
    )
    return (
        cand.join(ids, "_nid")
        .where(F.col("_nid") != F.col("anchor_id"))
        .select("anchor_id", "j", F.col("_nid").alias("neg_doc_id"))
    )
