"""Deduplication operators for a training-data pipeline.

Four families, all pure DataFrame/higher-order-function programs (no
Python in the hot path):

  * exact          — hash group-by on content
  * MinHash + LSH  — shingle → k minhashes → banded buckets → candidate
                     join → exact-Jaccard verify
  * SimHash        — 64-bit sign-aggregated fingerprint → 4-bit band
                     blocking → exact-Jaccard verify
  * n-gram Jaccard — brute-force all-pairs (the small-data / oracle path)

Scale notes (100 TB): the LSH path's only wide operations are the
band-bucket grouping (one shuffle on (band, hash) — bucket sizes
bounded by the banding) and the verify join. Signatures are a narrow
map. The brute-force path is O(n²) and exists for verification at test
scale. LSH parameters (K=128, 32 bands × 4 rows) put the S-curve
midpoint at (1/32)^(1/4) ≈ 0.42: pair-miss probability is ~13% at
Jaccard exactly 0.5, ~1% at 0.6, < 1e-7 at 0.8+ — so LSH+verify equals
brute force whenever real near-dups are strongly similar (the testdata
dups are); for a tight decision boundary at 0.5, raise the band count.

SimHash bit-aggregation here is 64 `aggregate` expressions per row —
fine JVM-side at the shingle counts we see; at very large scale swap it
for a vectorized pandas_udf with numpy popcount tricks (same interface).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators.ranks import pin

MERSENNE_61 = (1 << 61) - 1
MINHASH_K = 128
LSH_BANDS = 32  # 32 bands x 4 rows
SHINGLE_N = 3  # words per shingle
SIMHASH_BITS = 64
SIMHASH_BAND_BITS = 4  # 16 bands x 4 bits

# Fixed seeded coefficients — deterministic across runs and cluster sizes.
# Kept below 2^31 so a*h31 + b < 2^62 never overflows a long (Spark 4 is
# ANSI by default: overflow raises rather than wrapping).
_rng = random.Random(0x5EED)
MINHASH_A = [_rng.randrange(1, 1 << 31) for _ in range(MINHASH_K)]
MINHASH_B = [_rng.randrange(0, 1 << 31) for _ in range(MINHASH_K)]


def shingles(documents: DataFrame) -> DataFrame:
    """(doc_id, shingles array<string>) — distinct ``SHINGLE_N``-grams of
    consecutive whitespace tokens of ``text``. The transformation is
    narrow; ``fan_out`` first spreads an under-split scan across the
    cluster so the downstream minhash/simhash signature math
    parallelizes (no-op on wide inputs)."""
    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    documents = fan_out(documents)
    toks = F.split(F.col("text"), " ")
    size = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), size - SHINGLE_N),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j + 1) for j in range(SHINGLE_N)]
        ),
    )
    return documents.select(
        "doc_id",
        F.when(size >= SHINGLE_N, F.array_distinct(grams))
        .otherwise(F.array().cast("array<string>"))
        .alias("shingles"),
    )


def exact_duplicates(documents: DataFrame) -> DataFrame:
    """Exact dedup via hash group-by: one row per distinct ``text`` with
    the representative (min doc_id) and copy count."""
    return documents.groupBy(F.md5(F.col("text")).alias("content_hash")).agg(
        F.min("doc_id").alias("doc_id_kept"),
        F.count("*").alias("n_copies"),
    )


def hashed_shingles(
    documents: DataFrame, n: int = SHINGLE_N, text_col: str = "text"
) -> DataFrame:
    """(doc_id, hsh array<bigint>) — the distinct n-gram shingle set as
    64-bit xxhash64 fingerprints of the token-array slices.

    This is the relation the LSH pipelines persist and join on: an
    8-byte long per shingle instead of a ~25-byte string cuts the
    persisted footprint and makes the verify join's array_intersect
    integer comparisons. Hashing the token slice directly (no string
    re-concatenation) is bijective with the joined-string shingle —
    tokens cannot contain the delimiter — and 64-bit collisions are
    vanishing (~1e-9 over 10⁵ shingles), so set sizes, intersections,
    and exact Jaccard are unchanged."""
    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    documents = fan_out(documents)
    # LET-BIND the token array via transform(array(split(..)), ts ->):
    # slice(toks, i, n) inside the per-gram lambda would otherwise
    # re-evaluate the split ONCE PER GRAM (a higher-order function's
    # body is re-run per element, and nothing hoists row-invariant
    # subtrees out of it — measured 13x on 400-token rows).
    # backtick-quote the interpolated identifier: text_col reaches SQL
    # text, so a name needing quoting (spaces, keywords) must not break
    quoted = "`" + text_col.replace("`", "``") + "`"
    grams = F.expr(
        f"""
        element_at(transform(array(split({quoted}, ' ')), ts ->
          CASE WHEN size(ts) >= {n} THEN
            array_distinct(transform(sequence(1, size(ts) - {n - 1}),
                                     i -> xxhash64(slice(ts, i, {n}))))
          ELSE array() END), 1)
        """
    )
    return documents.select(
        "doc_id", grams.cast("array<bigint>").alias("hsh")
    )


def band_signatures(hashed: DataFrame) -> DataFrame:
    """(doc_id, bh array<bigint> of length ``LSH_BANDS``) — the
    ``MINHASH_K`` minhashes folded straight into per-band bucket keys,
    entirely JVM-side.

    One ``aggregate`` walks the shingle set once, keeping the running
    k-vector of minima via ``zip_with`` against the let-bound (a, b)
    coefficient table; each band's bucket key is then ``xxhash64`` of
    its ``rows_per_band`` signature slice. Pure expressions — no
    pandas UDF, no Arrow batch per row (the previous numpy
    formulation ALSO hit a real planner hazard: a Python UDF whose
    collapsed argument contains captured lambda variables
    intermittently escapes UDF extraction under AQE re-planning and
    dies with INTERNAL_ERROR at eval — pure expressions remove the
    class). Every arithmetic step is ANSI-safe: a, b < 2^31 and the
    shingle is pre-folded to [0, 2^31), so a*x + b < 2^62 never
    overflows, and band mixing is xxhash64, not a wrapping product.
    Keys are deterministic across runs, partitionings, and cluster
    sizes — but NOT across engine versions: round 9 changed the bucket-
    key function (wrapping int64 polynomial fold → xxhash64 of each
    rows_per_band signature slice), so band keys persisted by pre-r9
    builds are incompatible with keys produced here (grouping semantics
    within one run are unaffected). If band keys are ever persisted,
    store them alongside a format tag (current: ``bandkey-v2``) and
    rebuild on mismatch rather than joining across formats.
    Empty shingle sets get a null key array and drop out at
    explode time: two empty docs have Jaccard 0 here (see
    ``jaccard``), so they can never be near-dups and pruning them
    early is semantics-preserving."""
    rows_per_band = MINHASH_K // LSH_BANDS
    ab = ", ".join(
        f"named_struct('a', {MINHASH_A[i]}L, 'b', {MINHASH_B[i]}L)"
        for i in range(MINHASH_K)
    )
    bh = F.expr(
        f"""
        CASE WHEN size(hsh) = 0 THEN cast(null as array<bigint>) ELSE
          element_at(transform(array(array({ab})), cs ->
            element_at(transform(array(
                aggregate(transform(hsh, x -> pmod(x, 2147483648L)),
                          array_repeat({MERSENNE_61}L, {MINHASH_K}),
                          (acc, x) -> zip_with(acc, cs,
                            (m, c) -> least(m, pmod(c.a * x + c.b,
                                                    {MERSENNE_61}L))))),
              mins -> transform(sequence(0, {LSH_BANDS - 1}),
                                band -> xxhash64(
                                  slice(mins, band * {rows_per_band} + 1,
                                        {rows_per_band})))), 1)), 1)
        END
        """
    )
    return hashed.select("doc_id", bh.alias("bh"))


def _pairs_within(ids_col: Column) -> Column:
    """All ordered pairs (a < b) from a sorted id array, as structs —
    pure higher-order functions, evaluated inside codegen."""
    return F.flatten(
        F.transform(
            ids_col,
            lambda x, i: F.transform(
                F.slice(ids_col, i + 2, F.size(ids_col)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )


def lsh_candidate_pairs(hashed: DataFrame) -> DataFrame:
    """Band the minhash signatures, emit distinct (doc_a, doc_b),
    doc_a < doc_b, for docs sharing any band hash.

    Pair generation is grouped, not self-joined: one shuffle on
    (band, bhash) → sorted member list per bucket → in-bucket pair
    expansion with array lambdas. Halves the shuffles vs the bucket
    self-join and reads the signatures once. Banding keeps buckets
    small, so the per-bucket O(b²) expansion is bounded; a pathological
    hot bucket (everyone identical) would call for the join form plus
    salting — at that point the data is one giant dup-cluster and
    candidate pruning is moot anyway."""
    buckets = _band_buckets(hashed)
    grouped = (
        buckets.groupBy("band", "bhash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return (
        grouped.select(F.explode(_pairs_within(F.col("ids"))).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays (int/int → double;
    identical rational → bit-identical everywhere). Two empty sets have
    an undefined Jaccard; we define it as 0 (never a near-dup) —
    try_divide avoids the ANSI divide-by-zero error Spark 4 raises."""
    return F.coalesce(
        F.try_divide(F.size(F.array_intersect(a, b)), F.size(F.array_union(a, b))),
        F.lit(0.0),
    )


def verify_pairs_jaccard(
    pairs: DataFrame, hashed: DataFrame, threshold: float
) -> DataFrame:
    """Join candidate pairs back to the hashed shingle sets and keep
    exact Jaccard ≥ threshold → (doc_a, doc_b, jaccard). Jaccard over
    the 64-bit fingerprint sets equals Jaccard over the string shingle
    sets (injective modulo ~1e-9 collisions)."""
    sa = hashed.select(
        F.col("doc_id").alias("doc_a"), F.col("hsh").alias("sh_a")
    )
    sb = hashed.select(
        F.col("doc_id").alias("doc_b"), F.col("hsh").alias("sh_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _collapsed_rep_pairs(
    documents: DataFrame, threshold: float
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared head of the collapsed MinHash-LSH pipeline: byte-identical
    texts grouped (rep = min doc_id), shingles hashed for the reps only,
    LSH candidates verified at exact Jaccard ≥ threshold. Returns
    (groups, sh, rep_pairs); groups and sh are pinned (see
    minhash_lsh_pairs' docstring for why), so ``unpersist_all()``
    releases them. Consumed by
    minhash_lsh_pairs (quadratic pair expansion — the declared pair
    CONTRACT) and minhash_lsh_component_edges (group-linear star edges
    — everything connectivity-only callers need)."""
    groups = pin(
        documents.groupBy("text")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.sort_array(F.collect_list("doc_id")).alias("members"),
        )
    )
    reps = groups.select("doc_id", "text")
    sh = pin(hashed_shingles(reps))
    cands = lsh_candidate_pairs(sh)
    rep_pairs = verify_pairs_jaccard(cands, sh, threshold)
    return groups, sh, rep_pairs


def minhash_lsh_component_edges(
    documents: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Group-LINEAR edge relation with the same connected components —
    and the same node set — as ``minhash_lsh_pairs`` (r13,
    AB_CC_STAR_r13): verified rep-level pairs plus one star per
    byte-identical duplicate group (rep = min(members) → each other
    member), instead of the quadratic pair contract (C(k,2)
    within-group pairs, k_a·k_b cross-group expansions).

    Equivalence argument (connectivity-only callers): a group's
    members appear in the quadratic relation iff the group has ≥ 2
    members and a non-empty shingle set (jaccard(hsh, hsh) = 1.0;
    empty sets are defined 0 and dropped) or its rep has a verified
    cross pair — the star edges and rep pairs cover both cases under
    IDENTICAL filters, and every quadratic pair connects two nodes
    that are already star/rep-connected. So components, min labels and
    component sizes are bit-identical while the edge count drops from
    Σ C(k,2) + Σ k_a·k_b to Σ (k-1) + |rep pairs|. Callers that need
    the pair LIST (jaccard per pair) must keep minhash_lsh_pairs."""
    groups, sh, rep_pairs = _collapsed_rep_pairs(documents, threshold)
    stars = (
        groups.filter(F.size("members") >= 2)
        .join(sh, "doc_id")
        .withColumn("jaccard", jaccard(F.col("hsh"), F.col("hsh")))
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("doc_id").alias("doc_a"),
            F.explode("members").alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
    )
    return rep_pairs.select("doc_a", "doc_b").unionByName(stars)


def minhash_lsh_pairs(documents: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline with exact verification.

    EXACT-DUPLICATE COLLAPSE first (Lee et al. 2022's ordering): group
    byte-identical texts, minhash only one representative per group,
    and expand group products back into the pair relation afterwards.
    On a healthy corpus the collapse is a near-no-op (one extra text
    shuffle); on a duplication-heavy one it is the difference between
    working and dying — a spam flood of k copies otherwise puts all k
    in every band bucket, inflating candidate expansion and signature
    work by k² and k (measured: the 100× replicated probe corpus, where
    every doc has 99 identical copies, went from 438 s to the collapsed
    path's one-LSH-over-uniques cost). The within-group pairs are
    emitted with the SAME verify semantics (jaccard(sh, sh): 1.0, or
    dropped when the shingle set is empty — identical to what the
    uncollapsed pipeline produced), so the output relation is
    bit-identical. Note the pair CONTRACT itself is quadratic in group
    size — callers that only need survivors should consume
    near_dup_clusters, which stays group-linear.

    Only the hashed shingle relation is persisted: the plan references
    it three times (signature input + both sides of the verify join)
    and Spark does no cross-subtree CSE — uncached, the shingling would
    run three times. The groups relation likewise feeds the rep scan
    and both expansion joins. At cluster scale the persists' role is
    played by checkpointing between stages."""
    groups, sh, rep_pairs = _collapsed_rep_pairs(documents, threshold)
    mem = groups.select(F.col("doc_id").alias("rep"), "members")
    cross = (
        rep_pairs.join(
            mem.select(F.col("rep").alias("doc_a"), F.col("members").alias("ma")),
            "doc_a",
        )
        .join(
            mem.select(F.col("rep").alias("doc_b"), F.col("members").alias("mb")),
            "doc_b",
        )
        .select(F.explode("ma").alias("a"), "mb", "jaccard")
        .select("a", F.explode("mb").alias("b"), "jaccard")
        .select(
            F.least("a", "b").alias("doc_a"),
            F.greatest("a", "b").alias("doc_b"),
            "jaccard",
        )
    )
    within = (
        groups.filter(F.size("members") >= 2)
        .join(sh, "doc_id")
        .withColumn("jaccard", jaccard(F.col("hsh"), F.col("hsh")))
        .filter(F.col("jaccard") >= threshold)
        .select(F.explode(_pairs_within(F.col("members"))).alias("p"), "jaccard")
        .select("p.doc_a", "p.doc_b", "jaccard")
    )
    return cross.unionByName(within)


def incremental_lsh_pairs(
    corpus: DataFrame, batch: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Incremental near-dup check: which NEW documents near-duplicate an
    EXISTING corpus document — the shape a continuously-ingesting
    training pipeline runs per batch (new crawl vs. everything already
    kept), where re-deduping the whole corpus per batch would be
    O(corpus) instead of O(batch).

    Bipartite LSH: band signatures on both sides, equi-join the batch's
    buckets against the corpus's buckets on (band, bhash), verify exact
    Jaccard. Cost is one shuffle of each side keyed by bucket; the
    corpus side's bucket table is exactly the artifact a production
    pipeline would persist between runs (append-only parquet keyed by
    (band, bhash)), so per-batch cost is batch-sized, not corpus-sized.
    Returns (doc_new, doc_old, jaccard).
    """
    sh_new = pin(hashed_shingles(batch))
    sh_old = pin(hashed_shingles(corpus))
    b_new = _band_buckets(sh_new).select(
        F.col("doc_id").alias("doc_new"), "band", "bhash"
    )
    b_old = _band_buckets(sh_old).select(
        F.col("doc_id").alias("doc_old"), "band", "bhash"
    )
    cands = b_new.join(b_old, ["band", "bhash"]).select("doc_new", "doc_old").distinct()
    sa = sh_new.select(F.col("doc_id").alias("doc_new"), F.col("hsh").alias("sh_a"))
    sb = sh_old.select(F.col("doc_id").alias("doc_old"), F.col("hsh").alias("sh_b"))
    return (
        cands.join(sa, "doc_new")
        .join(sb, "doc_old")
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_new", "doc_old", "jaccard")
    )


def _band_buckets(hashed: DataFrame) -> DataFrame:
    """(doc_id, band, bhash) bucket table from hashed shingles (via the
    fused ``band_signatures``) — shared by the self-dedup grouped
    expansion and the incremental bipartite join. posexplode of a
    ``LSH_BANDS``-length array: the band ordinal IS the position, so no
    struct packing is needed."""
    sigs = band_signatures(hashed)
    return sigs.select(
        "doc_id", F.posexplode("bh").alias("band", "bhash")
    )


def brute_force_pairs(documents: DataFrame, threshold: float = 0.5) -> DataFrame:
    """All-pairs n-gram Jaccard (the exact path; O(n²) — test scale /
    final verify only)."""
    # referenced by both join sides
    sh = pin(shingles(documents))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_signatures(hashed: DataFrame) -> DataFrame:
    """64-bit SimHash: bit i set iff sum over shingle-hashes of
    ±1 (sign of bit i) is positive.

    Input is the ``hashed_shingles`` relation — its 64-bit fingerprints
    are used as the simhash base hashes directly; the vote tally is
    pure JVM expressions (same rationale and same planner-hazard fix
    as ``band_signatures``): one ``aggregate`` over the shingle set
    keeps a 64-long bit-count vector via ``zip_with``, then bit i is
    set iff 2*ones_i > n (exactly ``votes_i > 0`` — arithmetic
    shiftright matches numpy's int64 ``>>`` on the sign bit).
    Disjoint-bit summation reassembles the long without overflow;
    empty shingle sets get simhash 0 (all votes -1)."""
    simhash = F.expr(
        f"""
        CASE WHEN size(hsh) = 0 THEN 0L ELSE
          element_at(transform(array(sequence(0, {SIMHASH_BITS - 1})), ss ->
            element_at(transform(array(
                aggregate(hsh, array_repeat(0L, {SIMHASH_BITS}),
                          (acc, x) -> zip_with(acc, ss,
                            (a, s) -> a + (shiftright(x, s) & 1)))),
              counts -> aggregate(
                zip_with(counts, ss,
                         (c, i) -> IF(2 * c > size(hsh),
                                      shiftleft(1L, i), 0L)),
                0L, (acc, y) -> acc + y)), 1)), 1)
        END
        """
    )
    return hashed.select("doc_id", simhash.alias("simhash"))


def simhash_candidate_pairs(signed: DataFrame) -> DataFrame:
    """Block on 16 bands of 4 bits, then hamming-prefilter.

    Pigeonhole: a pair within hamming ``15`` (= #bands - 1) must agree
    on at least one whole band, so banding has perfect recall up to
    that radius. Small bands collide often on random pairs, so before
    anything expensive we filter ``bit_count(a XOR b) <= 15`` — two
    longs and a popcount inside whole-stage codegen — which kills the
    ~P(collision)≈64% false-candidate mass ahead of the distinct and
    the shingle-array verify join."""
    n_bands = SIMHASH_BITS // SIMHASH_BAND_BITS
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * SIMHASH_BAND_BITS)
                .bitwiseAND(F.lit((1 << SIMHASH_BAND_BITS) - 1))
                .alias("bval"),
            )
            for b in range(n_bands)
        ]
    )
    buckets = signed.select("doc_id", "simhash", F.explode(bands).alias("bh")).select(
        "doc_id", "simhash", F.col("bh.band").alias("band"), F.col("bh.bval").alias("bval")
    )
    # grouped in-bucket pair expansion (same shape as lsh_candidate_pairs:
    # one shuffle, signatures read once); members carry their simhash so
    # the hamming prefilter runs on the expanded pair before distinct
    members = F.sort_array(
        F.collect_list(F.struct(F.col("doc_id"), F.col("simhash")))
    )
    grouped = (
        buckets.groupBy("band", "bval")
        .agg(members.alias("ms"))
        .filter(F.size("ms") > 1)
    )
    pairs = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                lambda y: F.struct(
                    x.getField("doc_id").alias("doc_a"),
                    y.getField("doc_id").alias("doc_b"),
                    F.bit_count(
                        x.getField("simhash").bitwiseXOR(y.getField("simhash"))
                    ).alias("hamming"),
                ),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .filter(F.col("p.hamming") <= n_bands - 1)
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def simhash_pairs(documents: DataFrame, threshold: float = 0.5) -> DataFrame:
    """SimHash-blocked near-dup pairs with exact-Jaccard verification.
    Persisted intermediates for the same multi-reference reason as
    ``minhash_lsh_pairs``."""
    sh = pin(hashed_shingles(documents))
    signed = pin(simhash_signatures(sh))
    cands = simhash_candidate_pairs(signed)
    return verify_pairs_jaccard(cands, sh, threshold)


def near_dup_clusters(documents: DataFrame, pairs: DataFrame) -> DataFrame:
    """Connected components over the near-dup pair graph → dedup
    selection: ``(doc_id, cluster_id, keep)`` where ``cluster_id`` is
    the minimum doc_id reachable through near-dup edges and ``keep``
    marks the one representative per cluster. This is the operator a
    training pipeline actually runs — pair listing tells you WHAT
    matched; this decides WHICH copy survives.

    Iterative min-label propagation: each round every doc takes the min
    of its own label and its neighbors' labels (edges materialized both
    directions), until a fixpoint — O(cluster diameter) rounds, and
    verified near-dup clusters are near-cliques (diameter ≤ ~2), so the
    loop terminates in 2-3 rounds in practice, with 15 rounds as a
    pathological-chain backstop. Each round is one shuffle (the
    groupBy-min); ``localCheckpoint`` truncates the growing lineage so
    round N's plan does not replay rounds 1..N-1 — on a cluster this is
    the standard checkpoint-per-iteration shape for iterative graph
    algorithms (GraphX/GraphFrames do the same internally).
    """
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = (
        fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .persist()
    )
    # Iterate ONLY over docs that appear in some edge: duplicate clusters
    # are a small fraction of any real corpus, so the per-round shuffles
    # run on |touched docs| rows, not |corpus| — untouched docs join back
    # as their own singleton cluster at the end, costless.
    labels = (
        edges.select("src")
        .distinct()
        .select(F.col("src").alias("doc_id"), F.col("src").alias("cluster_id"))
        .localCheckpoint(eager=False)
    )
    for _ in range(15):
        prop = labels.join(edges, labels["doc_id"] == edges["src"]).select(
            edges["dst"].alias("doc_id"), F.col("cluster_id")
        )
        new_labels = (
            labels.unionByName(prop)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return (
        documents.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("keep", F.col("doc_id") == F.col("cluster_id"))
    )


def duplicate_span_stats(documents: DataFrame, n: int = 8) -> DataFrame:
    """Span-level duplication signal — the scalable stand-in for exact
    substring dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"): a token position's n-gram span is
    *duplicated* if the same n-gram also occurs in ANOTHER document.
    Returns per-doc ``(doc_id, n_spans, n_dup_spans, dup_ratio)`` — the
    relation a curation pipeline thresholds to drop or trim
    boilerplate-heavy documents.

    Spark shape (r14, AB_SPAN_STATS_r14: 10.25 → 4.42 s best-of-3 at
    100×): explode positional n-gram fingerprints (occurrences, not
    distinct — a doc repeating a duplicated span counts it every
    time), aggregate to (g, doc_id, cnt) — ONE exchange with map-side
    partial aggregation — then the gram's distinct-doc count is a
    COUNT(*) window partitioned by g over that deduped pair relation,
    and the per-doc stats re-aggregate it:

        n_spans     = Σ_g cnt           (== COUNT(*) over occurrences)
        n_dup_spans = Σ_{g: nd ≥ 2} cnt

    The r13 form computed gram_docs with count_distinct AND joined occ
    back to it: the un-persisted explode ran twice and the occurrence
    stream shuffled twice before the doc agg. Same shape at 100 TB —
    everything keyed on the gram hash, nothing node-local.

    Grams ride as 8-byte fingerprints: per-token xxhash64 (each
    token's bytes hashed ONCE, not once per covering gram) combined
    with xor-of-rotations — g_i = XOR_j rot64(h_{i+j}, 8j). Rotation
    spacing keeps permuted/shifted grams distinct; for random 64-bit
    token hashes any two distinct grams collide w.p. 2^-64 (a GF(2)-
    linear relation over independent values), the same vanishing-
    collision class as the previous xxhash64(slice) form — and the
    fingerprint is plan-internal: the oracle recomputes on raw gram
    strings, so the gate re-proves collision-cleanness per corpus."""
    from pyspark.sql import Window

    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    if n > 8:
        # 8-bit rotation spacing is injective-by-position only up to 8
        # tokens (rot amounts 0..56 < 64); larger n would reuse a
        # rotation and let position swaps collide deterministically
        raise ValueError(f"duplicate_span_stats: n={n} > 8 unsupported "
                         "by the rotation-spaced fingerprint")
    documents = fan_out(documents)
    # let-bound like hashed_shingles: an inline split would re-run
    # once per gram position inside the lambda body
    combine = " ^ ".join(
        f"(shiftleft(element_at(hs, i + {j}), {8 * j}) | "
        f"shiftrightunsigned(element_at(hs, i + {j}), {64 - 8 * j}))"
        if j
        else "element_at(hs, i)"
        for j in range(n)
    )
    grams = F.expr(
        f"""
        element_at(transform(array(transform(split(text, ' '),
                                             t -> xxhash64(t))), hs ->
          CASE WHEN size(hs) >= {n} THEN
            transform(sequence(1, size(hs) - {n - 1}), i -> {combine})
          ELSE array() END), 1)
        """
    )
    occ = documents.select(
        "doc_id", F.explode(grams.cast("array<bigint>")).alias("g")
    )
    pg = occ.groupBy("g", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    nd = F.count(F.lit(1)).over(Window.partitionBy("g"))
    return (
        pg.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_spans"),
            F.sum(F.when(F.col("nd") >= 2, F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            (F.col("n_dup_spans").cast("double") / F.col("n_spans")).alias(
                "dup_ratio"
            ),
        )
    )


def duplicate_spans_extract(documents: DataFrame, n: int = 8) -> DataFrame:
    """Exact-substring dedup, stage 2 (Lee et al. 2022): EXTRACT the
    maximal duplicated substrings, not just their ratio — the relation
    a curation pipeline uses to CUT repeated boilerplate out of
    documents rather than drop them whole. A maximal duplicated span is
    a maximal run of consecutive token positions whose n-gram also
    occurs in another document; the substring covers tokens
    [start, start + run_len + n - 2]. Returns
    ``(doc_id, span_start, span_len_tokens, span_text)``, one row per
    maximal span (1-based token positions).

    Spark shape: positional n-gram fingerprints explode (occurrences
    with their position), the gram→distinct-doc-count aggregate is the
    only corpus-wide exchange (same key-sharded shape as
    duplicate_span_stats — fingerprints keep it 8 bytes/key), and run
    reconstruction is the islands trick (pos − row_number) under a
    doc-partitioned window — bounded by document length, never global.
    Span text rejoins the documents relation on doc_id and slices the
    token array, so gram payloads never carry strings through the wide
    exchange."""
    from pyspark.sql import Window

    from wikipedia_data_pipeline_spark.sources.tables import fan_out

    documents = fan_out(documents)
    # positional grams, let-bound like duplicate_span_stats
    pos_grams = F.expr(
        f"""
        element_at(transform(array(split(text, ' ')), ts ->
          CASE WHEN size(ts) >= {n} THEN
            transform(sequence(1, size(ts) - {n - 1}),
                      i -> struct(i AS pos, xxhash64(slice(ts, i, {n})) AS g))
          ELSE array() END), 1)
        """
    )
    occ = documents.select(
        "doc_id", F.explode(pos_grams).alias("pg")
    ).select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.g").alias("g"))
    gram_docs = occ.groupBy("g").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    dup = (
        occ.join(gram_docs, "g")
        .filter(F.col("nd") >= 2)
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = dup.withColumn(
        "grp", F.col("pos") - F.row_number().over(w)
    )
    spans = runs.groupBy("doc_id", "grp").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.count(F.lit(1)) + F.lit(n - 1)).cast("long").alias(
            "span_len_tokens"
        ),
    )
    toks = documents.select(
        "doc_id", F.split("text", " ").alias("ts")
    )
    return (
        spans.join(toks, "doc_id")
        .select(
            "doc_id",
            "span_start",
            "span_len_tokens",
            F.array_join(
                F.slice(
                    F.col("ts"),
                    F.col("span_start"),
                    F.col("span_len_tokens"),
                ),
                " ",
            ).alias("span_text"),
        )
    )


def _rarity_prefixes(documents: DataFrame, threshold: float):
    """The prefix-filter setup shared by ``prefix_filter_pairs`` and
    ``containment_pairs``: the pinned shingle sets ``sh``, their
    exploded (doc_id, sz, h) postings ``toks``, and each document's
    |x| - ceil(t*|x|) + 1 globally-rarest postings (df asc, then hash)
    as ``prefix``, ranked by a doc-partitioned window."""
    from pyspark.sql import Window

    sh = pin(hashed_shingles(documents))
    toks = sh.select(
        "doc_id", F.size("hsh").alias("sz"), F.explode("hsh").alias("h")
    )
    dfreq = toks.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    ranked = toks.join(dfreq, "h")
    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("h"))
    prefix_len = (
        F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ).cast("int")
    prefix = ranked.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= prefix_len
    )
    return sh, toks, prefix


def prefix_filter_pairs(
    documents: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (the AllPairs /
    PPJoin family, Bayardo et al. 2007) — the deterministic complement
    to MinHash-LSH: same output as the all-pairs Jaccard join, but the
    candidate set is generated from token *prefixes* instead of
    probabilistic bucketing, so there is no false-negative probability
    at all.

    The filter: order every shingle by global rarity (df asc, then
    hash for a total order); for Jaccard ≥ t, two sets must share at
    least one of each other's first |x| − ⌈t·|x|⌉ + 1 rarest shingles
    — so only the prefix tokens enter the self-join. Rarity ordering
    makes the join keys the LEAST frequent shingles, which is what
    bounds the per-key fan-out: the hot (stop-phrase) shingles that
    would square the candidate count never become join keys.

    Plan shape: shingle df aggregate (one shuffle, vocab-sized) is
    broadcast back onto the exploded shingles; the per-doc prefix is a
    doc-partitioned window (no global sort anywhere); candidates come
    from one self-join on the prefix token plus the size-compatibility
    filter t·|a| ≤ |b| ≤ |a|/t; the exact-Jaccard verify touches only
    candidates. All shuffles are key-partitioned — the construction
    scales with prefix-token postings, not corpus².
    """
    sh, _, prefix = _rarity_prefixes(documents, threshold)
    prefix = prefix.select("doc_id", "sz", "h")
    a = prefix.select(
        F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"), "h"
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"), "h"
    )
    cands = (
        a.join(b, "h")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("sz_b") >= threshold * F.col("sz_a"))
            & (F.col("sz_a") >= threshold * F.col("sz_b"))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return verify_pairs_jaccard(cands, sh, threshold)


def containment_pairs(
    documents: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """Directed shingle-containment join: (doc_sub, doc_super) where
    |A∩B|/|A| ≥ t — the asymmetric cousin of the Jaccard join, and the
    one that catches SUBSET duplication (a doc quoted or embedded
    wholesale inside a larger one), which symmetric Jaccard misses
    whenever the host document is much bigger than the quoted one.

    Same prefix-filter construction as ``prefix_filter_pairs`` but
    one-sided: containment ≥ t forces A to share at least one of its
    |A| − ⌈t·|A|⌉ + 1 globally-rarest shingles with B, so only A-side
    PREFIX tokens join — against B's full postings — and the per-key
    fan-out is bounded by rare-shingle document frequency. The |B| ≥
    t·|A| size bound (|A∩B| ≤ |B|) prunes before verification.
    """
    sh, toks, prefix = _rarity_prefixes(documents, threshold)
    a = prefix.select(
        F.col("doc_id").alias("doc_sub"), F.col("sz").alias("sz_a"), "h"
    )
    b = toks.select(
        F.col("doc_id").alias("doc_super"), F.col("sz").alias("sz_b"), "h"
    )
    cands = (
        a.join(b, "h")
        .filter(
            (F.col("doc_sub") != F.col("doc_super"))
            & (F.col("sz_b") >= threshold * F.col("sz_a"))
        )
        .select("doc_sub", "doc_super")
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_sub"), F.col("hsh").alias("sh_a"))
    sb = sh.select(
        F.col("doc_id").alias("doc_super"), F.col("hsh").alias("sh_b")
    )
    return (
        cands.join(sa, "doc_sub")
        .join(sb, "doc_super")
        .withColumn(
            "containment",
            F.coalesce(
                F.try_divide(
                    F.size(F.array_intersect("sh_a", "sh_b")),
                    F.size("sh_a"),
                ),
                F.lit(0.0),
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_sub", "doc_super", "containment")
    )
