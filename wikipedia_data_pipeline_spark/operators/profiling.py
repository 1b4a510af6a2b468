"""Dataset profiling and physical-layout operators — the operational
side of running a 100 TB corpus: know your data (column profiles, key
skew) and lay it out so scans prune (Z-order multi-column clustering).

All pure DataFrame programs. Profiling is one aggregation pass over the
table (partial + final, no per-column jobs); the skew report is one
hash aggregation plus a broadcast of the 1-row total; Z-values are a
narrow bit-arithmetic projection that whole-stage codegen inlines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column profile: rows, nulls, exact distinct count, min/max
    (stringified so heterogeneous column types share one schema) — the
    ANALYZE-style statistics pass a pipeline runs before planning a big
    job.

    Single wide aggregation computing every statistic for every column
    in one scan (count_distinct for several columns in one agg expands
    to an expand-node plan, still one pass over the input), then an
    unpivot via ``stack`` to one row per column. At 100 TB swap
    count_distinct for approx_count_distinct — same single-scan shape.
    """
    aggs: list[Column] = [F.count(F.lit(1)).alias("_rows")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"_nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"_nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"_min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_max_{c}"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', _nn_{c}, _nd_{c}, _min_{c}, _max_{c}" for c in cols
    )
    return wide.select(
        F.col("_rows").alias("n_rows"),
        F.expr(
            f"stack({len(cols)}, {stack_args}) "
            "AS (col_name, n_non_null, n_distinct, min_val, max_val)"
        ),
    ).select(
        "col_name",
        "n_rows",
        "n_non_null",
        (F.col("n_rows") - F.col("n_non_null")).alias("n_nulls"),
        "n_distinct",
        "min_val",
        "max_val",
    )


def key_skew_report(
    df: DataFrame, key_col: str, top_n: int = 20
) -> DataFrame:
    """Hottest keys and their share of the table — the diagnostic run
    before choosing a join/shuffle strategy (a key with share ≫ 1/shuffle
    partitions is the one you salt or let AQE split).

    One hash aggregation on the key feeds a distributed top-n
    (TakeOrderedAndProject); the denominator is a separate 1-row COUNT
    of the table, broadcast onto the top-n rows. The old form rode the
    total on an unpartitioned window over the aggregated counts —
    |distinct keys| rows through ONE task, which for a skew DIAGNOSTIC
    (keys are 1e8+ exactly when you need it) was self-defeating. A
    second map-side-partial count scan of one column is the cheap end
    of that trade.
    """
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total = df.select(F.count(F.lit(1)).cast("double").alias("_total"))
    return (
        counts.orderBy(F.desc("n"), F.asc("key"))
        .limit(top_n)
        .crossJoin(F.broadcast(total))
        .select("key", "n", (F.col("n") / F.col("_total")).alias("share"))
    )


# Bits per dimension of the rescaled grid zorder_skipping_report keys on.
ZORDER_GRID_BITS = 16


def zorder_key(cols: list[Column], bits: int = 16) -> Column:
    """Z-value (Morton code) of non-negative integer columns: bit i of
    column j lands at position ``i * n_cols + j``. A range-partition +
    sort on this key clusters ALL participating dimensions at once, so
    per-file min/max stats stay tight on every dimension and scans with
    a predicate on ANY of them prune files — the standard multi-column
    data-skipping layout (cf. Delta/Iceberg OPTIMIZE ZORDER BY).

    Plain shift/mask arithmetic — `bits * n_cols` OR terms, all inside
    whole-stage codegen; no UDF, no shuffle (the layout write adds one
    range-partition exchange, which IS the clustering).
    """
    n = len(cols)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def zorder_layout(
    df: DataFrame, zcol: Column, n_files: int = 16
) -> DataFrame:
    """Cluster a table by Z-value for writing: range-partition into
    ``n_files`` buckets and sort within each — every output file covers
    a compact Z-range, i.e. a small hyper-rectangle of the original
    dimensions."""
    return (
        df.withColumn("zval", zcol)
        .repartitionByRange(n_files, "zval")
        .sortWithinPartitions("zval")
    )


def quantile_summary(
    df: DataFrame,
    value_col: str,
    id_col: str,
    blocks: int = 32,
    eps: float = 0.02,
    group_cols: tuple = (),
) -> DataFrame:
    """Mergeable ε-approximate quantile summary: per block, keep every
    s-th order statistic (s = ⌊block_rows·ε⌋, floored at 1) weighted by
    the run it closes, plus the block's last element carrying the
    remainder. Weights sum to the exact row count, and any rank queried
    from the merged summary is off by < s per block, so < ε·N + blocks
    overall — while the summary holds ~blocks/ε rows at ANY input size.
    This is the one-pass alternative to a global sort for quantiles at
    100 TB (same family as GK/KLL; uniform rank striding instead of
    randomized compaction keeps it deterministic, hence exactly
    oracle-replayable).

    Blocking is by ``id_col % blocks`` — a pure row function, not
    ``spark_partition_id()`` — so the summary is a deterministic
    relation any engine can reproduce; in production ``blocks`` tracks
    cluster width (each block is one task's local sort, the sample-sort
    shape). With ``group_cols`` the same construction runs per group —
    one bounded summary of sketch state per key, the shape per-key
    streaming quantiles maintain. Returns (*group_cols, value, id,
    weight)."""
    gc = list(group_cols)
    w = Window.partitionBy(*gc, "_qs_b").orderBy(value_col, id_col)
    wm = Window.partitionBy(*gc, "_qs_b")
    r, m = F.col("_qs_r"), F.col("_qs_m")
    s = F.greatest(F.lit(1).cast("long"), F.floor(m * F.lit(eps)).cast("long"))
    return (
        df.select(*gc, value_col, id_col)
        .withColumn("_qs_b", F.col(id_col) % blocks)
        .withColumn("_qs_r", F.row_number().over(w).cast("long"))
        .withColumn("_qs_m", F.count(F.lit(1)).over(wm))
        .withColumn("_qs_s", s)
        .filter((r % F.col("_qs_s") == 0) | (r == m))
        .withColumn(
            "weight",
            F.when(r % F.col("_qs_s") == 0, F.col("_qs_s")).otherwise(
                m % F.col("_qs_s")
            ),
        )
        .select(*gc, value_col, id_col, "weight")
    )


def kmv_min_hashes(
    df: DataFrame,
    group_col,
    hash_col: str,
    k: int = 32,
    fan: int = 16,
) -> DataFrame:
    """Per-group KMV sketch: the k smallest DISTINCT hash values, the
    mergeable bottom-k summary behind theta-sketch distinct counting —
    unlike HLL, bottom-k sketches compose under union AND intersection
    (union = bottom-k of combined sketches; intersection via the theta
    threshold), which is what segment-overlap analytics need.

    Exact min-k, computed in two phases so no task ever sorts a whole
    group: phase 1 ranks within (group, h % fan) subgroups and keeps k
    per subgroup (fan-way parallel, each task sees |group|/fan distinct
    hashes); phase 2 ranks the ≤ fan·k survivors per group — bounded
    input by construction. Two-phase min-k equals min-k, so the result
    is the deterministic relation a SQL twin reproduces single-phase.
    Returns (group, h, rk) with rk in [1, k] ascending by hash.
    ``group_col`` may be a list of column names (composite group —
    e.g. (slice, day) for per-slice incremental sketches computed in
    one pass)."""
    gc = [group_col] if isinstance(group_col, str) else list(group_col)
    d = df.select(*gc, hash_col).distinct()
    w1 = Window.partitionBy(
        *gc, F.col(hash_col) % fan
    ).orderBy(hash_col)
    survivors = (
        d.withColumn("_kmv_r1", F.row_number().over(w1))
        .filter(F.col("_kmv_r1") <= k)
        .drop("_kmv_r1")
    )
    w2 = Window.partitionBy(*gc).orderBy(hash_col)
    return (
        survivors.withColumn("rk", F.row_number().over(w2).cast("long"))
        .filter(F.col("rk") <= k)
    )


def zorder_skipping_report(
    df: DataFrame,
    xcol: str,
    ycol: str,
    xbox: tuple[int, int],
    ybox: tuple[int, int],
    out_dir: str,
    n_files: int = 16,
) -> DataFrame:
    """Measure what the Z-order layout buys: write ``df`` under three
    layouts (round-robin, linearly sorted on ``ycol``, Z-ordered on
    both) and count, per layout, how many FILES a box predicate on each
    dimension would have to read, judged purely from parquet footer
    min/max — the same file-level statistics a lakehouse scan planner
    (Delta/Iceberg data skipping) prunes with.

    The expected shape of the answer is the whole story of
    multidimensional clustering: round-robin prunes nothing on either
    dimension; the linear sort prunes perfectly on its own column and
    nothing on the other; Z-order prunes on BOTH (each file covers a
    compact Z-range = a small hyper-rectangle). At 100 TB the footer
    scan is the planner's metadata pass — bytes per file, never data —
    and the write cost is the one range-partition exchange the layout
    job pays anyway.

    EAGER: writes ``3 * n_files`` parquet files under ``out_dir`` and
    reads their footers on the driver (bounded: metadata only).
    """
    import os

    import pyarrow.parquet as pq

    spark = df.sparkSession
    # Interleaving raw values wastes the narrower column: if x spans 8
    # significant bits and y spans 10, every 2^16-wide Z-range fixes
    # only y's high bits and x never prunes. Rescale BOTH dims onto the
    # same 2^ZORDER_GRID_BITS grid first (min/max from one tiny agg — rank/range
    # normalization, exactly what lakehouse OPTIMIZE ZORDER does with
    # per-column range ids) so each dimension contributes equally to
    # the key's high bits.
    mm = df.agg(
        F.min(xcol).alias("x0"),
        F.max(xcol).alias("x1"),
        F.min(ycol).alias("y0"),
        F.max(ycol).alias("y1"),
    ).collect()[0]
    top = (1 << ZORDER_GRID_BITS) - 1

    def grid(col: str, lo: int, hi: int) -> Column:
        span = max(1, int(hi) - int(lo))
        return F.expr(
            f"(({col} - {int(lo)}L) * {top}L) div {span}L"
        )

    zkey = zorder_key(
        [grid(xcol, mm["x0"], mm["x1"]), grid(ycol, mm["y0"], mm["y1"])],
        bits=ZORDER_GRID_BITS,
    )
    layouts = {
        "unordered": df.repartition(n_files),
        "linear_y": df.repartitionByRange(n_files, ycol)
        .sortWithinPartitions(ycol),
        "zorder": zorder_layout(df, zkey, n_files).drop("zval"),
    }

    def file_ranges(path: str, col: str) -> list[tuple[int, int]]:
        out = []
        for fname in sorted(os.listdir(path)):
            if not fname.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(path, fname))
            lo = hi = None
            for rg in range(md.num_row_groups):
                group = md.row_group(rg)
                for ci in range(group.num_columns):
                    c = group.column(ci)
                    if c.path_in_schema != col or c.statistics is None:
                        continue
                    s = c.statistics
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
            if lo is not None:
                out.append((lo, hi))
        return out

    rows = []
    for name, laid in layouts.items():
        path = os.path.join(out_dir, name)
        laid.write.mode("overwrite").parquet(path)
        xr = file_ranges(path, xcol)
        yr = file_ranges(path, ycol)
        rows.append(
            (
                name,
                len(xr),
                sum(1 for lo, hi in xr if hi >= xbox[0] and lo <= xbox[1]),
                sum(1 for lo, hi in yr if hi >= ybox[0] and lo <= ybox[1]),
            )
        )
    return spark.createDataFrame(
        rows,
        "layout string, n_files long, "
        "files_matching_xbox long, files_matching_ybox long",
    )


def exact_heavy_hitters(
    items: DataFrame,
    item_col: str,
    support_num: int,
    support_den: int,
) -> DataFrame:
    """EXACT frequent items with global count >= N * support_num /
    support_den, without shuffling the full distinct-item histogram.

    Two passes. Pass 1 runs a batched Misra-Gries summary with
    k = support_den // support_num counters inside each partition
    (mapInPandas, no shuffle) and emits only the surviving candidate
    items — at most k per partition. The MG guarantee (every
    subtract-step removes equal mass from >= k+1 items, and total
    removed mass <= partition rows) means any item with partition count
    > n_p/(k+1) survives its partition; by pigeonhole a global heavy
    hitter exceeds that fraction in at least one partition, so the
    candidate set is a superset of the true answer. Pass 2 recounts the
    candidates exactly with a broadcast semi join + one hash agg and
    keeps rows passing the integer-exact test n * den >= N * num.

    At 100 TB the shuffle carries only k * n_partitions candidate
    tokens plus the per-candidate partial counts — not the full
    token histogram (billions of distinct keys). The Python MG loop
    runs per Arrow batch over value_counts output (O(batch distinct)),
    not per row.
    """
    from typing import Iterator

    import pandas as pd

    k = support_den // support_num

    def mg_candidates(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for pdf in batches:
            vc = pdf[item_col].value_counts()
            for item, c in vc.items():
                counters[item] = counters.get(item, 0) + int(c)
            if len(counters) > k:
                # Subtract the (size-k)-th smallest count from every
                # counter so at most k survive: one equal-mass
                # subtraction step spread over >= k+1 items.
                cuts = sorted(counters.values())
                m = cuts[len(counters) - k - 1]
                counters = {
                    i: c - m for i, c in counters.items() if c > m
                }
        yield pd.DataFrame({item_col: list(counters.keys())})

    candidates = (
        items.select(item_col)
        .mapInPandas(mg_candidates, schema=f"{item_col} {items.schema[item_col].dataType.simpleString()}")
        .distinct()
    )
    n_total = items.select(
        F.count(F.lit(1)).alias("_n_total")
    )
    counted = (
        items.join(F.broadcast(candidates), on=item_col, how="left_semi")
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        counted.crossJoin(F.broadcast(n_total))
        .where(
            F.col("n") * F.lit(support_den)
            >= F.col("_n_total") * F.lit(support_num)
        )
        .select(
            item_col,
            "n",
            (F.col("n") / F.col("_n_total")).alias("share"),
        )
    )


def observed(df: DataFrame, name: str, *metrics: Column):
    """Attach an Observation to a DataFrame: the metrics accumulate on
    the executors DURING whatever action consumes ``df`` — pipeline
    health counters (rows in/out, null rate, value bounds) for free,
    with NO second scan. This is how a 100 TB curation run reports its
    funnel without re-reading the input: observe() on each stage, one
    pass total. Returns (df, observation); read observation.get after
    an action has run."""
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *metrics), obs


# --- Count-Min sketch ----------------------------------------------------

# Four independent affine hash rows (multiplier, addend). Multipliers are
# the Knuth/xxhash mixing primes; the affine step runs on the word key
# reduced mod CMS_PRE_MOD so products stay far below 2^63 on any engine
# (DuckDB raises on BIGINT overflow rather than wrapping).
CMS_SEEDS = [
    (2654435761, 7),
    (2246822519, 1013),
    (3266489917, 2027),
    (668265263, 3041),
]
CMS_PRE_MOD = 1_000_003
CMS_HASH_MOD = (1 << 31) - 1
CMS_KEY_CHARS = 8  # polynomial key over the first 8 chars


def cms_word_key(col: Column) -> Column:
    """Engine-portable integer key of a word: Σ ascii(char_i)·31^(i-1)
    over the first CMS_KEY_CHARS characters (ascii of a past-the-end
    substring is 0 on both engines, so short words need no special
    case)."""
    out = F.lit(0).cast("long")
    for i in range(1, CMS_KEY_CHARS + 1):
        out = out + F.ascii(F.substring(col, i, 1)).cast("long") * F.lit(
            31 ** (i - 1)
        )
    return out


def sql_cms_word_key(expr: str) -> str:
    """DuckDB twin of cms_word_key — same terms, same constants."""
    terms = [
        f"CAST(ascii(substring({expr}, {i}, 1)) AS BIGINT) * {31 ** (i - 1)}"
        for i in range(1, CMS_KEY_CHARS + 1)
    ]
    return "(" + " + ".join(terms) + ")"


def cms_estimates(word_counts: DataFrame, width: int = 16) -> DataFrame:
    """Count-Min sketch over a (word, cnt) relation → per-word
    (word, n_exact, n_cms) with the CMS guarantee n_cms ≥ n_exact.

    The sketch is the d×w cell table built by hashing every word into
    one cell per row and SUMMING counts — sums are associative, so the
    sketch of a union of corpora is the cell-wise sum of their
    sketches (the mergeability that makes CMS the streaming/partitioned
    frequency sketch: each partition builds a d×w array, the combiner
    adds them, memory is O(d·w) at any corpus size and the shuffle
    carries ≤ d·w rows per partition). Estimates take the MIN cell per
    word — an upper bound on the true count, tight when w exceeds the
    hot-key count. Here the cell table stays a relation and the probe
    set is the vocabulary itself, so the whole construction is exactly
    checkable in SQL; the engine-native variant of the same idea is
    ``F.count_min_sketch``, whose binary output no oracle can replay.
    """
    keyed = word_counts.select(
        "word", "cnt", cms_word_key(F.col("word")).alias("wkey")
    )
    idx_cols = [
        (
            ((F.col("wkey") % CMS_PRE_MOD) * F.lit(mult) + F.lit(add))
            % CMS_HASH_MOD
            % width
        ).cast("long")
        for mult, add in CMS_SEEDS
    ]
    probes = keyed.select(
        "word",
        "cnt",
        F.posexplode(F.array(*idx_cols)).alias("r", "idx"),
    )
    cells = probes.groupBy("r", "idx").agg(F.sum("cnt").alias("cell"))
    return (
        probes.join(cells, ["r", "idx"])
        .groupBy("word", F.col("cnt").alias("n_exact"))
        .agg(F.min("cell").alias("n_cms"))
        .select("word", "n_exact", "n_cms")
    )


def sql_cms_estimates(toks_rel: str, width: int = 16) -> str:
    """DuckDB twin of cms_estimates over a (doc_id, word) relation."""
    case = " ".join(
        f"WHEN {r} THEN ((wkey % {CMS_PRE_MOD}) * {mult} + {add})"
        f" % {CMS_HASH_MOD} % {width}"
        for r, (mult, add) in enumerate(CMS_SEEDS)
    )
    return f"""
vocab AS (SELECT word, count(*) AS cnt FROM {toks_rel} GROUP BY word),
keyed AS (SELECT word, cnt, {sql_cms_word_key('word')} AS wkey FROM vocab),
probes AS (
  SELECT word, cnt, r, CAST(CASE r {case} END AS BIGINT) AS idx
  FROM keyed, unnest([0, 1, 2, 3]) AS t(r)
),
cells AS (SELECT r, idx, CAST(sum(cnt) AS BIGINT) AS cell
          FROM probes GROUP BY r, idx),
cms AS (
  SELECT p.word, p.cnt AS n_exact, CAST(min(c.cell) AS BIGINT) AS n_cms
  FROM probes p JOIN cells c ON p.r = c.r AND p.idx = c.idx
  GROUP BY p.word, p.cnt
)"""
