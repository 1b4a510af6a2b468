"""Table maintenance: small-file compaction and sorted rewrite.

At 100 TB the silent killer is not one slow query — it is a table that
has accreted millions of small files (streaming micro-batches, per-key
partitioned sinks, upsert churn). Every scan then pays open/seek/footer
costs per file and the driver pays listing time. Compaction is the
standard maintenance job: read, coalesce to target-sized output files,
optionally range-sort so min/max column statistics become selective
(the poor-man's Z-order for single-column predicates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from wikipedia_data_pipeline_spark.sources.io import read_table, write_table

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024


def plan_compaction(
    df: DataFrame,
    total_bytes: int,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
) -> int:
    """Output file count for ``total_bytes`` of data at the target file
    size (>= 1). Callers supply bytes from the catalog / file listing —
    computing it by scanning would defeat the purpose."""
    return max(1, (total_bytes + target_file_bytes - 1) // target_file_bytes)


def compact(
    spark: SparkSession,
    src_path: str,
    dest_path: str,
    total_bytes: int,
    sort_col: str | None = None,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    fmt: str = "parquet",
) -> int:
    """Rewrite ``src_path`` into ``n`` target-sized files at
    ``dest_path``; returns ``n``.

    With ``sort_col``, the rewrite is ``repartitionByRange`` +
    ``sortWithinPartitions`` — each output file covers a disjoint value
    range, so parquet min/max stats let later scans skip whole files
    for range/equality predicates on that column. Without it, a plain
    ``repartition`` balances bytes. Writing to a NEW path + atomic
    swap-by-rename is the caller's transaction strategy (plain parquet
    has no log to make in-place rewrite safe)."""
    df = read_table(spark, src_path, fmt=fmt)
    n = plan_compaction(df, total_bytes, target_file_bytes)
    if sort_col is not None:
        df = df.repartitionByRange(n, sort_col).sortWithinPartitions(sort_col)
    else:
        df = df.repartition(n)
    write_table(df, dest_path, fmt=fmt, mode="overwrite")
    return n


# ---------------------------------------------------------------------------
# Bucketed twin layout (round 11)
# ---------------------------------------------------------------------------

# join-key bucketing spec per fact table: the keys the heavy fact-fact
# joins and fact-sized pre-aggregations cluster on
BUCKET_SPECS: dict[str, list[str]] = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
    # the user-behavior family (sessionization, as-of, per-user rollups)
    # re-shuffles events on user_id every query; one bucketed twin
    # removes that exchange for all of them (round 12)
    "events": ["user_id"],
}
# within-bucket sort: defaults to the bucket keys; events sorts by the
# event-time tiebreak order every per-user window uses, so the
# within-partition sort is over nearly-ordered runs
SORT_SPECS: dict[str, list[str]] = {
    "events": ["user_id", "ts", "event_id"],
}
TWIN_BUCKETS = 32


def bucketed_table_name(sf_dir: str, table: str, num_buckets: int) -> str:
    """Catalog name for the bucketed twin of ``sf_dir``'s ``table`` —
    content-addressed by source dir so different scale factors never
    collide in one session."""
    import hashlib

    digest = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:8]
    return f"wdp_bkt_{table}_{digest}_{num_buckets}"


def ensure_bucketed_twins(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] = ("lineitem", "orders"),
) -> dict[str, str]:
    """Maintenance path for the measured 3x bucketed-join win
    (SCALE_PROBE_r10:bucketed_join_ab: 9.97 s -> 3.06 s, exchanges
    3 -> 1 on the 60M-row lineitem x orders SMJ): write each fact
    table ONCE as a full-schema parquet table bucketed (``TWIN_BUCKETS``
    buckets) and sorted by its join key, then every orderkey-keyed
    join/aggregation over the twins plans with zero shuffle exchanges
    (the scan reports the bucket hash-partitioning; parquet column
    pruning still applies, so one bucketed copy serves every consumer).

    This is the pay-the-shuffle-once-at-write-time trade: at 100 TB
    the write is a scheduled maintenance job, here it runs lazily the
    first time a session asks (in-memory catalog = once per session;
    data lives under ``<sf_dir basename>``-keyed external paths inside
    the repo, so re-writes hit the same location). Returns
    {table: catalog_name}."""
    import os

    root = os.path.join(
        os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        ),
        "benchdata",
        "bucketed",
    )
    out: dict[str, str] = {}
    for t in tables:
        keys = BUCKET_SPECS[t]
        name = bucketed_table_name(sf_dir, t, TWIN_BUCKETS)
        if not spark.catalog.tableExists(name):
            from wikipedia_data_pipeline_spark.sources.bucketing import (
                write_bucketed,
            )

            # write from the NORMALIZED relation (events.ts → BIGINT µs,
            # the engine's event-time domain) so twin consumers see the
            # exact schema load_table serves
            from wikipedia_data_pipeline_spark.sources.tables import (
                load_table,
            )

            df = load_table(spark, sf_dir, t)
            write_bucketed(
                df,
                name,
                keys,
                TWIN_BUCKETS,
                sort_cols=SORT_SPECS.get(t, keys),
                path=os.path.join(root, name),
            )
        out[t] = name
    return out
