"""Parquet table catalog for the driver's synthetic star schema.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table under
``/root/testdata/sf{SF}/``. Scans are plain ``spark.read.parquet`` so
Catalyst gets predicate pushdown + column pruning for free; at cluster
scale the same calls point at partitioned/bucketed parquet layouts and
partition pruning kicks in with zero code change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def duckdb_catalog(sf_dir: str):
    """A DuckDB connection with one view per table of TABLE_NAMES over
    the parquet files in ``sf_dir``: the catalog the oracle SQL runs
    against."""
    import duckdb

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


# Event time is normalized to ONE engine-wide domain at scan time:
# BIGINT microseconds since the epoch. Everything downstream (window
# frames, sessionization, streaming buckets, as-of joins) does exact
# integer arithmetic in that domain — no float rounding, no timezone
# dependence, and bit-identical to the DuckDB oracles' epoch_us(ts).
# The parquet encoding of events.ts has drifted across testdata
# generations (TIMESTAMP(NANOS) → BIGINT ns via nanosAsLong, then plain
# TIMESTAMP µs); dispatching on the loaded dtype here makes every query
# immune to the next drift.
_EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def event_time_us(df: DataFrame) -> F.Column:
    """Column expression converting ``ts`` to BIGINT epoch-µs, keyed on
    the column's loaded dtype. timestampdiff on NTZ operands is
    timezone-independent (verified vs DuckDB epoch_us under a non-UTC
    session timezone)."""
    dtype = df.schema["ts"].dataType
    if isinstance(dtype, T.LongType):
        # parquet TIMESTAMP(NANOS) read as BIGINT ns (nanosAsLong).
        # Must be int64 div — epoch-ns exceeds double's 2^53.
        return F.expr("ts div 1000")
    if isinstance(dtype, T.TimestampNTZType):
        return F.expr(f"timestampdiff(MICROSECOND, {_EPOCH_NTZ}, ts)")
    if isinstance(dtype, T.TimestampType):
        return F.unix_micros(F.col("ts"))
    raise TypeError(f"cannot normalize event time column 'ts' of type {dtype}")


def normalize_event_time(df: DataFrame) -> DataFrame:
    """Replace ``ts`` with its BIGINT epoch-µs form (position kept)."""
    return df.withColumn("ts", event_time_us(df).cast("long"))


def _ensure_nanos_as_long(spark: SparkSession) -> None:
    # Engine type policy (also set at session build in session.get_spark):
    # parquet TIMESTAMP(NANOS) columns — which Spark cannot map to a
    # timestamp type — read as BIGINT nanoseconds instead of erroring.
    # The driver brings its OWN SparkSession, so ensure the policy holds
    # here too — idempotent, session-wide by design.
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    _ensure_nanos_as_long(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_event_time(df)
    return df


def _parse_bytes(v: str) -> int:
    """Parse a Spark size conf value ('4194304', '128MB', '134217728b')."""
    s = v.strip().lower()
    mult = 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                   ("b", 1)):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    return int(s) * mult


def _est_scan_splits(df: DataFrame) -> int:
    """Estimate how many input splits the scan below ``df`` produces,
    without touching ``df.rdd`` (which forces a plan→RDD conversion).

    Spark splits parquet by byte ranges of size maxPartitionBytes, but
    a row group cannot be subdivided — a 114 MB single-row-group file
    is ONE split no matter the conf. The honest estimate is therefore
    min(total row groups, ceil(bytes / maxPartitionBytes)) per the
    footers, floored at the file count. Footer reads are bounded (64
    files) and local-path only; any failure (object store, non-parquet)
    falls back to the file count — conservative, i.e. repartitions.
    """
    files = df.inputFiles()
    n = len(files)
    if n == 0 or n > 64:
        return n
    try:
        import pyarrow.parquet as _pq

        maxpb = _parse_bytes(
            df.sparkSession.conf.get(
                "spark.sql.files.maxPartitionBytes", "134217728"
            )
        )
        total_rg = 0
        total_bytes = 0
        for f in files:
            p = f.removeprefix("file:")
            total_rg += _pq.read_metadata(p).num_row_groups
            total_bytes += os.path.getsize(p)
        return max(n, min(total_rg, -(-total_bytes // maxpb)))
    except Exception:
        return n


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition a narrow input up to cluster parallelism (the
    context's ``defaultParallelism``) before
    CPU-heavy per-row work (shingling, minhashing, tokenization).

    A small parquet file arrives as ONE input split (a row group cannot
    be subdivided), which serializes everything downstream on a single
    core no matter how wide the cluster is. The round-robin shuffle here
    is proportional to the raw input bytes — trivially cheap next to the
    per-row work it parallelizes. No-op when the scan already fans out
    to a healthy fraction of the target (≥ 1/4: a full extra shuffle to
    close the last 2-4× of scan parallelism costs more than it buys on
    every workload measured; closing a 10-30× gap is what pays). At
    100 TB inputs arrive thousands of splits wide and this is a
    guaranteed no-op.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if _est_scan_splits(df) >= max(1, target // 4):
        return df
    return df.repartition(target)


def load_tables(
    spark: SparkSession, sf_dir: str, register_views: bool = False
) -> dict[str, DataFrame]:
    out = {}
    for name in TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
