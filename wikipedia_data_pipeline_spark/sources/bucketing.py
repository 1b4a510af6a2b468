"""Bucketed table layout — the shuffle-free co-located join path.

At 100 TB the dominant cost of a fact-fact join (e.g. lineitem ⋈ orders
on orderkey) is shuffling both sides. Writing both tables bucketed (and
optionally sorted) by the join key moves that shuffle to write time,
once, instead of every query: Spark's scan then reports the bucket
hash-partitioning as its output partitioning and the join planner skips
both exchanges (and both sorts, when sortBy matches).

Works with the built-in catalog (no Hive needed): ``bucketBy`` +
``saveAsTable`` on the parquet datasource. The same helper on a real
cluster writes to the warehouse/object store; bucket pruning also kicks
in for point predicates on the bucket column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (optionally bucket-sorted) parquet
    table, overwriting any earlier one — managed by default, external at
    ``path`` when given.
    Joins/aggregations keyed on ``bucket_cols`` between tables sharing
    a bucket count then plan with zero exchanges."""
    w = df.write.format("parquet").mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def drop_table(spark: SparkSession, table: str) -> None:
    spark.sql(f"DROP TABLE IF EXISTS {table}")
