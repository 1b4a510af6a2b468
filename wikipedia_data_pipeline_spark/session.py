"""SparkSession factory.

Local-mode defaults sized for the test harness (``local[$SPARK_GRAFT_CPUS]``,
single JVM). On a real cluster the same SQL configs apply; only
master/memory flags change. Unlike the reference (which embeds AWS
credentials in source, Main.java:36), object-store access is left to the
standard s3a credential-provider chain — never hardcoded.

Python workers (UDFs, pandas/Arrow maps, Python data sources) import
the engine too, so the directory that holds this package goes on their
PYTHONPATH: a script started from any working directory runs the
checkout it was loaded from.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the wikipedia_data_pipeline_spark package
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "wikipedia-data-pipeline-spark") -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("WDP_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_PARENT)
        .config("spark.ui.showConsoleProgress", "false")
        # dims (region/nation/customer/supplier/part, idf vocab) stay well
        # under this at every SF we target — prefer broadcast joins.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Local-harness split sizing: testdata arrives as ONE file per
        # table (sf1r replica: ~115 MB lineitem), so the default 128 MB
        # split width serializes whole scans on one core. 4 MB aligns
        # scan parallelism with local[32]; on a real cluster, where
        # inputs arrive thousands of files wide, revert to the default
        # (tiny splits there only inflate scheduling overhead).
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        # Engine-wide type policy: parquet TIMESTAMP(NANOS) (which Spark
        # cannot map to a timestamp) reads as BIGINT nanoseconds; time
        # arithmetic happens in the exact integer domain (functions.ts_us).
        # Declared here, once — not as a per-read side effect.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
