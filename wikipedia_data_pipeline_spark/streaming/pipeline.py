"""Structured Streaming operators (SURVEY.md §2.8 / §7 step 5).

The reference is strictly batch; these are the engine's streaming
extensions, built so every streaming program has a batch twin over the
same DataFrame expressions (run_* helpers execute the stream with an
availableNow trigger into a memory sink and return the result table, so
batch-parity is directly checkable).

Event time lives in the exact int64 domain: ``read_events_stream``
normalizes events.ts to BIGINT µs at the source (same dtype dispatch as
sources.tables.load_table, so batch and stream share one point of truth
for the time domain regardless of the parquet physical encoding).
Windowing uses the same integer bucket arithmetic as the batch
events_hourly_rollup, so stream and batch agree bit-for-bit.

At scale: these run identically against kafka/file sources with
real triggers; complete-mode memory sink becomes an append-mode
parquet/kafka sink plus ``withWatermark`` for state eviction —
``windowed_counts_watermarked`` shows that form.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from wikipedia_data_pipeline_spark.functions import EVENT_WINDOW
from wikipedia_data_pipeline_spark.operators.ranks import pin


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event stream with ``ts`` normalized to BIGINT epoch-µs.

    The file-stream source requires an explicit schema; deriving it from
    the parquet footer (a metadata-only batch read) instead of
    hard-coding one means a testdata regeneration that changes the ts
    encoding cannot silently shift the time domain — the dtype dispatch
    in normalize_event_time handles ns-int64 / TIMESTAMP / TIMESTAMP_NTZ
    alike."""
    import os

    from wikipedia_data_pipeline_spark.sources.tables import (
        _ensure_nanos_as_long,
        normalize_event_time,
    )

    _ensure_nanos_as_long(spark)
    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return normalize_event_time(raw)


def hourly_rollup(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour window agg — identical expressions to the batch
    events_hourly_rollup query."""
    us = F.col("ts")  # already BIGINT µs (normalized at the source)
    bucket = ((us - (us % 3_600_000_000)) / 1_000_000).cast("long")
    return (
        events.withColumn("bucket_s", bucket)
        .groupBy("bucket_s", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
    )


def _input_sized_partitions(spark: SparkSession, sf_dir: str) -> int | None:
    """State-store count for an input-bounded streaming run.

    A streaming query's state partitioning is pinned to
    ``spark.sql.shuffle.partitions`` at its FIRST micro-batch and kept
    by the checkpoint forever after; every stateful operator then
    commits one state store per partition per batch, so an oversized
    default multiplies fixed commit/snapshot cost without adding
    parallelism (a stream-stream join carries 4 stores/partition — at
    32 partitions that is 128 store commits per batch for kilobytes of
    state). Production sizes this knob to peak event rate × state per
    key; for a bounded replay the input is the rate, so: one partition
    per 64 MB of source, floored at 4 (skew headroom), capped at the
    session's core count. Returns None (leave the session default) if
    the source size cannot be read."""
    import os

    path = os.path.join(sf_dir, "events.parquet")
    try:
        if os.path.isfile(path):
            size = os.path.getsize(path)
        else:
            size = sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(path)
                for f in files
            )
    except OSError:
        return None
    cores = spark.sparkContext.defaultParallelism
    return max(4, min(cores, size // (64 << 20) + 1))


@contextmanager
def _scoped_shuffle_partitions(spark: SparkSession, n: int | None):
    """Set shuffle partitions for the duration of a stream start+drain,
    restoring the session value after — streaming state sizing must not
    leak into later batch queries on the shared session."""
    if n is None:
        yield
        return
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _run_to_memory(
    result: DataFrame, name: str, mode: str, partitions: int | None = None
) -> None:
    spark = result.sparkSession
    try:
        spark.catalog.dropTempView(name)
    except Exception:
        pass
    with _scoped_shuffle_partitions(spark, partitions):
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def run_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the streaming rollup to completion; returns the final
    result table (complete mode → state holds all windows)."""
    _run_to_memory(
        hourly_rollup(read_events_stream(spark, sf_dir)),
        "wdp_stream_hourly",
        "complete",
        partitions=_input_sized_partitions(spark, sf_dir),
    )
    return spark.table("wdp_stream_hourly")


def windowed_counts_watermarked(events_ts: DataFrame) -> DataFrame:
    """Append-mode form: proper TIMESTAMP event time + watermark for
    late data; emits only finalized windows. Takes a DataFrame that
    already carries a ``event_time TIMESTAMP`` column."""
    return (
        events_ts.withWatermark("event_time", "1 hour")
        .groupBy(F.window("event_time", "1 hour"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def run_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window streaming agg (1 h window, 30 min slide): each
    event contributes to 2 overlapping windows. Complete-mode memory
    sink; must equal the batch events_sliding_window query."""
    events = read_events_stream(spark, sf_dir)
    result = (
        events.withColumn(
            "event_time", F.timestamp_micros(F.col("ts"))
        )
        .groupBy(
            F.window("event_time", "1 hour", EVENT_WINDOW).alias("win"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("win.start").cast("long").alias("ws"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    _run_to_memory(
        result,
        "wdp_stream_sliding",
        "complete",
        partitions=_input_sized_partitions(spark, sf_dir),
    )
    return spark.table("wdp_stream_sliding")


def run_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap-merged session windows (30 min inactivity), complete
    mode — session state merges across micro-batches; with an
    availableNow run the final table equals the batch session_window
    query exactly, so the same gaps-and-islands SQL oracle applies."""
    events = read_events_stream(spark, sf_dir)
    result = (
        events.withColumn(
            "event_time", F.timestamp_micros(F.col("ts"))
        )
        .groupBy(
            "user_id",
            F.session_window("event_time", EVENT_WINDOW).alias("sw"),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("sw.start").alias("session_start_us"),
            F.unix_micros("sw.end").alias("session_end_us"),
            "n_events",
        )
    )
    _run_to_memory(
        result,
        "wdp_stream_sessions",
        "complete",
        partitions=_input_sized_partitions(spark, sf_dir),
    )
    return spark.table("wdp_stream_sessions")


def run_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup: the event stream unioned with itself (every row
    arrives exactly twice) then ``dropDuplicatesWithinWatermark`` on
    event_id — the scale-path dedup that keeps only a watermark-bounded
    window of keys in state instead of all keys ever seen. Output must
    equal the original table exactly (each duplicate pair lands well
    inside the 1-hour watermark), so the batch oracle is just SELECT *.
    """
    events = read_events_stream(spark, sf_dir)
    doubled = events.union(events).withColumn(
        "event_time", F.timestamp_micros(F.col("ts"))
    )
    deduped = (
        doubled.withWatermark("event_time", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )
    _run_to_memory(
        deduped,
        "wdp_stream_dedup",
        "append",
        partitions=_input_sized_partitions(spark, sf_dir),
    )
    return spark.table("wdp_stream_dedup")


def _view_click_stream_join(
    spark: SparkSession, sf_dir: str, how: str
) -> DataFrame:
    """Views joined (``how``) to the same user's clicks within the
    following hour, both streams watermarked at 2 hours: the state
    bound shared by the inner and the left-outer interval join.
    Columns: view_id, click_id, user_id, view_us, click_us."""
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.timestamp_micros(F.col("ts")).alias("view_time"),
        )
    )
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.timestamp_micros(F.col("ts")).alias("click_time"),
        )
    )
    return (
        views.withWatermark("view_time", "2 hours")
        .join(
            clicks.withWatermark("click_time", "2 hours"),
            F.expr(
                "v_user = c_user AND click_time BETWEEN view_time "
                "AND view_time + interval 1 hour"
            ),
            how,
        )
        .select(
            "view_id",
            "click_id",
            F.col("v_user").alias("user_id"),
            F.unix_micros("view_time").alias("view_us"),
            F.unix_micros("click_time").alias("click_us"),
        )
    )


def run_view_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval inner join: each view joined to the same
    user's clicks within the following hour, both sides watermarked.

    The watermarks bound the join state: Spark retains only 2 hours of
    each stream (watermark + interval span) instead of the full history
    — the property that makes a stream-stream join runnable forever at
    production event rates. With an availableNow run the emitted pairs
    equal the batch interval self-join exactly, so the same SQL oracle
    checks both.
    """
    joined = _view_click_stream_join(spark, sf_dir, "inner")
    _run_to_memory(
        joined,
        "wdp_stream_vc_join",
        "append",
        partitions=_input_sized_partitions(spark, sf_dir),
    )
    return spark.table("wdp_stream_vc_join")


STATE_SCHEMA = StructType([StructField("n", LongType())])
USER_STATS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("min_value", DoubleType()),
        StructField("max_value", DoubleType()),
    ]
)


def _user_stats_fn(key, pdfs: Iterator[pd.DataFrame], state):
    """Custom stateful operator: per-user running count + min/max.
    Order-free aggregates only, so results are deterministic regardless
    of batch/partition order."""
    n = state.get[0] if state.exists else 0
    mn, mx = None, None
    for pdf in pdfs:
        n += len(pdf)
        b_mn, b_mx = pdf["value"].min(), pdf["value"].max()
        mn = b_mn if mn is None else min(mn, b_mn)
        mx = b_mx if mx is None else max(mx, b_mx)
    state.update((n,))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "min_value": [mn],
            "max_value": [mx],
        }
    )


def run_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState over the event stream: arbitrary per-key
    state with an explicit state schema (GroupState)."""
    events = read_events_stream(spark, sf_dir)
    result = (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _user_stats_fn,
            outputStructType=USER_STATS_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )
    _run_to_memory(
        result,
        "wdp_stream_user_stats",
        "update",
        partitions=_input_sized_partitions(spark, sf_dir),
    )
    return spark.table("wdp_stream_user_stats")


def static_enrich(
    events: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Stream-static enrichment join + agg: the remaining streaming join
    class (stream-stream is streaming_view_click_join). The static dim
    side is re-planned and broadcast per micro-batch — no watermark and
    no join state needed, which is why production enrichment against a
    slowly-changing dim prefers this over a stream-stream join."""
    enriched = events.join(
        F.broadcast(customer.select("c_custkey", "c_nationkey")),
        F.col("user_id") == F.col("c_custkey"),
    ).join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    return enriched.groupBy("n_name").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("total_value"),
    )


def run_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikipedia_data_pipeline_spark.sources.tables import load_table

    result = static_enrich(
        read_events_stream(spark, sf_dir),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )
    _run_to_memory(
        result,
        "wdp_stream_enrich",
        "complete",
        partitions=_input_sized_partitions(spark, sf_dir),
    )
    return spark.table("wdp_stream_enrich")


def _compact_latest(df: DataFrame) -> DataFrame:
    """Latest event per (user_id, event_type) by (ts, event_id) — the
    merge step of the foreachBatch compaction sink."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def compaction_sink(store_dir: str):
    """foreachBatch sink that maintains a compacted latest-per-key
    table with EXACTLY-ONCE semantics over at-least-once batch
    delivery.

    Each micro-batch merges into a new immutable version directory
    ``v{batch_id}`` (read previous version, union the batch, compact,
    write) — never overwriting the version being read. A replayed
    batch id finds its version already committed (_SUCCESS) and
    returns without touching the store: idempotent under the
    re-delivery Structured Streaming promises after a failure. This is
    the log-structured MERGE loop a lakehouse table format runs; state
    lives entirely in object storage, so the writer is stateless and
    any executor count works.
    """
    import os

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        version_dir = os.path.join(store_dir, f"v{batch_id}")
        if os.path.exists(os.path.join(version_dir, "_SUCCESS")):
            return  # replayed batch — already applied
        committed = [
            int(d[1:])
            for d in os.listdir(store_dir)
            if d.startswith("v")
            and os.path.exists(os.path.join(store_dir, d, "_SUCCESS"))
            and int(d[1:]) < batch_id
        ] if os.path.isdir(store_dir) else []
        cur = batch_df
        if committed:
            prev = os.path.join(store_dir, f"v{max(committed)}")
            cur = spark.read.parquet(prev).unionByName(batch_df)
        _compact_latest(cur).write.mode("overwrite").parquet(version_dir)

    return apply_batch


def run_foreach_batch_compaction(
    spark: SparkSession, sf_dir: str, store_dir: str | None = None
) -> DataFrame:
    """Stream events through the foreachBatch compaction sink, then
    serve the newest committed version. The batch twin (and oracle) is
    events_latest_per_key."""
    import os
    import shutil
    import tempfile

    owned = store_dir is None
    if owned:
        store_dir = tempfile.mkdtemp(prefix="wdp_compact_")
    ev = read_events_stream(spark, sf_dir)
    q = (
        ev.writeStream.foreachBatch(compaction_sink(store_dir))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    versions = sorted(
        int(d[1:])
        for d in os.listdir(store_dir)
        if d.startswith("v")
        and os.path.exists(os.path.join(store_dir, d, "_SUCCESS"))
    )
    # The cache is load-bearing: its lineage reads the temp store,
    # which is removed below. Consume the result fully before
    # ranks.unpersist_all(), or the recompute raises FileNotFound.
    out = pin(
        spark.read.parquet(os.path.join(store_dir, f"v{versions[-1]}"))
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("value").alias("last_value"),
        )
    )
    out.count()  # materialize before the temp store can be cleaned up
    if owned:
        shutil.rmtree(store_dir, ignore_errors=True)
    return out


def versioned_sink(store_dir: str, merge_fn):
    """Generalized exactly-once foreachBatch sink: ``merge_fn(prev, batch)``
    produces the next immutable version from the previous committed
    version (None on the first batch) and the micro-batch; replayed
    batch ids find their version committed and no-op. compaction_sink
    and the MV sink are both instances of this shape."""
    import os

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        version_dir = os.path.join(store_dir, f"v{batch_id}")
        if os.path.exists(os.path.join(version_dir, "_SUCCESS")):
            return
        committed = [
            int(d[1:])
            for d in os.listdir(store_dir)
            if d.startswith("v")
            and os.path.exists(os.path.join(store_dir, d, "_SUCCESS"))
            and int(d[1:]) < batch_id
        ] if os.path.isdir(store_dir) else []
        prev = (
            spark.read.parquet(os.path.join(store_dir, f"v{max(committed)}"))
            if committed
            else None
        )
        merge_fn(prev, batch_df).write.mode("overwrite").parquet(version_dir)

    return apply_batch


def run_streaming_mv(
    spark: SparkSession, sf_dir: str, store_dir: str | None = None
) -> DataFrame:
    """Streaming incremental materialized view: each micro-batch folds
    into the algebraic per-event-type state (operators.incremental)
    through the versioned exactly-once sink — the stream twin of
    incremental_mv_orders, maintained at O(batch) instead of
    O(history) per trigger. Serves finalize(newest state)."""
    import os
    import shutil
    import tempfile

    from wikipedia_data_pipeline_spark.operators import incremental as I

    keys = ["event_type"]

    def merge(prev: DataFrame | None, batch: DataFrame) -> DataFrame:
        state = I.partial_aggregate(batch, keys, F.col("value"))
        if prev is not None:
            state = I.merge_partials([prev, state], keys)
        return state

    owned = store_dir is None
    if owned:
        store_dir = tempfile.mkdtemp(prefix="wdp_mv_")
    ev = read_events_stream(spark, sf_dir)
    q = (
        ev.writeStream.foreachBatch(versioned_sink(store_dir, merge))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    versions = sorted(
        int(d[1:])
        for d in os.listdir(store_dir)
        if d.startswith("v")
        and os.path.exists(os.path.join(store_dir, d, "_SUCCESS"))
    )
    # Same contract as run_foreach_batch_compaction: the temp store is
    # removed below, so consume the result before ranks.unpersist_all().
    out = pin(
        I.finalize(
            spark.read.parquet(os.path.join(store_dir, f"v{versions[-1]}")),
            keys,
        )
    )
    out.count()
    if owned:
        shutil.rmtree(store_dir, ignore_errors=True)
    return out


def run_view_click_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every view emits — with
    its click ids when a click follows within the hour, null-extended
    otherwise. The outer variant is the one production funnels need
    ("views that did NOT convert") and the harder one operationally:
    the null-extended row can only be emitted once the watermark proves
    no matching click can still arrive, i.e. when the view's join
    window has aged out of state (view_time + 1h below the watermark).
    Views younger than that at end-of-stream remain unresolved — they
    are NOT emitted (they would be in the next trigger of a live
    stream), which is exactly the semantics the batch oracle encodes
    via the final-watermark predicate.
    """
    joined = _view_click_stream_join(spark, sf_dir, "left_outer")
    _run_to_memory(
        joined,
        "wdp_stream_vc_left_join",
        "append",
        partitions=_input_sized_partitions(spark, sf_dir),
    )
    return spark.table("wdp_stream_vc_left_join")


def run_sprt_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming half of the SPRT monitor (see
    queries.statsdrift_queries.events_sprt_ab for the batch twin and
    the frozen-constant exactness story): the treated arm's per-day
    (n, conversions) counters as a stateful streaming aggregation —
    the state a deployed sequential monitor keeps between micro-
    batches. Complete-mode memory sink; the decision layer (cumulative
    LLR vs the ln(19) boundaries) reads this day-spine-sized state as
    a batch post-pass, exactly how a monitor consults its store."""
    # the arm-selection hash and day divisor live in ONE place, shared
    # with the batch twin (lazy import: registry modules register on
    # import, and this module is itself imported during _load_all)
    from wikipedia_data_pipeline_spark.queries.statsdrift_queries import (
        sprt_treated_daily_obs,
    )

    events = read_events_stream(spark, sf_dir)
    obs = sprt_treated_daily_obs(events)
    daily = obs.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_day"),
        F.sum("x").cast("long").alias("k_day"),
    )
    _run_to_memory(
        daily,
        "wdp_stream_sprt",
        "complete",
        partitions=_input_sized_partitions(spark, sf_dir),
    )
    return spark.table("wdp_stream_sprt")
