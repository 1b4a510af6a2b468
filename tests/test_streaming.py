"""Structured Streaming: batch parity for the rollup + stateful op, and
watermark/append semantics with multi-batch file feeding."""

from __future__ import annotations

import datetime as dt
import os
import tempfile

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.streaming import pipeline as P


def test_streaming_hourly_rollup_matches_batch(spark, sf_dir):
    stream = P.run_hourly_rollup(spark, sf_dir).select(
        "bucket_s", "event_type", "n_events", "total_value"
    )
    from wikipedia_data_pipeline_spark.sources.tables import load_table
    from wikipedia_data_pipeline_spark.functions import dec_sum

    ev = load_table(spark, sf_dir, "events")
    us = F.col("ts")  # load_table normalizes events.ts to BIGINT µs
    bucket = ((us - (us % 3_600_000_000)) / 1_000_000).cast("long")
    batch = (
        ev.withColumn("bucket_s", bucket)
        .groupBy("bucket_s", "event_type")
        .agg(F.count("*").alias("n_events"), dec_sum("value", "total_value"))
    )
    assert sorted(map(tuple, stream.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_stateful_user_stats_matches_batch(spark, sf_dir):
    stream = P.run_stateful_user_stats(spark, sf_dir)
    from wikipedia_data_pipeline_spark.sources.tables import load_table

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )
    assert sorted(map(tuple, stream.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_watermark_append_drops_open_windows(spark):
    """Two micro-batches; append mode emits only windows finalized by
    the watermark advanced after batch 1."""
    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def mk(minutes, typ):
        return (base + dt.timedelta(minutes=minutes), typ)

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        batch1 = spark.createDataFrame(
            [mk(5, "a"), mk(30, "a"), mk(70, "b"), mk(200, "a")],
            ["event_time", "event_type"],
        )
        batch1.coalesce(1).write.parquet(os.path.join(src, "f1.parquet"))
        batch2 = spark.createDataFrame(
            [mk(210, "b")], ["event_time", "event_type"]
        )
        batch2.coalesce(1).write.parquet(os.path.join(src, "f2.parquet"))

        stream = (
            spark.readStream.schema("event_time timestamp, event_type string")
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*"))
        )
        result = P.windowed_counts_watermarked(stream)
        name = "wdp_test_watermark"
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = {
            (r.window_start, r.event_type, r.n_events)
            for r in spark.table(name).collect()
        }
        # watermark after all data = 03:30 - 1h = 02:30 → windows ending
        # ≤ 02:30 are final: [00:00,01:00) and [01:00,02:00)
        assert (base, "a", 2) in rows
        assert (base + dt.timedelta(hours=1), "b", 1) in rows
        # the 03:20/03:30 window is still open → must NOT be emitted
        assert not any(r[0] >= base + dt.timedelta(hours=3) for r in rows)


def test_foreach_batch_parquet_sink(spark, sf_dir):
    """Production sink path: foreachBatch lands each micro-batch in a
    parquet dir (transactional per batch via the file committer); the
    landed table must equal the source."""
    from wikipedia_data_pipeline_spark.streaming.pipeline import (
        read_events_stream,
    )

    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "landed")

        def land(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            read_events_stream(spark, sf_dir)
            .writeStream.foreachBatch(land)
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        landed = spark.read.parquet(out)
        src = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        assert landed.count() == src.count()
        assert sorted(landed.columns) == sorted(src.columns)


def test_stream_stream_join_matches_batch(spark, sf_dir):
    from wikipedia_data_pipeline_spark.queries.streaming_queries import (
        events_view_click_join,
    )

    stream = {
        tuple(r)
        for r in P.run_view_click_join(spark, sf_dir).collect()
    }
    batch = {tuple(r) for r in events_view_click_join(spark, sf_dir).collect()}
    assert stream == batch


def test_streaming_checkpoint_resume_exactly_once(spark, tmp_path):
    """Checkpointed file-source resume: a restarted query (same
    checkpointLocation) processes ONLY files that arrived since the last
    commit — no reprocessing, no loss. This is the recovery contract a
    production pipeline leans on; availableNow makes each run drain and
    stop."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(src)
    spark.createDataFrame([(1,), (2,)], "v long").coalesce(1).write.mode(
        "append"
    ).parquet(src)

    def drain():
        q = (
            spark.readStream.schema("v long")
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert sorted(r.v for r in spark.read.parquet(out).collect()) == [1, 2]
    # second batch of source files arrives after the first run committed
    spark.createDataFrame([(3,)], "v long").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()
    got = sorted(r.v for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3], f"duplicated or lost rows: {got}"


def test_foreach_batch_compaction_multibatch_and_replay(spark, tmp_path):
    # Split events into 3 files so maxFilesPerTrigger=1 yields real
    # multi-batch compaction, then replay a batch id to prove the sink
    # is idempotent (exactly-once over at-least-once delivery).
    import os

    from wikipedia_data_pipeline_spark.sources.tables import load_table
    from wikipedia_data_pipeline_spark.streaming import pipeline as SP

    sf_dir = "/root/testdata/sf0.001"
    src = str(tmp_path / "events_split")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(3).write.parquet(src)

    store = str(tmp_path / "store")
    stream = (
        spark.readStream.schema(ev.schema).format("parquet")
        .option("maxFilesPerTrigger", "1").load(src)
    )
    q = (
        stream.writeStream.foreachBatch(SP.compaction_sink(store))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    versions = sorted(
        int(d[1:]) for d in os.listdir(store)
        if d.startswith("v") and os.path.exists(os.path.join(store, d, "_SUCCESS"))
    )
    assert len(versions) == 3  # one committed version per micro-batch

    final = os.path.join(store, f"v{versions[-1]}")
    want = sorted(tuple(r) for r in SP._compact_latest(ev).collect())
    got = sorted(tuple(r) for r in spark.read.parquet(final).collect())
    assert got == want

    # Replay batch 0 with different (stale) content: store must not change.
    mtimes = {d: os.path.getmtime(os.path.join(store, d)) for d in os.listdir(store)}
    SP.compaction_sink(store)(ev.limit(5), 0)
    assert {d: os.path.getmtime(os.path.join(store, d)) for d in os.listdir(store)} == mtimes


def test_streaming_mv_multibatch_equals_batch_aggregate(spark, tmp_path):
    # 3-file maxFilesPerTrigger=1 run: per-batch O(batch) state folds
    # must reproduce the one-shot batch aggregate exactly.
    import os

    from pyspark.sql import functions as F2

    from wikipedia_data_pipeline_spark.operators import incremental as I
    from wikipedia_data_pipeline_spark.sources.tables import load_table
    from wikipedia_data_pipeline_spark.streaming import pipeline as SP

    sf_dir = "/root/testdata/sf0.001"
    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "events_split")
    ev.repartition(3).write.parquet(src)

    keys = ["event_type"]

    def merge(prev, batch):
        state = I.partial_aggregate(batch, keys, F2.col("value"))
        if prev is not None:
            state = I.merge_partials([prev, state], keys)
        return state

    store = str(tmp_path / "mv_store")
    stream = (
        spark.readStream.schema(ev.schema).format("parquet")
        .option("maxFilesPerTrigger", "1").load(src)
    )
    q = (
        stream.writeStream.foreachBatch(SP.versioned_sink(store, merge))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    versions = sorted(
        int(d[1:]) for d in os.listdir(store)
        if d.startswith("v") and os.path.exists(os.path.join(store, d, "_SUCCESS"))
    )
    assert len(versions) == 3
    got = sorted(
        tuple(r)
        for r in I.finalize(
            spark.read.parquet(os.path.join(store, f"v{versions[-1]}")), keys
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in I.finalize(
            I.partial_aggregate(ev, keys, F2.col("value")), keys
        ).collect()
    )
    assert got == want
