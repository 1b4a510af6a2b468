"""Streaming query registrations (streaming.pipeline).

The session gap and the sliding slide are ``functions.EVENT_WINDOW_US``;
the batch twins in queries.advanced_queries share this module's
``SESSION_WINDOW_ORACLE`` and ``SLIDING_WINDOW_ROWS_SQL``.

Each callable runs a real Structured Streaming job (availableNow
trigger → memory sink) to completion and returns the result table, so
the driver's oracle compare checks stream/batch parity: the oracle is
plain batch SQL over the same events parquet.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.functions import EVENT_WINDOW_US, sql_dec_sum
from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.streaming import pipeline as P


@register(
    "streaming_hourly_rollup",
    oracle=f"""
SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket_s, event_type,
       count(*) AS n_events,
       {sql_dec_sum('value', 'total_value')}
FROM events GROUP BY 1, 2
""",
)
def streaming_hourly_rollup(spark, sf_dir):
    """Tumbling-window streaming agg; must equal the batch SQL."""
    return P.run_hourly_rollup(spark, sf_dir).select(
        "bucket_s", "event_type", "n_events", "total_value"
    )


_SLIDE_S = EVENT_WINDOW_US // 1_000_000

# Each event at both starts (epoch seconds) of the two 1-hour windows
# sliding by EVENT_WINDOW_US that hold it.
SLIDING_WINDOW_ROWS_SQL = f"""
  SELECT (epoch_us(ts) // {EVENT_WINDOW_US}) * {_SLIDE_S} AS ws, event_type, value
  FROM events
  UNION ALL
  SELECT ((epoch_us(ts) // {EVENT_WINDOW_US}) - 1) * {_SLIDE_S} AS ws, event_type, value
  FROM events
"""


@register(
    "streaming_sliding_rollup",
    oracle=f"""
SELECT ws, event_type, count(*) AS n_events,
       {sql_dec_sum('value', 'total_value')}
FROM ({SLIDING_WINDOW_ROWS_SQL}) GROUP BY ws, event_type
""",
)
def streaming_sliding_rollup(spark, sf_dir):
    """Sliding-window (1h/30min) streaming agg; equals the batch twin."""
    return P.run_sliding_rollup(spark, sf_dir)


# Gaps-and-islands sessions as Spark's session_window forms them: a new
# session when the gap is >= EVENT_WINDOW_US, ending last event + gap.
SESSION_WINDOW_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, epoch_us(ts) AS t,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY epoch_us(ts)) AS prev_t
  FROM events
),
flagged AS (
  SELECT user_id, t,
         CASE WHEN prev_t IS NULL OR t - prev_t >= {EVENT_WINDOW_US}
              THEN 1 ELSE 0 END AS new_session
  FROM ordered
),
sessions AS (
  SELECT user_id, t,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY t
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
)
SELECT user_id, min(t) AS session_start_us,
       max(t) + {EVENT_WINDOW_US} AS session_end_us,
       count(*) AS n_events
FROM sessions GROUP BY user_id, session_id
"""


@register("streaming_session_window", oracle=SESSION_WINDOW_ORACLE)
def streaming_session_window(spark, sf_dir):
    """Streaming session_window (complete mode); equals the batch
    gaps-and-islands sessionization exactly."""
    return P.run_session_window(spark, sf_dir)


@register(
    "streaming_dedup_watermark",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
)
def streaming_dedup_watermark(spark, sf_dir):
    """dropDuplicatesWithinWatermark over a self-unioned stream (every
    event duplicated) — must reproduce the original table exactly."""
    return P.run_dedup_within_watermark(spark, sf_dir)


_VC_ORACLE = """
SELECT v.event_id AS view_id, c.event_id AS click_id,
       v.user_id AS user_id,
       epoch_us(v.ts) AS view_us, epoch_us(c.ts) AS click_us
FROM events v JOIN events c
  ON v.user_id = c.user_id
 AND c.ts BETWEEN v.ts AND v.ts + INTERVAL 1 HOUR
WHERE v.event_type = 'view' AND c.event_type = 'click'
"""


@register("events_view_click_join", oracle=_VC_ORACLE)
def events_view_click_join(spark, sf_dir):
    """Batch twin of the stream-stream interval join: views matched to
    same-user clicks within the following hour. The range predicate
    rides a user_id equi-join, so Catalyst hash-joins on user and
    evaluates the interval as a residual — no broadcast-NL blowup."""
    from wikipedia_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_us"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_us"),
    )
    return (
        v.join(
            c,
            (F.col("v_user") == F.col("c_user"))
            & (F.col("click_us") >= F.col("view_us"))
            & (F.col("click_us") <= F.col("view_us") + 3_600_000_000),
        )
        .select(
            "view_id",
            "click_id",
            F.col("v_user").alias("user_id"),
            "view_us",
            "click_us",
        )
    )


@register("streaming_view_click_join", oracle=_VC_ORACLE)
def streaming_view_click_join(spark, sf_dir):
    """Stream-stream watermarked interval join; availableNow emission
    equals the batch twin exactly, so both share one oracle."""
    return P.run_view_click_join(spark, sf_dir)


@register(
    "streaming_stateful_user_stats",
    oracle="""
SELECT user_id, count(*) AS n_events,
       min(value) AS min_value, max(value) AS max_value
FROM events GROUP BY user_id
""",
)
def streaming_stateful_user_stats(spark, sf_dir):
    """applyInPandasWithState custom stateful operator; order-free
    aggregates make it exactly comparable to batch SQL."""
    return P.run_stateful_user_stats(spark, sf_dir)


@register(
    "streaming_static_enrich",
    oracle=f"""
SELECT n_name, count(*) AS n_events,
       {sql_dec_sum('value', 'total_value')}
FROM events
JOIN customer ON user_id = c_custkey
JOIN nation ON n_nationkey = c_nationkey
GROUP BY n_name
""",
)
def streaming_static_enrich(spark, sf_dir):
    """Stream-static broadcast enrichment (events stream × customer and
    nation dims) with a windowless global agg; must equal the batch
    3-way-join SQL exactly."""
    return P.run_static_enrich(spark, sf_dir).select(
        "n_name", "n_events", "total_value"
    )


from wikipedia_data_pipeline_spark.operators.sampling import (  # noqa: E402
    SQL_DET_HASH as _DH,
)


# The Wald SPRT monitor's oracle and decision layer, shared by the
# streaming deployment below and the batch events_sprt_ab
# (statsdrift_queries): both must give the same rows.
SPRT_ORACLE = f"""
WITH obs AS (
  SELECT epoch_us(ts) // 86400000000 AS day,
         CAST(({_DH.format(col="user_id")}) % 2 AS BIGINT) AS x
  FROM events
  WHERE CAST(({_DH.format(col="((user_id % 1000003) * 23 + 7)")}) % 2 AS BIGINT) = 1
),
daily AS (
  SELECT day, CAST(count(*) AS BIGINT) AS n_day,
         CAST(sum(x) AS BIGINT) AS k_day
  FROM obs GROUP BY day
),
cum AS (
  SELECT day,
         CAST(sum(n_day) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_cum,
         CAST(sum(k_day) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS k_cum
  FROM daily
)
SELECT CAST(day AS BIGINT) AS day, n_cum, k_cum,
       CAST(k_cum * 95310180 + (n_cum - k_cum) * (-105360516) AS DOUBLE)
         / 1000000000 AS llr,
       CASE
         WHEN k_cum * 95310180 + (n_cum - k_cum) * (-105360516)
              >= 2944438979 THEN 'reject_h0'
         WHEN k_cum * 95310180 + (n_cum - k_cum) * (-105360516)
              <= -2944438979 THEN 'accept_h0'
         ELSE 'continue'
       END AS decision
FROM cum
ORDER BY day
"""


def sprt_decisions(daily):
    """Cumulative LLR and decision per day from the treated arm's
    (day, n_day, k_day) counters: both transcendentals are frozen
    nano-nat BIGINT literals, so the running statistic and the
    boundary comparisons against ln(19) are exact integer arithmetic.
    The window runs over the day spine, never over events."""
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        F.sum("n_day").over(w).cast("long").alias("n_cum"),
        F.sum("k_day").over(w).cast("long").alias("k_cum"),
    )
    llr_nano = F.col("k_cum") * F.lit(95310180) + (
        F.col("n_cum") - F.col("k_cum")
    ) * F.lit(-105360516)
    return cum.select(
        "day",
        "n_cum",
        "k_cum",
        (llr_nano.cast("double") / F.lit(1_000_000_000)).alias("llr"),
        F.when(llr_nano >= 2944438979, F.lit("reject_h0"))
        .when(llr_nano <= -2944438979, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    ).orderBy("day")


@register("streaming_sprt_monitor", oracle=SPRT_ORACLE)
def streaming_sprt_monitor(spark, sf_dir):
    """Streaming deployment of the Wald SPRT sequential A/B monitor:
    the treated arm's per-day (n, conversions) counters run as a
    STATEFUL streaming aggregation (streaming.pipeline.
    run_sprt_daily_counts — the state a deployed monitor keeps between
    micro-batches), then the decision layer — cumulative LLR in frozen
    nano-nat BIGINT arithmetic against the ln(19) boundaries — reads
    the day-spine-sized state table as a batch post-pass. Must equal
    events_sprt_ab's batch result row-for-row (identical oracle SQL):
    the streaming counters and the batch GROUP BY see the same events,
    so stream/batch parity of the whole monitor is what is asserted."""
    return sprt_decisions(P.run_sprt_daily_counts(spark, sf_dir))
