"""Streaming queries registered against the batch oracle (SURVEY.md §2.10)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cbde_mapreduce_spark.plans.registry import query
from cbde_mapreduce_spark.streaming import run_streaming_tumbling


@query(
    "streaming_tumbling_counts",
    oracle="""
        SELECT date_trunc('hour', ts)   AS hour_start,
               count(*)                 AS n,
               round(sum(round(value * 100)::bigint) / 100.0, 2)     AS sum_value
        FROM events
        GROUP BY 1
    """,
    category="streaming",
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling hourly aggregation executed as a Structured Streaming query
    (AvailableNow backfill, memory sink) — checked against the same batch
    SQL oracle as its batch twin."""
    return run_streaming_tumbling(spark, sf_dir)


@query(
    "streaming_dedup_users",
    oracle="""
        SELECT event_type, count(DISTINCT user_id)::bigint AS n_users
        FROM events
        GROUP BY event_type
    """,
    category="streaming",
)
def streaming_dedup_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful dedup (dropDuplicates on the live stream) with the
    batch COUNT(DISTINCT) as its oracle — the streaming face of the dedup
    family (streaming/streams.py::run_streaming_dedup)."""
    from cbde_mapreduce_spark.streaming import run_streaming_dedup

    return run_streaming_dedup(spark, sf_dir)


@query(
    "streaming_sliding_counts",
    oracle="""
        SELECT make_timestamp(epoch_us(ts)
                 - ((epoch_us(ts) % 900000000 + 900000000) % 900000000))
                 - INTERVAL 15 MINUTE * k.i AS win_start,
               count(*)             AS n,
               round(sum(round(value * 100)::bigint) / 100.0, 2) AS sum_value
        FROM events, (SELECT unnest(range(0, 4)) AS i) k
        GROUP BY 1
    """,
    category="streaming",
)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation executed as a Structured Streaming query
    (streaming/streams.py::run_streaming_sliding) — overlapping-window STATE
    maintained by the engine, checked against the batch multi-emit oracle
    (same SQL as the batch twin sliding_window_events)."""
    from cbde_mapreduce_spark.streaming import run_streaming_sliding

    return run_streaming_sliding(spark, sf_dir)


@query(
    "streaming_session_counts",
    oracle="""
        WITH g AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                          OR lag(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS brk
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
            SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sess
            FROM g
        )
        SELECT user_id,
               min(ts)                          AS win_start,
               max(ts) + INTERVAL 30 MINUTE     AS win_end,
               count(*)                         AS n_events,
               round(sum(round(value * 100)::bigint) / 100.0, 2)             AS sum_value
        FROM s GROUP BY user_id, sess
    """,
    category="streaming",
)
def streaming_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-window aggregation executed as a Structured Streaming query
    (streaming/streams.py::run_streaming_session) — the engine's merging
    session state, checked against the batch lag/cumsum oracle (same SQL as
    the batch twin session_window_events)."""
    from cbde_mapreduce_spark.streaming import run_streaming_session

    return run_streaming_session(spark, sf_dir)


@query(
    "streaming_interval_join",
    oracle="""
        SELECT p.event_id AS p_id, c.event_id AS c_id
        FROM events p JOIN events c
          ON p.user_id = c.user_id
         AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
        WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
    category="streaming",
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join executed as a real append-mode streaming
    query (streaming/streams.py::run_streaming_interval_join) — watermarked
    two-sided join state, checked pair-for-pair against the batch interval
    join in DuckDB."""
    from cbde_mapreduce_spark.streaming.streams import run_streaming_interval_join

    return run_streaming_interval_join(spark, sf_dir)


@query(
    "streaming_stateful_profiles",
    oracle="""
        SELECT user_id, count(*) AS n_events,
               round(sum(round(value * 100)::bigint) / 100.0, 2) AS sum_value
        FROM events GROUP BY user_id
    """,
    category="streaming",
)
def streaming_stateful_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary keyed state via applyInPandasWithState: per-user running
    profiles maintained in the state store across micro-batches
    (streaming/stateful.py::run_stateful_user_profiles). On the bounded
    single-batch backfill each user's final update equals the batch
    aggregate — the DuckDB oracle."""
    from cbde_mapreduce_spark.streaming.stateful import run_stateful_user_profiles

    return run_stateful_user_profiles(spark, sf_dir)


@query(
    "streaming_ohlc_bars",
    oracle="""
        WITH b AS (SELECT event_type, date_trunc('hour', ts) AS hr, ts,
                          event_id, value
                   FROM events),
        r AS (SELECT *,
                     row_number() OVER (PARTITION BY event_type, hr
                                        ORDER BY ts, event_id) AS ra,
                     count(*)     OVER (PARTITION BY event_type, hr) AS ntot
              FROM b)
        SELECT event_type, hr,
               round(max(CASE WHEN ra = 1    THEN value END), 4) AS open,
               round(max(value), 4)                              AS high,
               round(min(value), 4)                              AS low,
               round(max(CASE WHEN ra = ntot THEN value END), 4) AS close,
               count(*)::bigint                                  AS n_events,
               round(sum(round(value * 100)::bigint) / 100.0, 4)                              AS volume
        FROM r
        GROUP BY event_type, hr
    """,
    category="streaming",
)
def streaming_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars maintained by the streaming engine: open/close as
    min_by/max_by over the orderable (ts, event_id) struct — the
    declarative re-expression of first/last-in-event-time that a stream CAN
    maintain incrementally (ordered windows cannot run on a stream).
    Checked against the same row_number batch SQL oracle as the batch twin
    ohlc_bars_events (streaming/streams.py::run_streaming_ohlc).
    """
    from cbde_mapreduce_spark.streaming import run_streaming_ohlc

    return run_streaming_ohlc(spark, sf_dir)


@query(
    "streaming_attribution",
    oracle="""
        WITH ev AS (
            SELECT user_id, ts, event_id, event_type, value,
                   CASE WHEN event_type = 'click'
                        THEN json_extract(props, '$.k')::bigint END AS ck
            FROM events),
        carry AS (
            SELECT user_id, ts, event_type, value,
                   -- (cts, ceid, ck): tied-ts clicks resolve by event
                   -- order, exactly like the stateful kernel's
                   -- (ts_us, event_id) processing order (and the batch
                   -- twin attribution_last_touch's carried struct)
                   max(CASE WHEN event_type = 'click'
                            THEN {'cts': ts, 'ceid': event_id, 'ck': ck} END)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS lc
            FROM ev)
        SELECT user_id, epoch_us(ts)::bigint AS ts_us,
               CASE WHEN lc IS NOT NULL
                     AND lc.cts >= ts - INTERVAL 3 DAY
                    THEN 'ch' || (lc.ck % 4)::varchar
                    ELSE 'organic' END AS channel,
               value
        FROM carry WHERE event_type = 'purchase'
    """,
    category="streaming",
)
def streaming_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-purchase last-touch attribution as a stateful stream
    (streaming/stateful.py::run_stateful_attribution): the latest-click
    carry lives in the state store keyed by user, and every purchase emits
    its attributed channel at arrival (append mode) — the incremental twin
    of attribution_last_touch's retrospective window rollup. On the
    bounded backfill each emitted row equals the batch carry-forward
    computation, which is the DuckDB oracle here (per-purchase rows, not
    the channel rollup, so the state logic itself is value-checked)."""
    from cbde_mapreduce_spark.streaming.stateful import run_stateful_attribution

    return run_stateful_attribution(spark, sf_dir)
