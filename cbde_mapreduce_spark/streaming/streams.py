"""Streaming pipelines over the events table.

Batch/stream duality: ``events_stream`` yields the same schema as
``sources.load_table(..., 'events')`` so every batch transformation can be
re-bound to a stream unchanged. Fixture files are read with
``Trigger.AvailableNow`` (bounded backfill) — the same pipeline pointed at a
Kafka/file source runs unbounded.

100 TB posture: tumbling aggregation state is per (window, keys) — bounded
by watermark eviction; ``complete`` output mode is used only for the
bounded-fixture parity check (unbounded deployments use append/update +
watermark, demonstrated in tests/test_streaming.py).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from cbde_mapreduce_spark.session import apply_runtime_conf
from cbde_mapreduce_spark.sources.tables import _canonical_events as _project_events

#: Raw parquet schema of events (ts is TIMESTAMP(MICROS) — the round-3+
#: fixture generation; see sources/tables.py for the dual-generation story).
_RAW_EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with the canonical column set.

    ``{sf_dir}/events.parquet`` may be a single file OR a directory of part
    files (the normal shape at scale — every real table is thousands of
    files). The file-stream source's ``pathGlobFilter`` matches LEAF file
    names only, so the single-file spelling (glob-scoped listing of
    ``sf_dir``) would silently list ZERO files for the directory layout;
    point the stream at the directory itself in that case.
    """
    apply_runtime_conf(spark)
    events_path = os.path.join(sf_dir, "events.parquet")
    reader = spark.readStream.schema(_RAW_EVENTS_SCHEMA).format("parquet")
    if os.path.isdir(events_path):
        raw = reader.option("pathGlobFilter", "*.parquet").load(events_path)
    else:
        # The file stream source requires a directory; scope the listing to
        # the events file with a glob filter.
        raw = reader.option("pathGlobFilter", "events.parquet").load(sf_dir)
    return _project_events(raw)


def events_file_ingest(
    spark: SparkSession, directory: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Incremental directory ingest — the production file-source pattern.

    New parquet files landing in ``directory`` are discovered and processed
    per micro-batch; ``max_files_per_trigger`` bounds each batch (backfill
    throttling). Downstream transforms are identical to ``events_stream``,
    so the batch/stream duality holds for a live landing zone too.

    100 TB posture: the file index is checkpointed state — pair with
    ``cleanSource``/retention in production so the listing stays bounded.
    """
    apply_runtime_conf(spark)
    reader = spark.readStream.schema(_RAW_EVENTS_SCHEMA).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _project_events(reader.load(directory))


#: Public Spark Kafka connector artifact (scala 2.13 build matching pyspark 4.x).
KAFKA_PACKAGE = "org.apache.spark:spark-sql-kafka-0-10_2.13:4.0.0"


def kafka_events_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka-source ingest of JSON-encoded events with the canonical schema.

    Wiring only in this container: the Kafka connector is a JVM package not
    baked in here, so the source is import-guarded — a missing connector
    raises a RuntimeError naming the exact ``spark.jars.packages`` artifact
    instead of an opaque ClassNotFoundException. With the package present the
    returned stream is drop-in equivalent to ``events_stream``.
    """
    apply_runtime_conf(spark)
    try:
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", brokers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
        )
    except Exception as ex:  # AnalysisException: Failed to find data source
        raise RuntimeError(
            "Kafka source unavailable in this Spark session — launch with "
            f'--packages {KAFKA_PACKAGE} (or spark.jars.packages="{KAFKA_PACKAGE}")'
        ) from ex
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), _RAW_EVENTS_SCHEMA).alias("e")
    ).select("e.*")
    return _project_events(parsed)


def run_to_memory(stream: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Run a streaming query to completion (``Trigger.AvailableNow``) into a
    memory sink and return the sink as a table.

    The query's checkpoint is a fresh temp dir, removed once the query has
    terminated: the memory sink holds the rows, and a bounded run has no
    later batch to resume from. The sink's temp view is dropped once the
    returned table has resolved it; the plan keeps the sink itself."""
    sink = f"{name}_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    try:
        (
            stream.writeStream.format("memory")
            .queryName(sink)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
            .awaitTermination()
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    table = stream.sparkSession.table(sink)
    stream.sparkSession.catalog.dropTempView(sink)
    return table


def run_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour counts as a real streaming query, run to completion.

    AvailableNow trigger + complete mode + memory sink; returns the sink as
    a DataFrame. Must produce byte-identical results to the batch twin
    (plans/events_q.py::tumbling_hourly_events) — that equivalence IS the
    streaming correctness check.
    """
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.round(F.col("value") * 100).cast("bigint"))
                / F.lit(100.0),
                2,
            ).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("hour_start"),
            "n",
            "sum_value",
        )
    )
    return run_to_memory(agg, "tumbling", "complete")


def run_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: dropDuplicates over the event stream, then
    per-type distinct-user counts — run to completion as a real stream.

    ``dropDuplicates`` keeps one state row per (user_id, event_type) seen;
    with AvailableNow the backfill is bounded, so state is too. Unbounded
    deployments use ``dropDuplicatesWithinWatermark`` so state is evicted
    after the lateness horizon (demonstrated in tests/test_streaming.py).
    """
    stream = events_stream(spark, sf_dir)
    # NULL user_id is not a user: the count(DISTINCT user_id) oracle
    # excludes NULLs per SQL, but dropDuplicates would keep one NULL-user
    # state row per type and count it (NULL-FK value-parity sweep)
    deduped = stream.filter(F.col("user_id").isNotNull()).dropDuplicates(
        ["user_id", "event_type"]
    )
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    return run_to_memory(agg, "dedup", "complete")


def run_streaming_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) as a real streaming query.

    ``session_window`` state is per (user, open-session) and windows merge
    as late events bridge gaps; with a watermark the closed sessions are
    finalized and evicted (demonstrated in tests/test_streaming.py), so
    state is bounded by the number of concurrently-open sessions, not by
    stream length. Complete mode + AvailableNow for the bounded-fixture
    parity check against the batch twin's lag/cumsum oracle.
    """
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.round(F.col("value") * 100).cast("bigint"))
                / F.lit(100.0),
                2,
            ).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("win_start"),
            F.col("w.end").cast("timestamp_ntz").alias("win_end"),
            "n_events",
            "sum_value",
        )
    )
    return run_to_memory(agg, "session", "complete")


def run_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h width, 15 min slide) as a real streaming query.

    Each event updates 4 overlapping windows' state rows; with a watermark
    (demonstrated in tests/test_streaming.py) closed windows are evicted, so
    state is bounded by (width/slide) · active-window count, not stream
    length. Complete mode + AvailableNow here for the bounded-fixture parity
    check against the batch twin's oracle.
    """
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.round(F.col("value") * 100).cast("bigint"))
                / F.lit(100.0),
                2,
            ).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("win_start"),
            "n",
            "sum_value",
        )
    )
    return run_to_memory(agg, "sliding", "complete")


def run_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream equi+interval join (purchase ⋈ preceding-30-min clicks)
    as a real append-mode streaming query.

    Both sides carry watermarks, so join state is evicted once the event
    time horizon passes — the condition's interval bounds tell the engine
    exactly how long a row can still match. On the bounded fixture
    (one file → one micro-batch) the emitted pairs equal the batch join,
    which is what the oracle checks.
    """
    base = events_stream(spark, sf_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("p_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        events_stream(spark, sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("c_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr("p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL 30 MINUTES AND p_ts"),
    ).select("p_id", "c_id")
    return run_to_memory(joined, "ssjoin", "append")


def run_streaming_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars as a real streaming query, run to completion.

    Open/close inside a streaming aggregation cannot use ordered windows
    (no event-time sort in a stream); min_by/max_by over the orderable
    (ts, event_id) struct express the same first/last-value semantics as a
    pure declarative aggregate, which the streaming engine maintains
    incrementally. Must match the batch twin
    (plans/timeseries.py::ohlc_bars_events) cell-exactly — the deterministic
    (ts, event_id) tiebreak is what makes that equivalence hold.
    """
    stream = events_stream(spark, sf_dir)
    key = F.struct(F.col("ts"), F.col("event_id"))
    agg = (
        stream.groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(
            F.round(F.min_by("value", key), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max_by("value", key), 4).alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(
                F.sum(F.round(F.col("value") * 100).cast("bigint"))
                / F.lit(100.0),
                4,
            ).alias("volume"),
        )
        .select(
            "event_type",
            F.col("w.start").cast("timestamp_ntz").alias("hr"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
            "volume",
        )
    )
    return run_to_memory(agg, "ohlc", "complete")
