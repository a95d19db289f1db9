"""Structured Streaming growth path (SURVEY.md §2.10, P6)."""

from __future__ import annotations

import glob
import os
import tempfile
import uuid

from pyspark.sql import functions as F

from cbde_mapreduce_spark.plans import REGISTRY
from cbde_mapreduce_spark.sources import load_table
from cbde_mapreduce_spark.streaming import (
    events_file_ingest,
    events_stream,
    kafka_events_stream,
    run_streaming_tumbling,
)


def test_stream_matches_batch_tumbling(spark, sf_smoke):
    """The streaming tumbling agg must equal its batch twin exactly. The
    runner removes its checkpoint dir once the query has terminated, and
    the memory sink still serves the rows afterwards."""
    ckpts = os.path.join(tempfile.gettempdir(), "ckpt_*")
    before = set(glob.glob(ckpts))
    stream = run_streaming_tumbling(spark, sf_smoke)
    assert set(glob.glob(ckpts)) <= before
    got = stream.toPandas().sort_values("hour_start").reset_index(drop=True)
    want = (
        REGISTRY["tumbling_hourly_events"].fn(spark, sf_smoke)
        .toPandas()
        .sort_values("hour_start")
        .reset_index(drop=True)
    )
    assert got.equals(want)


def test_watermark_append_mode_emits_closed_windows(spark, sf_smoke, tmp_path):
    """Append mode + watermark: only watermark-closed windows are emitted in
    a bounded run; the emitted subset must agree with the batch result."""
    stream = events_stream(spark, sf_smoke)
    # watermarks require TZ-aware timestamps; session tz is UTC so the cast
    # is instant-preserving
    agg = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("hour_start"), "n")
    )
    sink = f"wm_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    emitted = spark.table(sink).toPandas()
    batch = (
        REGISTRY["tumbling_hourly_events"].fn(spark, sf_smoke)
        .select("hour_start", "n")
        .toPandas()
    )
    assert 0 < len(emitted) <= len(batch)
    merged = emitted.merge(batch, on="hour_start", suffixes=("_s", "_b"))
    assert len(merged) == len(emitted)
    assert (merged.n_s == merged.n_b).all()


def test_stream_stream_interval_join(spark, sf_smoke, tmp_path):
    """Stream-stream equi+interval join with watermarks (append mode):
    every emitted pair must appear in the equivalent batch join."""
    from cbde_mapreduce_spark.sources import load_table

    s = events_stream(spark, sf_smoke).withColumn("ts", F.col("ts").cast("timestamp"))
    purchases = (
        s.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        events_stream(spark, sf_smoke)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("event_id").alias("c_id"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL 30 MINUTES AND p_ts"
        ),
    ).select("p_id", "c_id")
    sink = f"ssj_{uuid.uuid4().hex[:12]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    emitted = spark.table(sink).toPandas()
    ev = load_table(spark, sf_smoke, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("c_id"), F.col("ts").alias("c_ts")
    )
    batch = (
        p.join(
            c,
            F.expr("p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL 30 MINUTES AND p_ts"),
        )
        .select("p_id", "c_id")
        .toPandas()
    )
    assert len(emitted) > 0
    batch_pairs = set(zip(batch.p_id, batch.c_id))
    for pair in zip(emitted.p_id, emitted.c_id):
        assert pair in batch_pairs


def test_incremental_directory_ingest_matches_batch(spark, sf_smoke, tmp_path):
    """Files landing in a directory are consumed over MULTIPLE micro-batches
    (maxFilesPerTrigger=1) with a watermark; the final tumbling aggregation
    must equal the batch twin on the same data exactly."""
    from cbde_mapreduce_spark.session import apply_runtime_conf

    apply_runtime_conf(spark)
    landing = str(tmp_path / "landing")
    # split the fixture into 4 raw-layout files to simulate incremental arrival
    spark.read.parquet(f"{sf_smoke}/events.parquet").repartition(4).write.parquet(landing)
    stream = events_file_ingest(spark, landing, max_files_per_trigger=1)
    agg = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("hour_start"),
            "n",
            "sum_value",
        )
    )
    sink = f"ingest_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches > 1, "expected multiple micro-batches (one file each)"
    got = spark.table(sink).toPandas().sort_values("hour_start").reset_index(drop=True)
    want = (
        REGISTRY["tumbling_hourly_events"].fn(spark, sf_smoke)
        .toPandas()
        .sort_values("hour_start")
        .reset_index(drop=True)
    )
    assert got.equals(want)


def test_kafka_wiring_guarded(spark):
    """Without the Kafka connector jar the source must fail loudly with the
    exact package to add, not an opaque ClassNotFoundException."""
    try:
        df = kafka_events_stream(spark, "localhost:9092", "events")
    except RuntimeError as ex:
        assert "spark-sql-kafka" in str(ex)
    else:
        # connector present: the plan must build with the canonical schema
        assert df.isStreaming and "ts" in df.columns


def test_foreach_batch_parquet_sink(spark, sf_smoke, tmp_path):
    """foreachBatch: the arbitrary-sink escape hatch (MR OutputFormat parity)."""
    out = str(tmp_path / "stream_out")

    def write_batch(df, batch_id):
        df.write.mode("append").parquet(out)

    stream = events_stream(spark, sf_smoke).select("event_id", "user_id", "value")
    q = (
        stream.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(out)
    from cbde_mapreduce_spark.sources import load_table

    assert back.count() == load_table(spark, sf_smoke, "events").count()


def test_streaming_dedup_matches_batch_distinct(spark, sf_smoke):
    """Stateful stream dedup == batch COUNT(DISTINCT)."""
    from cbde_mapreduce_spark.streaming import run_streaming_dedup

    got = run_streaming_dedup(spark, sf_smoke).toPandas().set_index("event_type")
    batch = (
        load_table(spark, sf_smoke, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .toPandas()
        .set_index("event_type")
    )
    assert got.n_users.to_dict() == batch.n_users.to_dict()


def test_drop_duplicates_within_watermark_bounds_state(spark, sf_smoke, tmp_path):
    """dropDuplicatesWithinWatermark: the unbounded-deployment dedup — state
    is evictable past the lateness horizon, and on the bounded fixture (all
    rows inside one run) it must still drop every in-horizon duplicate."""
    stream = events_stream(spark, sf_smoke).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    sink = f"wmdedup_{uuid.uuid4().hex[:12]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    got = spark.table(sink).toPandas()
    n_exact = (
        load_table(spark, sf_smoke, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    # within-watermark dedup can only re-admit a key after the horizon
    # passes; it must never emit fewer than the exact distinct count
    assert n_exact <= len(got)
    assert len(got) <= load_table(spark, sf_smoke, "events").count()


def test_streaming_session_window_matches_batch(spark, sf_smoke, tmp_path):
    """Native session_window on the live stream (update mode, watermark) ==
    the batch session_window twin on the same bounded data."""
    stream = events_stream(spark, sf_smoke).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("win_start"),
            "n_events",
        )
    )
    sink = f"sess_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    got = (
        spark.table(sink)
        .toPandas()
        .sort_values(["user_id", "win_start"])
        .reset_index(drop=True)
    )
    batch = (
        REGISTRY["session_window_events"].fn(spark, sf_smoke)
        .select("user_id", "win_start", "n_events")
        .toPandas()
        .sort_values(["user_id", "win_start"])
        .reset_index(drop=True)
    )
    assert len(got) == len(batch)
    assert (got.user_id == batch.user_id).all()
    assert (got.n_events == batch.n_events).all()


def test_streaming_restart_exactly_once(spark, sf_smoke, tmp_path):
    """Checkpointed file-source restart: a second AvailableNow run over the
    same checkpoint processes ONLY files that landed after the first run —
    no reprocessing, no duplicates in the sink (the exactly-once contract a
    production landing zone depends on)."""
    import glob
    import shutil

    from cbde_mapreduce_spark.session import apply_runtime_conf
    from cbde_mapreduce_spark.streaming.streams import _RAW_EVENTS_SCHEMA

    apply_runtime_conf(spark)
    land = tmp_path / "landing"
    land.mkdir()
    shutil.copy(f"{sf_smoke}/events.parquet", land / "batch1.parquet")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once():
        q = (
            events_file_ingest(spark, str(land))
            .select("event_id", "user_id", "value")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(f"{sf_smoke}/events.parquet").count()
    assert spark.read.parquet(out).count() == n1

    # a new file lands (same rows, shifted ids); restart from the checkpoint
    raw = spark.read.schema(_RAW_EVENTS_SCHEMA).parquet(f"{sf_smoke}/events.parquet")
    raw.withColumn("event_id", F.col("event_id") + 10_000_000).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "b2"))
    shutil.copy(
        glob.glob(str(tmp_path / "b2" / "part-*.parquet"))[0],
        land / "batch2.parquet",
    )
    run_once()

    sink = spark.read.parquet(out)
    assert sink.count() == 2 * n1, "restart reprocessed or dropped a file"
    assert sink.select("event_id").distinct().count() == 2 * n1


def test_stream_static_join_matches_batch(spark, sf_smoke, tmp_path):
    """Stream-static enrichment: the live event stream joins a STATIC
    dimension (per-user total order spend) without watermarks — the static
    side is re-read per micro-batch, planned as a broadcast. Result must
    equal the batch twin exactly."""
    static_dim = (
        load_table(spark, sf_smoke, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
    )
    enriched = (
        events_stream(spark, sf_smoke)
        .join(static_dim, "user_id")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("spend"), 2).alias("sum_spend"),
        )
    )
    sink = f"ss_join_{uuid.uuid4().hex[:12]}"
    q = (
        enriched.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    got = spark.table(sink).toPandas().sort_values("event_type").reset_index(drop=True)
    want = (
        load_table(spark, sf_smoke, "events")
        .join(static_dim, "user_id")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("spend"), 2).alias("sum_spend"),
        )
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    assert got.equals(want), f"\n{got}\nvs\n{want}"


def test_foreach_batch_streaming_merge_upsert(spark, sf_smoke, tmp_path):
    """Streaming CDC-apply: each micro-batch MERGEs into a keyed state table
    via foreachBatch (latest value per user wins by event time) — the
    streaming face of merge_upsert_customers. Final state must equal the
    batch argmax over the whole stream."""
    from pyspark.sql import Window

    state_dir = str(tmp_path / "state")

    def merge_batch(batch_df, batch_id):
        incoming = batch_df.groupBy("user_id").agg(
            F.max_by("value", F.col("ts_ns")).alias("value"),
            F.max("ts_ns").alias("ts_ns"),
        )
        try:
            current = batch_df.sparkSession.read.parquet(state_dir)
            merged = (
                current.unionByName(incoming)
                .groupBy("user_id")
                .agg(
                    F.max_by("value", F.col("ts_ns")).alias("value"),
                    F.max("ts_ns").alias("ts_ns"),
                )
            )
        except Exception:  # first batch: no state yet
            merged = incoming
        merged.write.mode("overwrite").parquet(state_dir + "_next")
        # atomic-ish swap for the test (a real deployment uses a table
        # format's transactional MERGE here)
        import shutil

        shutil.rmtree(state_dir, ignore_errors=True)
        shutil.move(state_dir + "_next", state_dir)

    q = (
        events_stream(spark, sf_smoke)
        .select("user_id", "value", "ts_ns")
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = (
        spark.read.parquet(state_dir)
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("ts_ns"))
    want = (
        load_table(spark, sf_smoke, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "value", "ts_ns")
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert got.equals(want), "streaming merge state diverged from batch argmax"
