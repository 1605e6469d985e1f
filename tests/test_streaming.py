"""Structured Streaming layer tests (SURVEY §2.10): keyed windowed
aggregation with watermark, stream-static join, checkpoint-based restart
with changed parallelism (the savepoint-stop-rescale-restore equivalent,
ClientsManager.java:186-221), and progress-metrics collection. Finite
streams stage and drain through :mod:`phoebe_spark.streaming.drain`; the
open-ended rate source runs inline on a memory sink."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from phoebe_spark.sources.testdata import load_table
from phoebe_spark.streaming import drain
from phoebe_spark.streaming.jobs import (
    dataset_replay_source,
    sine_rate_source,
    stream_static_join,
    stream_stream_interval_join,
    windowed_keyed_agg,
)
from phoebe_spark.streaming.metrics import ProgressMetricsListener


@pytest.fixture(scope="module")
def events_src(spark, sf_dir):
    """The events table (seconds-resolution event time) staged as two
    micro-batches split at the midpoint of its time range, so the second
    batch holds only later events."""
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("ts div 1000000000").alias("sec"),
        F.col("event_type").alias("key"),
        "value",
    )
    lo, hi = ev.agg(F.min("sec"), F.max("sec")).first()
    staged = ev.select(
        F.col("sec").cast("timestamp").alias("event_time"),
        "key",
        "value",
        F.when(F.col("sec") <= (lo + hi) // 2, 1).otherwise(2).alias("_slice"),
    )
    with drain.scratch("t_streaming_") as work:
        drain.stage(staged, "_slice", f"{work}/src")
        yield f"{work}/src"


def _hourly_counts(spark, src):
    return windowed_keyed_agg(
        drain.replay(spark, src), window="1 hour", watermark="2 hours", aggs={"events": "count"}
    )


def test_windowed_agg_matches_batch(spark, events_src, tmp_path):
    result = windowed_keyed_agg(
        drain.replay(spark, events_src), window="1 hour", watermark="2 hours",
        aggs={"events": "count", "max_value": "max"},
    )
    got = drain.run(result, str(tmp_path), output_mode="append")

    batch = (
        spark.read.parquet(events_src)
        .groupBy(F.window("event_time", "1 hour").alias("win"), "key")
        .agg(F.count(F.lit(1)).alias("events"), F.max("value").alias("max_value"))
        .select(F.col("win.start").alias("window_start"), "key", "events", "max_value")
    )
    # append mode emits only windows below the final watermark; every
    # emitted window must match the batch result exactly
    got_rows = {(r["window_start"], r["key"]): (r["events"], r["max_value"]) for r in got.collect()}
    batch_rows = {(r["window_start"], r["key"]): (r["events"], r["max_value"]) for r in batch.collect()}
    assert got_rows, "no windows emitted"
    for k, v in got_rows.items():
        assert batch_rows[k] == v


def test_stream_static_join(spark, events_src, tmp_path):
    dim = spark.createDataFrame(
        [("click", 1), ("view", 2), ("purchase", 3), ("signup", 4), ("error", 5)],
        "key STRING, campaign_id INT",
    )
    joined = stream_static_join(drain.replay(spark, events_src), dim, on="key")
    agg = windowed_keyed_agg(
        joined, key_col="campaign_id", window="6 hours", watermark="12 hours",
        aggs={"events": "count"},
    )
    rows = drain.run(agg, str(tmp_path), output_mode="append").select("campaign_id").collect()
    assert rows
    assert {r["campaign_id"] for r in rows} <= {1, 2, 3, 4, 5}


def test_checkpoint_restart_with_new_parallelism(spark, events_src, tmp_path):
    """Rescale-by-restart: the same checkpoint drained again at another
    state width — the Spark equivalent of savepoint-stop-restart with a
    new parallelism (state lives in the checkpoint, not the
    partitioning). With no new input the restart emits nothing: every
    processed window stays processed (exactly-once restart)."""
    work = str(tmp_path)
    first = drain.run(
        _hourly_counts(spark, events_src), work, output_mode="append", state_partitions=8
    ).count()
    again = []
    drain.run(
        _hourly_counts(spark, events_src),
        work,
        output_mode="append",
        sink=lambda bdf, _bid: again.extend(bdf.collect()),
        state_partitions=4,
    )
    assert first > 0
    assert again == [], "restart from checkpoint must not re-emit processed windows"


def test_progress_metrics_listener(spark, events_src, tmp_path):
    listener = ProgressMetricsListener()
    spark.streams.addListener(listener)
    try:
        drain.run(_hourly_counts(spark, events_src), str(tmp_path), output_mode="append")
        deadline = time.time() + 10
        while time.time() < deadline and not listener.rows:
            time.sleep(0.2)
        mdf = listener.to_df(spark)
        keys = {r["series_key"] for r in mdf.select("series_key").distinct().collect()}
        assert {"thrRate", "batchDur", "inputRows"} <= keys
    finally:
        spark.streams.removeListener(listener)


def test_sine_rate_source_schema(spark):
    src = sine_rate_source(spark, rows_per_second=10)
    assert src.isStreaming
    assert [f.name for f in src.schema.fields] == ["event_time", "key", "value"]


def test_dataset_replay_source(spark, tmp_path):
    """DATASET generator mode: streamed values must come exactly from the
    recorded trace (tiled modulo its length), keyed like the sine mode."""
    trace = spark.createDataFrame(
        [(i, 100.0 + i) for i in range(10)], "timestamp LONG, value DOUBLE"
    )
    src = dataset_replay_source(spark, trace, rows_per_second=500, num_keys=5)
    q = (
        src.writeStream.format("memory")
        .queryName("replay_src")
        .option("checkpointLocation", str(tmp_path))
        .start()
    )
    try:
        deadline = time.time() + 20
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM replay_src").collect()
            if len(rows) >= 100:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert len(rows) >= 100, "replay stream produced too few rows"
    allowed = {100.0 + i for i in range(10)}
    assert {r["value"] for r in rows} <= allowed
    assert {r["key"] for r in rows} <= set(range(5))
    # consecutive wall-clock seconds walk the trace, so >1 distinct value
    assert len({r["value"] for r in rows}) > 1


def test_stream_stream_interval_join_matches_batch(spark, events_src, tmp_path):
    """Stream-stream interval join must equal the identical batch join
    (impressions = all events; conversions = high-value events; match
    within 1 hour after the impression, same key)."""

    def build(ldf, rdf):
        return stream_stream_interval_join(
            ldf, rdf,
            left_watermark="2 hours", right_watermark="2 hours", upper="1 hour",
        ).select("key", "event_time_l", "event_time_r", "value_l", "value_r")

    left_s = drain.replay(spark, events_src)
    right_s = drain.replay(spark, events_src).filter(F.col("value") > 90)
    got = drain.run(build(left_s, right_s), str(tmp_path), output_mode="append")

    left_b = spark.read.parquet(events_src)
    right_b = spark.read.parquet(events_src).filter(F.col("value") > 90)
    exp = build(left_b, right_b)
    assert got.count() == exp.count() > 0
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0
