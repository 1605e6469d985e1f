"""Structured Streaming layer tests (SURVEY §2.10): keyed windowed
aggregation with watermark, stream-static join, checkpoint-based restart
with changed parallelism (the savepoint-stop-rescale-restore equivalent,
ClientsManager.java:186-221), and progress-metrics collection."""

from __future__ import annotations

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from phoebe_spark.streaming.jobs import (
    run_to_sink,
    sine_rate_source,
    stream_static_join,
    windowed_keyed_agg,
)
from phoebe_spark.streaming.metrics import ProgressMetricsListener
from phoebe_spark.sources.testdata import load_table


@pytest.fixture()
def events_stream_dir(spark, sf_dir, tmp_path):
    """File-source directory holding the events table re-written as
    micro-batch-able parquet with proper micros timestamps."""
    out = str(tmp_path / "events_stream")
    df = load_table(spark, sf_dir, "events")
    df.select(
        F.expr("ts div 1000000000").cast("timestamp").alias("event_time"),
        F.col("event_type").alias("key"),
        "value",
    ).coalesce(2).write.mode("overwrite").parquet(out)
    return out


def _read_stream(spark, path):
    return (
        spark.readStream.schema("event_time TIMESTAMP, key STRING, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def test_windowed_agg_matches_batch(spark, events_stream_dir, tmp_path):
    stream = _read_stream(spark, events_stream_dir)
    result = windowed_keyed_agg(
        stream, window="1 hour", watermark="2 hours",
        aggs={"events": "count", "max_value": "max"},
    )
    q = run_to_sink(result, str(tmp_path / "ck1"), output_mode="append", queryName="winagg")
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM winagg")

    batch = (
        spark.read.parquet(events_stream_dir)
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
    q.stop()


def test_stream_static_join(spark, events_stream_dir, tmp_path):
    stream = _read_stream(spark, events_stream_dir)
    dim = spark.createDataFrame(
        [("click", 1), ("view", 2), ("purchase", 3), ("signup", 4), ("error", 5)],
        "key STRING, campaign_id INT",
    )
    joined = stream_static_join(stream, dim, on="key")
    agg = windowed_keyed_agg(
        joined, key_col="campaign_id", window="6 hours", watermark="12 hours",
        aggs={"events": "count"},
    )
    q = run_to_sink(agg, str(tmp_path / "ck2"), output_mode="append", queryName="joinagg")
    q.awaitTermination(120)
    rows = spark.sql("SELECT DISTINCT campaign_id FROM joinagg").collect()
    assert {r["campaign_id"] for r in rows} <= {1, 2, 3, 4, 5}
    assert rows
    q.stop()


def test_checkpoint_restart_with_new_parallelism(spark, events_stream_dir, tmp_path):
    """Rescale-by-restart: same checkpoint, different shuffle partitions —
    the Spark equivalent of savepoint-stop-restart with a new parallelism
    (state lives in the checkpoint, not the partitioning)."""
    ck = str(tmp_path / "ck3")
    out = str(tmp_path / "out3")

    stream = _read_stream(spark, events_stream_dir)
    result = windowed_keyed_agg(stream, window="1 hour", watermark="2 hours", aggs={"events": "count"})
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    q = run_to_sink(result, ck, fmt="parquet", path=out)
    q.awaitTermination(120)
    q.stop()
    n1 = spark.read.parquet(out).count()

    # restart from the same checkpoint at different parallelism; no new
    # input files -> no duplicate emission (exactly-once restart)
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    stream2 = _read_stream(spark, events_stream_dir)
    result2 = windowed_keyed_agg(stream2, window="1 hour", watermark="2 hours", aggs={"events": "count"})
    q2 = run_to_sink(result2, ck, fmt="parquet", path=out)
    q2.awaitTermination(120)
    q2.stop()
    n2 = spark.read.parquet(out).count()
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    assert n1 > 0
    assert n2 == n1, "restart from checkpoint must not re-emit processed windows"


def test_progress_metrics_listener(spark, events_stream_dir, tmp_path):
    listener = ProgressMetricsListener()
    spark.streams.addListener(listener)
    try:
        stream = _read_stream(spark, events_stream_dir)
        result = windowed_keyed_agg(stream, window="1 hour", watermark="2 hours", aggs={"events": "count"})
        q = run_to_sink(result, str(tmp_path / "ck4"), queryName="metrics1")
        q.awaitTermination(120)
        q.stop()
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


def test_dataset_replay_source(spark):
    """DATASET generator mode: streamed values must come exactly from the
    recorded trace (tiled modulo its length), keyed like the sine mode."""
    import tempfile
    import time as _time

    from phoebe_spark.streaming.jobs import dataset_replay_source, run_to_sink

    trace = spark.createDataFrame(
        [(i, 100.0 + i) for i in range(10)], "timestamp LONG, value DOUBLE"
    )
    src = dataset_replay_source(spark, trace, rows_per_second=500, num_keys=5)
    q = run_to_sink(
        src, tempfile.mkdtemp(), queryName="replay_src",
        fmt="memory", trigger_available_now=False,
    )
    try:
        deadline = _time.time() + 20
        rows = []
        while _time.time() < deadline:
            rows = spark.sql("SELECT * FROM replay_src").collect()
            if len(rows) >= 100:
                break
            _time.sleep(0.5)
    finally:
        q.stop()
    assert len(rows) >= 100, "replay stream produced too few rows"
    allowed = {100.0 + i for i in range(10)}
    assert {r["value"] for r in rows} <= allowed
    assert {r["key"] for r in rows} <= set(range(5))
    # consecutive wall-clock seconds walk the trace, so >1 distinct value
    assert len({r["value"] for r in rows}) > 1


def test_stream_stream_interval_join_matches_batch(spark, events_stream_dir, tmp_path):
    """Stream-stream interval join must equal the identical batch join
    (impressions = all events; conversions = high-value events; match
    within 1 hour after the impression, same key)."""
    from phoebe_spark.streaming.jobs import stream_stream_interval_join

    ck = str(tmp_path / "ck_ssj")

    def build(ldf, rdf):
        return stream_stream_interval_join(
            ldf, rdf,
            left_watermark="2 hours", right_watermark="2 hours", upper="1 hour",
        )

    left_s = _read_stream(spark, events_stream_dir)
    right_s = _read_stream(spark, events_stream_dir).filter(F.col("value") > 90)
    q = run_to_sink(
        build(left_s, right_s).select(
            "key", "event_time_l", "event_time_r", "value_l", "value_r"
        ),
        ck, queryName="ssj",
    )
    q.awaitTermination(180)
    q.stop()
    got = spark.sql("SELECT * FROM ssj")

    left_b = spark.read.parquet(events_stream_dir)
    right_b = spark.read.parquet(events_stream_dir).filter(F.col("value") > 90)
    exp = build(left_b, right_b).select(
        "key", "event_time_l", "event_time_r", "value_l", "value_r"
    )
    assert got.count() == exp.count() > 0
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0
