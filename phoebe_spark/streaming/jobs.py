"""Structured Streaming equivalents of the reference's monitored jobs.

The Flink jobs Phoebe tunes (SURVEY §2.10; /root/reference/src/main/
resources/baseline.properties:10 ``YahooStreamingBenchmark``,
phoebe.properties:13 ``TopSpeedWindowing``) define the semantics:
Kafka source -> filter/join (static campaign table) -> keyed 10 s windowed
aggregation -> sink, with checkpointing and watermark-based late-data
handling. Kafka itself is transport; these builders work over any streaming
DataFrame, so registry drains and tests drive them with file and rate
sources.

Workload generation mirrors the reference's sine-modulated generators
(execution/Workload.java:56-67; prepare_model.py:24-47): a rate source
whose value column is reshaped by the C4 sine expression.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def sine_rate_source(
    spark: SparkSession,
    rows_per_second: int = 1000,
    amplitude: float = 100_000.0,
    vertical_phase: float = 100_000.0,
    period: int = 7_200,
    noise: float = 0.01,
    seed: int = 42,
    num_keys: int = 100,
) -> DataFrame:
    """Sine-modulated workload stream: rate source -> per-event value =
    ``abs((A*sin(2*pi*t/period) + V) * (1 + N(0, noise)))``, keyed by
    ``value % num_keys`` (the generator's per-key fan-out). Columns:
    (event_time TIMESTAMP, key LONG, value DOUBLE)."""
    rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    t = F.unix_timestamp("timestamp").cast("double")
    base = amplitude * F.sin(F.lit(2 * math.pi) * (t % period) / period) + vertical_phase
    noisy = F.abs(base * (F.lit(1.0) + F.randn(seed) * noise))
    return rate.select(
        F.col("timestamp").alias("event_time"),
        (F.col("value") % num_keys).alias("key"),
        noisy.alias("value"),
    )


def dataset_replay_source(
    spark: SparkSession,
    series: DataFrame,
    rows_per_second: int = 1000,
    num_keys: int = 100,
    value_col: str = "value",
) -> DataFrame:
    """DATASET generator mode (``Graph.java:190-204`` SINE|DATASET;
    ``prepare_model.py:50-72`` replays the recorded CARS trace): each
    wall-clock second draws its value from the recorded 1 Hz trace, tiled
    modulo its length. The trace is indexed once (bounded, driver-side
    count + row_number) and joined to the rate stream as a stream-static
    broadcast join per micro-batch — no stream state, no shuffle of the
    stream. Columns: (event_time TIMESTAMP, key LONG, value DOUBLE)."""
    n = series.count()
    if n == 0:
        # pmod(t, 0) is NULL, so the join would match nothing and the
        # stream would run forever silently emitting zero rows
        raise ValueError("dataset_replay_source: the recorded trace is empty")
    w = Window.orderBy("timestamp")
    indexed = series.select(
        (F.row_number().over(w) - 1).alias("_idx"),
        F.col(value_col).cast("double").alias("_v"),
    )
    rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    t = F.unix_timestamp("timestamp")
    return rate.join(
        F.broadcast(indexed), F.pmod(t, F.lit(n)) == F.col("_idx")
    ).select(
        F.col("timestamp").alias("event_time"),
        (F.col("value") % num_keys).alias("key"),
        F.col("_v").alias("value"),
    )


def windowed_keyed_agg(
    stream: DataFrame,
    key_col: str = "key",
    ts_col: str = "event_time",
    value_col: str = "value",
    window: str = "10 seconds",
    watermark: str = "30 seconds",
    aggs: dict[str, str] | None = None,
) -> DataFrame:
    """Keyed tumbling-window aggregation with watermark — the shared shape
    of both target jobs (ad-counts per campaign per 10 s; per-car windowed
    top speed). ``aggs`` maps output name -> one of count/sum/avg/max/min
    over the value column; default matches both jobs: count + max.

    Scale notes: watermark bounds state (late rows beyond it are dropped —
    the reference monitors exactly this via consumer lag); the aggregation
    state is partitioned by (key, window), the natural uniform key."""
    aggs = aggs or {"events": "count", "max_value": "max"}
    fns = {
        "count": lambda c: F.count(F.lit(1)),
        "sum": lambda c: F.sum(c),
        "avg": lambda c: F.avg(c),
        "max": lambda c: F.max(c),
        "min": lambda c: F.min(c),
    }
    exprs = [fns[kind](value_col).alias(name) for name, kind in aggs.items()]
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), F.col(key_col))
        .agg(*exprs)
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            *aggs.keys(),
        )
    )


def stream_static_join(
    stream: DataFrame, static_dim: DataFrame, on: str, how: str = "inner"
) -> DataFrame:
    """Stream-static equi-join (the ADS job's Redis campaign lookup,
    baseline.properties:25-26). Spark broadcasts the static side per
    micro-batch — no stream state, no shuffle of the stream."""
    return stream.join(F.broadcast(static_dim), on=on, how=how)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "key",
    ts_col: str = "event_time",
    left_watermark: str = "30 seconds",
    right_watermark: str = "30 seconds",
    upper: str = "10 seconds",
    how: str = "inner",
    suffixes: tuple[str, str] = ("_l", "_r"),
) -> DataFrame:
    """Watermarked stream-stream interval join — the canonical streaming
    enrichment shape (impression x click attribution: each left event
    matches right events with the same key inside ``[left.ts, left.ts +
    upper]``, both ends inclusive; q197 (inner) and q218 (left outer) pin
    this against their batch oracles). Both sides carry watermarks plus
    the time-range predicate, which is exactly what lets Spark BOUND THE
    JOIN STATE: a buffered left row is dropped once the right watermark
    passes ``left.ts + upper`` (and vice versa) instead of accumulating
    forever — the stream-stream analog of the windowed-agg state bound
    the reference monitors via consumer lag. State is partitioned by the
    join key, the natural uniform key at scale. Outer variants emit nulls
    only after the watermark proves no match can arrive.

    Value columns are suffixed; output keeps the left timestamps plus the
    matched right timestamp.
    """
    lt, rt = f"{ts_col}{suffixes[0]}", f"{ts_col}{suffixes[1]}"
    l = left.select(
        F.col(key_col),
        F.col(ts_col).alias(lt),
        *[F.col(c).alias(f"{c}{suffixes[0]}") for c in left.columns if c not in (key_col, ts_col)],
    ).withWatermark(lt, left_watermark)
    r = right.select(
        F.col(key_col).alias("_rkey"),
        F.col(ts_col).alias(rt),
        *[F.col(c).alias(f"{c}{suffixes[1]}") for c in right.columns if c not in (key_col, ts_col)],
    ).withWatermark(rt, right_watermark)
    cond = (
        (F.col(key_col) == F.col("_rkey"))
        & (F.col(rt) >= F.col(lt))
        & (F.col(rt) <= F.col(lt) + F.expr(f"INTERVAL {upper}"))
    )
    joined = l.join(r, cond, how)
    # outer variants: an unmatched right row has NULL in the left-side key
    # column — restore it from the right key before dropping the alias, so
    # right_outer/full_outer rows stay attributable
    return joined.withColumn(key_col, F.coalesce(F.col(key_col), F.col("_rkey"))).drop(
        "_rkey"
    )
