"""The streaming drain harness (phoebe_spark.streaming.drain): ordered
slice replay, the scoped state-partition override, scratch cleanup, the
timeout path, and the native-aggregate drains against their oracles."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from phoebe_spark.streaming import drain
from test_oracle_parity import assert_matches_oracle, ddb  # noqa: F401  (ddb is a fixture)

PARTS = "spark.sql.shuffle.partitions"


def _stream(spark, src_dir):
    return spark.readStream.schema("id LONG").option("maxFilesPerTrigger", 1).parquet(src_dir)


@pytest.fixture
def session_parts(spark):
    """A session shuffle width distinct from both drain widths, restored after."""
    prev = spark.conf.get(PARTS)
    spark.conf.set(PARTS, "13")
    yield "13"
    spark.conf.set(PARTS, prev)


def test_slices_replay_in_order_one_batch_each(spark, session_parts):
    seen = []

    def sink(bdf, bid):
        seen.append((bid, sorted(r.id for r in bdf.collect()), bdf.sparkSession.conf.get(PARTS)))

    with drain.scratch("t_drain_") as work:
        src = f"{work}/src"
        # written out of id order: replay must follow the slice order
        drain.stage_slices([spark.range(20, 23), spark.range(0, 2), spark.range(10, 14)], src)
        assert drain.run(_stream(spark, src), work, output_mode="append", sink=sink) is None
        out = drain.run(_stream(spark, src), f"{work}/second", output_mode="append")
        assert sorted(r.id for r in spark.read.parquet(out).collect()) == [
            0, 1, 10, 11, 12, 13, 20, 21, 22
        ]
    assert seen == [
        (0, [20, 21, 22], "1"),
        (1, [0, 1], "1"),
        (2, [10, 11, 12, 13], "1"),
    ]
    assert spark.conf.get(PARTS) == session_parts
    assert not os.path.exists(work)


def test_explicit_state_partitions_reach_the_sink(spark, session_parts):
    seen = []

    def sink(bdf, bid):
        # a stateful sink must read every partition, or the commit fails
        rows = sorted((r.k, r["count"]) for r in bdf.collect())
        seen.append((bid, bdf.sparkSession.conf.get(PARTS), bdf.rdd.getNumPartitions(), rows))

    with drain.scratch("t_drain_") as work:
        drain.stage_slices([spark.range(3)], f"{work}/src")
        grouped = _stream(spark, f"{work}/src").groupBy((F.col("id") % 2).alias("k")).count()
        drain.run(grouped, work, output_mode="complete", sink=sink, state_partitions=8)
    assert seen == [(0, "8", 8, [(0, 2), (1, 1)])]
    assert spark.conf.get(PARTS) == session_parts


def test_failing_sink_restores_conf_and_removes_scratch(spark, session_parts):
    def sink(bdf, bid):
        raise RuntimeError("sink failed")

    with pytest.raises(StreamingQueryException):
        with drain.scratch("t_drain_") as work:
            drain.stage_slices([spark.range(3)], f"{work}/src")
            drain.run(_stream(spark, f"{work}/src"), work, output_mode="append", sink=sink)
    assert spark.conf.get(PARTS) == session_parts
    assert not os.path.exists(work)
    assert spark.streams.active == []


def test_timeout_stops_the_query(spark, monkeypatch):
    monkeypatch.setattr(drain, "DRAIN_TIMEOUT_S", 1)

    def sink(bdf, bid):
        time.sleep(3)

    with drain.scratch("t_drain_") as work:
        drain.stage_slices([spark.range(3)], f"{work}/src")
        with pytest.raises(TimeoutError):
            drain.run(_stream(spark, f"{work}/src"), work, output_mode="append", sink=sink)
    assert spark.streams.active == []


def test_latest_keeps_largest_order_per_key(spark):
    states = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 3, 30.0), ("a", 2, 20.0), ("b", 1, 5.0)], "key STRING, n INT, v DOUBLE"
    )
    got = {r.key: (r.n, r.v) for r in drain.latest(states).collect()}
    assert got == {"a": (3, 30.0), "b": (1, 5.0)}
    assert drain.latest(states).columns == ["key", "n", "v"]


@pytest.mark.parametrize(
    "name",
    [
        "q324_streaming_psi_drain",
        "q353_streaming_cms_drain",
        "q415_streaming_moments_drain",
        "q433_streaming_hll_drain",
    ],
)
def test_native_aggregate_drains_match_oracle(name, spark, sf_dir, ddb):
    """The drains whose state is a native streaming sum or max (complete
    mode) still match their DuckDB oracle."""
    assert_matches_oracle(name, spark, sf_dir, ddb)
