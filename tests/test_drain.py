"""The streaming drain harness (phoebe_spark.streaming.drain): the one
staging write (numeric slice order, empty slices kept, row order kept,
no slice column), ordered slice replay with the staged files' own schema,
the frozen in-memory result, the state-partition override scoped to the
stream's own session, scratch cleanup, the timeout path, and the
native-aggregate drains against their oracles."""

from __future__ import annotations

import glob
import os
import tempfile
import time
from datetime import datetime
from decimal import Decimal

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from phoebe_spark.queries import QUERIES
from phoebe_spark.streaming import drain
from test_oracle_parity import assert_matches_oracle, ddb  # noqa: F401  (ddb is a fixture)

PARTS = "spark.sql.shuffle.partitions"
TYPED = "d DECIMAL(18,4), ts TIMESTAMP, i INT, b BIGINT, s STRING, x DOUBLE"
# 0..599 in a scrambled order (7919 is prime to 600)
SCRAMBLED = [(i * 7919) % 600 for i in range(600)]


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
        # the batch runs at the drain width; the caller's session keeps its own
        widths = (bdf.sparkSession.conf.get(PARTS), spark.conf.get(PARTS))
        seen.append((bid, sorted(r.id for r in bdf.collect()), widths))

    with drain.scratch("t_drain_") as work:
        src = f"{work}/src"
        # written out of id order: replay must follow the slice order
        drain.stage_slices([spark.range(20, 23), spark.range(0, 2), spark.range(10, 14)], src)
        assert drain.run(drain.replay(spark, src), work, output_mode="append", sink=sink) is None
        out = drain.run(drain.replay(spark, src), f"{work}/second", output_mode="append")
    # append mode returns every batch's rows, frozen: the scratch dir is gone
    assert sorted(r.id for r in out.collect()) == [0, 1, 10, 11, 12, 13, 20, 21, 22]
    # bound to the caller's session, not to the stream's clone at the drain width
    assert out._jdf.sparkSession().conf().get(PARTS) == session_parts
    assert seen == [
        (0, [20, 21, 22], ("1", session_parts)),
        (1, [0, 1], ("1", session_parts)),
        (2, [10, 11, 12, 13], ("1", session_parts)),
    ]
    assert spark.conf.get(PARTS) == session_parts
    assert not os.path.exists(work)


def _batches(spark, src, work):
    """Drain the staged ``src`` and return each micro-batch's rows, in order."""
    seen = []
    drain.run(
        drain.replay(spark, src),
        work,
        output_mode="append",
        sink=lambda bdf, bid: seen.append([tuple(r) for r in bdf.collect()]),
    )
    return seen


def test_an_empty_slice_stays_its_own_micro_batch(spark):
    with drain.scratch("t_drain_") as work:
        src = f"{work}/src"
        drain.stage_slices([spark.range(3), spark.range(0), spark.range(5, 7), spark.range(0)], src)
        assert _batches(spark, src, work) == [[(0,), (1,), (2,)], [], [(5,), (6,)], []]


def test_twelve_slices_replay_in_numeric_order(spark):
    with drain.scratch("t_drain_") as work:
        src = f"{work}/src"
        # slice 10 sorts before slice 2 as a string
        drain.stage_slices([spark.range(i, i + 1) for i in range(12)], src)
        assert _batches(spark, src, work) == [[(i,)] for i in range(12)]


def test_stage_keeps_row_order_inside_a_slice_and_drops_the_slice_column(spark):
    # interleaved over 12 slices
    frame = spark.createDataFrame([(i, i % 12) for i in SCRAMBLED], "id BIGINT, s INT")
    with drain.scratch("t_drain_") as work:
        src = f"{work}/src"
        drain.stage(frame, "s", src)
        assert drain.replay(spark, src).columns == ["id"]
        assert _batches(spark, src, work) == [
            [(i,) for i in SCRAMBLED if i % 12 == s] for s in range(12)
        ]


def test_stage_slices_keeps_row_order_and_drops_its_slice_column(spark):
    frames = [
        spark.createDataFrame([(i,) for i in SCRAMBLED if i % 3 == r], "id BIGINT") for r in range(3)
    ]
    with drain.scratch("t_drain_") as work:
        src = f"{work}/src"
        drain.stage_slices(frames, src)
        assert drain.replay(spark, src).columns == ["id"]
        assert _batches(spark, src, work) == [[(i,) for i in SCRAMBLED if i % 3 == r] for r in range(3)]


def test_explicit_state_partitions_reach_the_sink(spark, session_parts):
    seen = []

    def sink(bdf, bid):
        # a stateful sink must read every partition, or the commit fails
        rows = sorted((r.k, r["count"]) for r in bdf.collect())
        seen.append((bid, bdf.sparkSession.conf.get(PARTS), bdf.rdd.getNumPartitions(), rows))

    with drain.scratch("t_drain_") as work:
        drain.stage_slices([spark.range(3)], f"{work}/src")
        grouped = drain.replay(spark, f"{work}/src").groupBy((F.col("id") % 2).alias("k")).count()
        drain.run(grouped, work, output_mode="complete", sink=sink, state_partitions=8)
    assert seen == [(0, "8", 8, [(0, 2), (1, 1)])]
    assert spark.conf.get(PARTS) == session_parts


def test_failing_sink_restores_conf_and_removes_scratch(spark, session_parts):
    def sink(bdf, bid):
        raise RuntimeError("sink failed")

    with pytest.raises(StreamingQueryException):
        with drain.scratch("t_drain_") as work:
            drain.stage_slices([spark.range(3)], f"{work}/src")
            drain.run(drain.replay(spark, f"{work}/src"), work, output_mode="append", sink=sink)
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
            drain.run(drain.replay(spark, f"{work}/src"), work, output_mode="append", sink=sink)
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


def test_complete_mode_returns_only_the_last_batch(spark):
    with drain.scratch("t_drain_") as work:
        src = f"{work}/src"
        drain.stage_slices([spark.range(0, 4), spark.range(10, 13), spark.range(20, 22)], src)
        counts = drain.replay(spark, src).groupBy((F.col("id") % 2).alias("k")).count()
        persisted = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
        out = drain.run(counts, work, output_mode="complete")
        # the replaced batches' blocks are dropped
        assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == persisted + 1
    # the final state snapshot only: 9 ids, not 2 + 2 + 2 rows of running counts
    assert sorted((r.k, r["count"]) for r in out.collect()) == [(0, 5), (1, 4)]


def test_update_mode_returns_every_batch(spark):
    with drain.scratch("t_drain_") as work:
        src = f"{work}/src"
        drain.stage_slices([spark.range(0, 2), spark.range(2, 3), spark.range(4, 6)], src)
        counts = drain.replay(spark, src).groupBy((F.col("id") % 2).alias("k")).count()
        out = drain.run(counts, work, output_mode="update")
        # each batch emits only its updated keys; latest keeps the newest
        assert sorted((r.k, r["count"]) for r in out.collect()) == [
            (0, 1), (0, 2), (0, 3), (1, 1), (1, 2)
        ]
        assert sorted(
            (r.k, r["count"]) for r in drain.latest(out, key="k", order="count").collect()
        ) == [(0, 3), (1, 2)]


def test_frozen_result_outlives_its_scratch_dir(spark):
    with drain.scratch("t_drain_") as work:
        drain.stage_slices([spark.range(5)], f"{work}/src")
        out = drain.run(drain.replay(spark, f"{work}/src"), work, output_mode="append")
    assert not os.path.exists(work)
    assert sorted(r.id for r in out.filter("id > 1").collect()) == [2, 3, 4]


def test_replay_keeps_the_staged_types_one_batch_per_file(spark):
    rows = [
        (Decimal("1.2345"), datetime(2024, 1, 1, 0, 0, 1), 1, 2**40, "a", 0.5),
        (Decimal("-7.0001"), datetime(2024, 1, 1, 0, 0, 2), -3, -1, "bb", 1e-300),
    ]
    seen = []
    with drain.scratch("t_drain_") as work:
        drain.stage_slices([spark.createDataFrame([r], TYPED) for r in rows], f"{work}/src")
        stream = drain.replay(spark, f"{work}/src")
        assert stream.dtypes == [
            ("d", "decimal(18,4)"),
            ("ts", "timestamp"),
            ("i", "int"),
            ("b", "bigint"),
            ("s", "string"),
            ("x", "double"),
        ]
        drain.run(
            stream, work, output_mode="append", sink=lambda bdf, bid: seen.append(bdf.collect())
        )
    assert [[tuple(r) for r in batch] for batch in seen] == [[rows[0]], [rows[1]]]


def test_stage_slices_refuses_a_slice_of_another_schema(spark):
    with drain.scratch("t_drain_") as work:
        widened = spark.range(2).select((F.col("id").cast("decimal(18,4)") + 1).alias("id"))
        named = r"slice 3 .*decimal\(19,4\).*slice 1 .*decimal\(18,4\)"
        with pytest.raises(ValueError, match=named):
            drain.stage_slices(
                [
                    spark.range(2).select(F.col("id").cast("decimal(18,4)").alias("id")),
                    spark.range(1).select(F.col("id").cast("decimal(18,4)").alias("id")),
                    widened,
                    spark.range(3).select(F.col("id").cast("string").alias("id")),
                ],
                f"{work}/src",
            )


def test_stage_slices_refuses_no_slices():
    with drain.scratch("t_drain_") as work:
        with pytest.raises(ValueError, match="no slices to stage"):
            drain.stage_slices([], f"{work}/src")
        assert not os.path.exists(f"{work}/src")


def test_q50_leaves_no_profile_store_behind(spark, sf_dir):
    pattern = os.path.join(tempfile.gettempdir(), "phoebe_store_*")
    before = set(glob.glob(pattern))
    out = QUERIES["q50_profile_store"](spark, sf_dir)
    assert set(glob.glob(pattern)) == before
    assert out.count() > 0
