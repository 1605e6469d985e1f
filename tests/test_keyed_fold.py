"""The update-mode per-key fold harness (stateful.keyed_fold) and the
sharded quota gate: chunked groups fold in order, state carries across
micro-batches, a null key stays null (in the folds and in the append-mode
operators that emit their key themselves), and the sharded gate admits
exactly what a per-key gate admits."""

from __future__ import annotations

import os
import subprocess
import sys
from datetime import datetime, timedelta

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from phoebe_spark.session import PACKAGE_ROOT
from phoebe_spark.streaming import drain
from phoebe_spark.streaming.stateful import (
    QUOTA_GATE_OUTPUT_SCHEMA,
    QUOTA_GATE_SHARDS,
    first_match_within,
    keyed_cusum,
    keyed_fold,
    keyed_quota_gate,
    streaming_dedup_gate,
)

ARROW_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"
EVENTS = "key STRING, event_time TIMESTAMP, value DOUBLE"
TYPED_EVENTS = "key STRING, event_time TIMESTAMP, event_type STRING"


@pytest.fixture
def small_arrow_chunks(spark):
    """Arrow chunks of 4 rows, so one key's micro-batch arrives split."""
    prev = spark.conf.get(ARROW_BATCH)
    spark.conf.set(ARROW_BATCH, "4")
    yield
    spark.conf.set(ARROW_BATCH, prev)


def _events(spark, rows, schema=EVENTS):
    return spark.createDataFrame(
        [(k, datetime(2024, 1, 1) + timedelta(seconds=int(t)), v) for k, t, v in rows], schema
    )


def _drain(spark, slices, build, output_mode="update"):
    """Stage ``slices`` one micro-batch each, drain ``build(stream)`` and
    return every emitted row."""
    with drain.scratch("t_keyed_fold_") as work:
        src = f"{work}/src"
        drain.stage_slices(slices, src)
        out = drain.run(build(drain.replay(spark, src)), work, output_mode=output_mode)
        return out.collect()


def _cusum(xs, k):
    """The CUSUM recursion ``s = max(0, s + x - k)`` in plain Python."""
    s = 0.0
    for x in xs:
        s = max(0.0, s + x - k)
    return s


def test_split_group_folds_in_order(spark, small_arrow_chunks):
    # 30 rows of one key, written newest first: folded in file order or
    # per-chunk order the CUSUM below comes out different
    vals = [float((7 * i) % 11) for i in range(30)]
    rows = [("a", t, vals[t]) for t in reversed(range(30))]
    got = _drain(spark, [_events(spark, rows)], lambda s: keyed_cusum(s, k=5.0, h=1e9))
    assert [(r.key, r.n_obs) for r in got] == [("a", 30)]
    assert got[0].stat == _cusum(vals, 5.0)
    assert _cusum(vals, 5.0) != _cusum(list(reversed(vals)), 5.0)


def test_state_carries_across_three_batches(spark):
    pdf = pd.DataFrame(
        [(k, t, float((t * 13 + len(k)) % 17)) for k in ("x", "yy") for t in range(24)],
        columns=["key", "t", "value"],
    )
    slices = [
        _events(spark, pdf[(pdf.t >= lo) & (pdf.t < lo + 8)].itertuples(index=False))
        for lo in (0, 8, 16)
    ]
    got = _drain(spark, slices, lambda s: keyed_cusum(s, k=7.0, h=1e9))
    assert sorted(r.n_obs for r in got) == [8, 8, 16, 16, 24, 24]
    # each batch's row carries the statistic of every row folded so far
    for r in got:
        vals = pdf[pdf.key == r.key].sort_values("t")["value"][: r.n_obs]
        assert r.stat == _cusum(vals, 7.0), (r.key, r.n_obs)
    assert len({r.stat for r in got}) > 2


def test_null_key_stays_null(spark):
    rows = [(None, 0, 1.0), ("None", 1, 2.0), (None, 2, 3.0)]
    got = _drain(spark, [_events(spark, rows)], lambda s: keyed_cusum(s, k=0.0, h=1e9))
    assert sorted(((r.key, r.n_obs, r.stat) for r in got), key=repr) == [
        ("None", 1, 2.0),
        (None, 2, 4.0),
    ]

    got = _drain(
        spark,
        [_events(spark, rows)],
        lambda s: streaming_dedup_gate(s, fp_col="key", id_col="value"),
        output_mode="append",
    )
    assert sorted(((r.fp, r.doc_id) for r in got), key=repr) == [("None", "2.0"), (None, "1.0")]

    # key "z" at t=100 lifts the watermark past both match windows, so the
    # finalization batch fires the timers that emit the matches
    typed = [(None, 0, "a"), (None, 5, "b"), ("None", 1, "a"), ("None", 3, "b"), ("z", 100, "c")]
    got = _drain(
        spark,
        [_events(spark, typed, TYPED_EVENTS)],
        lambda s: first_match_within(
            s.withWatermark("event_time", "0 seconds"), window_ms=10_000, a_type="a", b_type="b"
        ),
        output_mode="append",
    )
    assert sorted(((r.key, r.lag_ms) for r in got), key=repr) == [("None", 2000), (None, 5000)]


def _per_key_quota_gate(stream, quota):
    """The quota gate with one counter per key in the state store: the
    oracle the sharded gate must reproduce."""

    def _update(key, pdfs, state: GroupState):
        used = state.get[0] if state.exists else 0
        room = quota - used
        if room <= 0:
            return
        batch = pd.concat(list(pdfs)).sort_values(["ord", "sid"]).head(room)
        state.update((used + len(batch),))
        yield pd.DataFrame(
            {
                "key": [key[0]] * len(batch),
                "seq_id": batch["sid"].tolist(),
                "ord": batch["ord"].tolist(),
                "value": batch["value"].tolist(),
            }
        )

    return stream.groupBy("key").applyInPandasWithState(
        _update,
        outputStructType=QUOTA_GATE_OUTPUT_SCHEMA,
        stateStructType="admitted LONG",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@pytest.mark.parametrize("state_partitions", [1, 8])
def test_keyed_quota_gate_sharded_identical(spark, state_partitions):
    """The gate folds a dict of counters per hash shard: the admitted set
    must be IDENTICAL to the per-key form on the same staged stream,
    including keys that saturate mid-stream, keys that share a shard
    (10 keys over 8 shards), a null key, and cross-batch counter carry.
    At 8 state partitions the shards spread over several Python workers;
    at 1 they share one."""
    keys = ["a", "b", "c", "d", "e", "f", "g", "h", "i", None]
    shard_of = {
        r.key: r.shard
        for r in spark.createDataFrame([(k,) for k in keys], "key STRING")
        .select("key", F.pmod(F.xxhash64("key"), F.lit(QUOTA_GATE_SHARDS)).alias("shard"))
        .collect()
    }
    assert len(set(shard_of.values())) < len(keys)
    slices = [
        spark.createDataFrame(
            [(k, f"{bi}{i:05d}", bi * 100 + i, float(i)) for k in keys for i in range(3)],
            "key STRING, sid STRING, ord LONG, value DOUBLE",
        )
        for bi in range(3)
    ]
    gates = {
        "sharded": lambda s: keyed_quota_gate(
            s, quota=5, key_col="key", id_col="sid", ord_col="ord"
        ),
        "per_key": lambda s: _per_key_quota_gate(s, quota=5),
    }
    results = {}
    with drain.scratch("t_quota_") as work:
        drain.stage_slices(slices, f"{work}/src")
        for name, gate in gates.items():
            out = drain.run(
                gate(drain.replay(spark, f"{work}/src")),
                f"{work}/{name}",
                output_mode="append",
                state_partitions=state_partitions,
            )
            results[name] = {(r.key, r.seq_id, r.ord, r.value) for r in out.collect()}
    # quota 5 on 3x3 rows/key: saturation happens inside batch 2 for
    # every key — the carried counter decides the cut in both forms
    assert results["sharded"] == results["per_key"]
    assert len(results["per_key"]) == 5 * len(keys)
    assert sum(1 for r in results["per_key"] if r[0] is None) == 5


def test_fold_input_dtypes_are_pinned(spark, small_arrow_chunks):
    """The pandas dtypes a fold receives, per call: a nullable bigint with
    nulls arrives as float64, an all-NA chunk concatenated with a valued
    one keeps the valued dtype's NA form, and an empty micro-batch calls
    no fold. A later pandas or pyspark that changes any of them fails
    here, not in a fold's arithmetic."""
    schema = "key STRING, i BIGINT, x DOUBLE, s STRING, ts TIMESTAMP"
    t = datetime(2024, 1, 1)

    def fold(key, carried, batch):
        dtypes = ",".join(f"{c}:{d}" for c, d in batch.dtypes.items())
        (calls,) = carried
        return (calls + 1,), pd.DataFrame(
            {"key": [key], "call": [calls + 1], "n": [len(batch)], "dtypes": [dtypes]}
        )

    slices = [
        spark.createDataFrame(
            [("a", 1, 0.5, "u", t), ("a", 2, 1.5, "v", t), ("a", 3, 2.5, "w", t)]
            + [("b", None, None, None, None)] * 2,
            schema,
        ),
        spark.createDataFrame([], schema),
        # 4-row Arrow chunks: the first chunk of key a is all-NA in i, x, s and ts
        spark.createDataFrame(
            [("a", None, None, None, None)] * 4 + [("a", 4, 3.5, "x", t)] * 2, schema
        ),
    ]
    got = _drain(
        spark,
        slices,
        lambda s: keyed_fold(
            s, fold, (0,), "key STRING, call LONG, n LONG, dtypes STRING", "calls LONG"
        ),
    )
    valued = "key:object,i:int64,x:float64,s:object,ts:datetime64[ns]"
    with_na = "key:object,i:float64,x:float64,s:object,ts:datetime64[ns]"
    assert sorted(tuple(r) for r in got) == [
        ("a", 1, 3, valued),
        ("a", 2, 6, with_na),
        ("b", 1, 2, with_na),
    ]


WORKER_PATH_DRAIN = """
import sys
sys.path.insert(0, {root!r})
from phoebe_spark.session import get_spark
from phoebe_spark.streaming import drain, stateful

spark = get_spark("t-worker-path", shuffle_partitions=1)
rows = spark.createDataFrame([("a", "x"), ("a", "y"), ("a", "x")], "key STRING, item STRING")
with drain.scratch("t_worker_path_") as work:
    drain.stage_slices([rows], work + "/src")
    hh = stateful.keyed_heavy_hitters(drain.replay(spark, work + "/src"), k=2)
    print(sorted(tuple(r) for r in drain.run(hh, work, output_mode="update").collect()))
spark.stop()
"""


def test_fold_runs_from_outside_the_checkout(tmp_path):
    """A handler that unpickles a phoebe_spark reference on the Python
    worker (keyed_heavy_hitters calls mg_update) runs when the process
    starts in another directory with only the driver's sys.path set."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", PHOEBE_DRIVER_MEM="1g")
    done = subprocess.run(
        [sys.executable, "-c", WORKER_PATH_DRAIN.format(root=PACKAGE_ROOT)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert done.stdout.splitlines()[-1] == "[('a', 'x', 2, 3), ('a', 'y', 1, 3)]"
