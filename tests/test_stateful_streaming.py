"""applyInPandasWithState operator: per-key EWMA must match the batch
pandas ewm(adjust=False) result after the stream drains, and state must
persist across batches (maxFilesPerTrigger=1 forces multiple batches)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from phoebe_spark.streaming.jobs import run_to_sink
from phoebe_spark.streaming.stateful import keyed_ewma
from phoebe_spark.sources.testdata import load_table


def test_keyed_ewma_matches_batch(spark, sf_dir, tmp_path):
    src = str(tmp_path / "stream_src")
    df = load_table(spark, sf_dir, "events")
    # range-partition by time so file order == event-time order: EWMA is
    # order-sensitive, and micro-batches replay files in order
    # microsecond timestamps (unique per key -> total fold order), and the
    # three time slices written sequentially: the file stream replays files
    # in modification-time order, so slice order must match time order
    import time as _time

    base = df.select(
        F.expr("timestamp_micros(ts div 1000)").alias("event_time"),
        F.col("event_type").alias("key"),
        "value",
    )
    bounds = base.selectExpr(
        "percentile(CAST(event_time AS DOUBLE), 0.33) b1",
        "percentile(CAST(event_time AS DOUBLE), 0.66) b2",
    ).collect()[0]
    slices = [
        base.filter(F.col("event_time").cast("double") <= bounds["b1"]),
        base.filter(
            (F.col("event_time").cast("double") > bounds["b1"])
            & (F.col("event_time").cast("double") <= bounds["b2"])
        ),
        base.filter(F.col("event_time").cast("double") > bounds["b2"]),
    ]
    for s in slices:
        s.coalesce(1).sortWithinPartitions("event_time").write.mode("append").parquet(src)
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema("event_time TIMESTAMP, key STRING, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = keyed_ewma(stream, alpha=0.3)
    q = run_to_sink(out, str(tmp_path / "ck"), output_mode="update", queryName="ewma_q")
    q.awaitTermination(120)
    q.stop()

    # last emitted row per key carries the final folded state
    got = (
        spark.sql("SELECT * FROM ewma_q")
        .withColumn("_rn", F.row_number().over(
            __import__("pyspark.sql.window", fromlist=["Window"]).Window
            .partitionBy("key").orderBy(F.col("n_obs").desc())
        ))
        .filter("_rn = 1")
        .collect()
    )
    got_map = {r["key"]: (r["ewma"], r["n_obs"]) for r in got}

    pdf = spark.read.parquet(src).toPandas().sort_values(["key", "event_time"])
    for key, grp in pdf.groupby("key"):
        expected = grp["value"].ewm(alpha=0.3, adjust=False).mean().iloc[-1]
        ewma, n = got_map[key]
        assert n == len(grp)
        assert ewma == pytest.approx(expected, rel=1e-9), key


def test_keyed_cusum_matches_batch(spark, tmp_path):
    """Streaming CUSUM folded across 3 micro-batches must equal the batch
    prefix-sum closed form on the same data."""
    import time as _time

    from phoebe_spark.streaming.stateful import keyed_cusum
    from phoebe_spark.timeseries import anomaly as ts_anom

    import numpy as np

    rng = np.random.default_rng(5)
    rows = []
    for key, drift in (("a", 0.0), ("b", 30.0)):
        vals = rng.exponential(50.0, size=90) + drift
        rows += [(key, i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "key STRING, seq LONG, value DOUBLE").withColumn(
        "event_time", F.expr("timestamp_seconds(1700000000 + seq)")
    ).select("event_time", "key", "value", "seq")

    src = str(tmp_path / "cusum_src")
    for lo, hi in ((0, 30), (30, 60), (60, 90)):
        df.filter((F.col("seq") >= lo) & (F.col("seq") < hi)).coalesce(
            1
        ).sortWithinPartitions("event_time").drop("seq").write.mode("append").parquet(src)
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema("event_time TIMESTAMP, key STRING, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = keyed_cusum(stream, k=60.0, h=150.0)
    q = run_to_sink(out, str(tmp_path / "cusum_ck"), output_mode="update", queryName="cusum_q")
    q.awaitTermination(120)
    q.stop()

    got = (
        spark.sql("SELECT * FROM cusum_q")
        .withColumn(
            "_rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
                    "key"
                ).orderBy(F.col("n_obs").desc())
            ),
        )
        .filter(F.col("_rn") == 1)
        .collect()
    )
    batch = (
        ts_anom.cusum(
            spark.createDataFrame(rows, "key STRING, seq LONG, value DOUBLE"),
            "key",
            "seq",
            "value",
            k=60.0,
            h=150.0,
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
                    "key"
                ).orderBy(F.col("seq").desc())
            ),
        )
        .filter(F.col("_rn") == 1)
        .collect()
    )
    bmap = {r.key: r for r in batch}
    assert len(got) == 2
    for r in got:
        assert r.n_obs == 90
        assert r.stat == pytest.approx(bmap[r.key].stat, abs=1e-9)
        assert r.alarm == bmap[r.key].alarm
    # the drifted key should actually be alarming
    assert bmap["b"].alarm


def test_keyed_heavy_hitters_misra_gries_guarantee(spark, tmp_path):
    """Streaming Misra-Gries across 3 micro-batches: every item with true
    frequency > n/k must be tracked, every reported counter must be a
    lower bound within n/k of the true count, and state must be capped
    at k entries."""
    import collections
    import time as _time

    from pyspark.sql.window import Window

    from phoebe_spark.streaming.stateful import keyed_heavy_hitters

    # skewed item stream: 'hot0'..'hot2' dominate, 60 unique tail items
    rows = []
    seq = 0
    for rep, batchno in ((0, 0), (1, 1), (2, 2)):
        for i in range(100):
            item = f"hot{i % 3}" if i % 2 == 0 else f"tail{batchno}_{i}"
            rows.append((batchno, seq, "s", item))
            seq += 1
    df = spark.createDataFrame(rows, "b LONG, seq LONG, key STRING, item STRING")

    src = str(tmp_path / "hh_src")
    for b in (0, 1, 2):
        df.filter(F.col("b") == b).coalesce(1).sortWithinPartitions("seq").select(
            "key", "item"
        ).write.mode("append").parquet(src)
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema("key STRING, item STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    k = 8
    out = keyed_heavy_hitters(stream, k=k)
    q = run_to_sink(out, str(tmp_path / "hh_ck"), output_mode="update", queryName="hh_q")
    q.awaitTermination(120)
    q.stop()

    final = (
        spark.sql("SELECT * FROM hh_q")
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("key", "item").orderBy(F.col("n_total").desc())
            ),
        )
        .filter("_rn = 1")
        .collect()
    )
    # keep only the rows from the LAST summary (max n_total)
    n = max(r["n_total"] for r in final)
    summary = {r["item"]: r["count_lb"] for r in final if r["n_total"] == n}
    true = collections.Counter(item for _, _, _, item in rows)
    assert n == len(rows)
    assert len(summary) <= k
    thresh = n / k
    for item, cnt in true.items():
        if cnt > thresh:
            assert item in summary, f"frequent item {item} lost"
    for item, lb in summary.items():
        assert lb <= true[item]
        assert lb >= true[item] - thresh


def test_keyed_heavy_hitters_checkpoint_restart(spark, tmp_path):
    """The Misra-Gries state must round-trip through a checkpointed
    stop-and-restart exactly once: a stopped-and-restarted run must
    produce the identical summary to a same-checkpoint-cadence run that
    never changed session confs. Note on rescaling: Spark PINS
    spark.sql.shuffle.partitions from the checkpoint's offset metadata on
    restart (state partitioning is fixed at query creation), so run A's
    conf.set(4) before the restart deliberately exercises that the pinned
    value wins and state is re-loaded correctly regardless — rescaling
    EXECUTORS is what's free in this model, not state partitions."""
    import time as _time

    from pyspark.sql.window import Window

    from phoebe_spark.streaming.stateful import keyed_heavy_hitters

    rows = []
    for batch in (0, 1):
        for i in range(120):
            item = f"hot{i % 2}" if i % 3 != 2 else f"tail{batch}_{i}"
            rows.append((batch, "s", item))
    df = spark.createDataFrame(rows, "b LONG, key STRING, item STRING")

    def _summary(src_dir, ck, out_dir, batches, parts):
        for bi, b in enumerate(batches):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts[bi]))
            df.filter(F.col("b") == b).coalesce(1).select("key", "item").write.mode(
                "append"
            ).parquet(src_dir)
            stream = (
                spark.readStream.schema("key STRING, item STRING")
                .option("maxFilesPerTrigger", 1)
                .parquet(src_dir)
            )
            out = keyed_heavy_hitters(stream, k=6)
            # memory sink cannot recover from a checkpoint; foreachBatch can
            q = (
                out.writeStream.outputMode("update")
                .foreachBatch(
                    lambda bdf, _bid: bdf.write.mode("append").parquet(out_dir)
                )
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            q.stop()
            _time.sleep(0.2)
        final = (
            spark.read.parquet(out_dir)
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("key", "item").orderBy(F.col("n_total").desc())
                ),
            )
            .filter("_rn = 1")
            .collect()
        )
        n = max(r["n_total"] for r in final)
        return n, {r["item"]: r["count_lb"] for r in final if r["n_total"] == n}

    orig_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # run A: batch 0 at 8 partitions, stop, restart for batch 1 with a
        # conflicting conf.set(4) that the checkpoint metadata must override
        n_a, sum_a = _summary(
            str(tmp_path / "srcA"), str(tmp_path / "ckA"), str(tmp_path / "outA"), [0, 1], [8, 4]
        )
        # run B: same batch cadence, no conf change
        n_b, sum_b = _summary(
            str(tmp_path / "srcB"), str(tmp_path / "ckB"), str(tmp_path / "outB"), [0, 1], [8, 8]
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig_parts)

    assert n_a == n_b == len(rows)
    assert sum_a == sum_b, (sum_a, sum_b)


def test_keyed_quota_gate_cross_batch_counter(spark, tmp_path):
    """Quota gate: admitted set equals the batch row_number()<=quota
    answer, with keys that SATURATE mid-stream (the carried counter, not
    single-batch truncation, decides the cut) and keys that never do."""
    import os

    src = str(tmp_path / "quota_src")
    os.makedirs(src)
    # key 'a': 3 rows/batch x 3 batches = 9 rows, quota 5 -> cut in batch 2
    # key 'b': 1 row/batch  = 3 rows, never saturates
    rows_by_batch = [
        [("a", i, float(i)) for i in range(3)] + [("b", 100, 1.0)],
        [("a", 10 + i, float(10 + i)) for i in range(3)] + [("b", 101, 2.0)],
        [("a", 20 + i, float(20 + i)) for i in range(3)] + [("b", 102, 3.0)],
    ]
    for bi, rows in enumerate(rows_by_batch):
        df = spark.createDataFrame(
            [(k, f"{i:05d}", i, v) for k, i, v in rows],
            "key string, sid string, ord long, value double",
        )
        df.coalesce(1).write.parquet(f"{str(tmp_path)}/stage{bi}")
        import glob as _glob
        import shutil as _shutil

        (part,) = _glob.glob(f"{str(tmp_path)}/stage{bi}/part-*.parquet")
        dst = f"{src}/{bi:03d}.parquet"
        _shutil.copyfile(part, dst)
        os.utime(dst, (1_000_000_000 + 10 * bi, 1_000_000_000 + 10 * bi))

    from phoebe_spark.streaming.stateful import keyed_quota_gate

    stream = (
        spark.readStream.schema("key STRING, sid STRING, ord LONG, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    admitted = keyed_quota_gate(
        stream, quota=5, key_col="key", id_col="sid", ord_col="ord"
    )
    sink, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        admitted.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    got = {
        (r["key"], r["seq_id"]) for r in spark.read.parquet(sink).collect()
    }
    want = {("a", f"{i:05d}") for i in [0, 1, 2, 10, 11]} | {
        ("b", f"{i:05d}") for i in (100, 101, 102)
    }
    assert got == want


def test_first_match_within_out_of_order(spark, tmp_path):
    """CEP first-match under genuine OUT-OF-ORDER arrival: a
    within-watermark late B (earlier event time, later file) must BEAT an
    already-buffered later B; duplicate-time As collapse to one match;
    unmatched As finalize silently; a tail A whose window has not closed
    at the final watermark is withheld."""
    import os as _os
    import time as _time

    from phoebe_spark.streaming.stateful import first_match_within

    # window 1000 ms, watermark delay 2000 ms
    files = [
        [("u", "view", 1000), ("u", "purchase", 1800)],
        [("u", "purchase", 1500), ("u", "view", 5000)],  # late-but-valid B
        [
            ("u", "view", 10000),
            ("u", "view", 10000),  # duplicate-time A
            ("u", "purchase", 10400),
            ("u", "view", 50000),  # withheld: window open at final wm
        ],
    ]
    src = str(tmp_path / "fm_src")
    _os.makedirs(src)
    for i, rows in enumerate(files, start=1):
        df = spark.createDataFrame(
            rows, "user_id STRING, event_type STRING, ms LONG"
        ).select(
            "user_id", "event_type", F.expr("timestamp_millis(ms)").alias("event_time")
        )
        df.coalesce(1).write.parquet(str(tmp_path / f"fm_stage{i}"))
        import glob as _glob
        import shutil as _shutil

        part = _glob.glob(str(tmp_path / f"fm_stage{i}" / "part-*.parquet"))[0]
        dst = f"{src}/{i:03d}.parquet"
        _shutil.copyfile(part, dst)
        _os.utime(dst, (1_000_000_000 + 10 * i, 1_000_000_000 + 10 * i))

    stream = (
        spark.readStream.schema(
            "user_id STRING, event_type STRING, event_time TIMESTAMP"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("event_time", "2 seconds")
    )
    out = first_match_within(
        stream, window_ms=1000, a_type="view", b_type="purchase",
        key_col="user_id",
    )
    sink = str(tmp_path / "fm_sink")
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(lambda bdf, _bid: bdf.write.mode("append").parquet(sink))
        .option("checkpointLocation", str(tmp_path / "fm_ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = sorted(
        (r.a_time, r.b_time, r.lag_ms)
        for r in spark.read.parquet(sink).collect()
    )
    # A@1000 matches the LATE B@1500 (not the earlier-arrived B@1800);
    # A@5000 unmatched; duplicate A@10000 emits once; A@50000 withheld.
    assert got == [(1000, 1500, 500), (10000, 10400, 400)]


def test_streaming_holt_cross_batch_state(spark, tmp_path):
    """The streaming Holt fold must genuinely carry state ACROSS batches:
    feed one key's series as 3 files and assert the intermediate update
    rows show strictly increasing n (10, 20, 30) with the final state
    equal to a local replay of the recursion."""
    import os as _os

    from phoebe_spark.streaming.stateful import streaming_holt

    a, g = 0.5, 0.3
    xs = [float((i * 37) % 11 + 1) for i in range(30)]
    src = str(tmp_path / "holt_src")
    _os.makedirs(src)
    import glob as _glob
    import shutil as _shutil

    for i, (lo, hi) in enumerate(((0, 10), (10, 20), (20, 30)), start=1):
        df = spark.createDataFrame(
            [("k1", d, xs[d]) for d in range(lo, hi)], "k STRING, d INT, c DOUBLE"
        )
        df.coalesce(1).write.parquet(str(tmp_path / f"st{i}"))
        part = _glob.glob(str(tmp_path / f"st{i}" / "part-*.parquet"))[0]
        dst = f"{src}/{i:03d}.parquet"
        _shutil.copyfile(part, dst)
        _os.utime(dst, (1_000_000_000 + 10 * i, 1_000_000_000 + 10 * i))

    stream = (
        spark.readStream.schema("k STRING, d INT, c DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_holt(stream, alpha=a, gamma=g, key_col="k")
    sink = str(tmp_path / "holt_sink")
    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(lambda bdf, _bid: bdf.write.mode("append").parquet(sink))
        .option("checkpointLocation", str(tmp_path / "holt_ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = sorted(
        (r.n, r.level, r.trend) for r in spark.read.parquet(sink).collect()
    )
    assert [r[0] for r in rows] == [10, 20, 30]  # one update per batch
    # local replay
    l, b = xs[0], xs[1] - xs[0]
    for x in xs[1:]:
        nl = a * x + (1 - a) * (l + b)
        nb = g * (nl - l) + (1 - g) * b
        l, b = nl, nb
    assert abs(rows[-1][1] - l) < 1e-12 and abs(rows[-1][2] - b) < 1e-12


def test_streaming_page_hinkley_matches_batch_fold(spark, tmp_path):
    """The PH stateful operator must equal the plain-Python recursion on
    a staged two-batch stream (order-sensitive state across batches)."""
    import glob
    import os
    import shutil

    from phoebe_spark.streaming.stateful import streaming_page_hinkley

    xs = [5.0, 9.0, 2.0, 14.0, 3.0, 3.0, 20.0, 1.0]
    delta, lam = 1.0, 6.0
    t = mean = u = minu = 0
    alarm = 0
    for x in xs:
        t += 1
        mean = mean + (x - mean) / t
        u = u + x - mean - delta
        minu = min(minu, u)
        if alarm == 0 and u - minu > lam:
            alarm = t

    src = str(tmp_path / "src")
    os.makedirs(src)
    halves = [list(enumerate(xs))[:4], list(enumerate(xs))[4:]]
    for i, rows in enumerate(halves, start=1):
        df = spark.createDataFrame(
            [("k", d, c) for d, c in rows], "key STRING, d INT, c DOUBLE"
        )
        stage = str(tmp_path / f"stage{i}")
        df.coalesce(1).write.parquet(stage)
        pf = glob.glob(f"{stage}/part-*.parquet")[0]
        dst = f"{src}/{i:03d}.parquet"
        shutil.copyfile(pf, dst)
        os.utime(dst, (1_000_000_000 + 10 * i, 1_000_000_000 + 10 * i))

    stream = (
        spark.readStream.schema("key STRING, d INT, c DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = str(tmp_path / "sink")
    q = (
        streaming_page_hinkley(stream, delta=delta, lam=lam)
        .writeStream.outputMode("update")
        .foreachBatch(lambda bdf, _bid: bdf.write.mode("append").parquet(sink))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    rows = spark.read.parquet(sink).orderBy("n").collect()
    final = rows[-1]
    assert final.n == len(xs)
    assert final.mean == mean and final.u == u and final.min_u == minu
    assert final.alarm == alarm and alarm > 0  # the jump at x=20 pages


def test_streaming_page_hinkley_checkpoint_restart(spark, tmp_path):
    """The PH (t, mean, U, minU, alarm) state must round-trip through a
    checkpointed stop-and-restart: a run stopped after the first batch and
    restarted for the second must emit the identical final state to a
    single uninterrupted drain — the order-sensitive recursion may not
    restart from scratch or double-fold."""
    import time as _time

    from phoebe_spark.streaming.stateful import streaming_page_hinkley

    xs = [4.0, 7.0, 1.0, 12.0, 2.0, 9.0, 15.0, 0.0]
    halves = [list(enumerate(xs))[:4], list(enumerate(xs))[4:]]

    def drain(tag: str, restart: bool):
        src = str(tmp_path / f"src{tag}")
        ck = str(tmp_path / f"ck{tag}")
        out = str(tmp_path / f"out{tag}")
        runs = ([0], [1]) if restart else ([0, 1],)
        for run in runs:
            for half_idx in run:
                df = spark.createDataFrame(
                    [("k", d, c) for d, c in halves[half_idx]],
                    "key STRING, d INT, c DOUBLE",
                )
                df.coalesce(1).write.mode("append").parquet(src)
            stream = (
                spark.readStream.schema("key STRING, d INT, c DOUBLE")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = (
                streaming_page_hinkley(stream, delta=1.0, lam=5.0)
                .writeStream.outputMode("update")
                .foreachBatch(
                    lambda bdf, _bid: bdf.write.mode("append").parquet(out)
                )
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(120)
            q.stop()
            _time.sleep(0.2)
        rows = spark.read.parquet(out).orderBy("n").collect()
        f = rows[-1]
        return (f.n, f.mean, f.u, f.min_u, f.alarm)

    a = drain("A", restart=True)
    b = drain("B", restart=False)
    assert a == b
    assert a[0] == len(xs)


def test_streaming_bottom_k_split_invariant_and_replay_idempotent(spark, tmp_path):
    """The bottom-k reservoir must be split-invariant (bottom-k of a
    union == bottom-k of per-batch bottom-ks) and idempotent under
    exact replays of the same (hash, id) pair."""
    import glob
    import os
    import shutil

    from phoebe_spark.streaming.stateful import streaming_bottom_k

    rows = [("k", h, i) for i, h in enumerate([50, 10, 40, 30, 20, 60, 5, 45])]
    # at-least-once replay artifact: an exact duplicate of the smallest
    # pair must not occupy two reservoir slots
    rows += [("k", 5, 6)]

    def drain(split_at: int, tag: str):
        src = str(tmp_path / f"src{tag}")
        os.makedirs(src)
        for i, part in enumerate((rows[:split_at], rows[split_at:]), start=1):
            df = spark.createDataFrame(part, "key STRING, h LONG, id LONG")
            stage = str(tmp_path / f"st{tag}{i}")
            df.coalesce(1).write.parquet(stage)
            pf = glob.glob(f"{stage}/part-*.parquet")[0]
            dst = f"{src}/{i:03d}.parquet"
            shutil.copyfile(pf, dst)
            os.utime(dst, (1_000_000_000 + 10 * i, 1_000_000_000 + 10 * i))
        stream = (
            spark.readStream.schema("key STRING, h LONG, id LONG")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sink = str(tmp_path / f"sink{tag}")
        q = (
            streaming_bottom_k(stream, k=4)
            .writeStream.outputMode("update")
            .foreachBatch(lambda b, _i: b.write.mode("append").parquet(sink))
            .option("checkpointLocation", str(tmp_path / f"ck{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        f = spark.read.parquet(sink).orderBy("n_seen").collect()[-1]
        return list(f.hs), list(f.ids)

    a = drain(2, "a")
    b = drain(7, "b")
    assert a == b == ([5, 10, 20, 30], [6, 1, 4, 3])
