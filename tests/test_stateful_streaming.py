"""Stateful streaming operators over staged micro-batches: each test
stages its input with :mod:`phoebe_spark.streaming.drain`, one file per
micro-batch, and drains the operator with ``drain.run``. State must carry
across batches and through a stop and restart from the checkpoint, and
the drained result must equal the batch form or a plain-Python
recursion."""

from __future__ import annotations

import collections
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from phoebe_spark.streaming import drain
from phoebe_spark.streaming.stateful import (
    first_match_within,
    keyed_cusum,
    keyed_heavy_hitters,
    keyed_quota_gate,
    streaming_bottom_k,
    streaming_holt,
    streaming_page_hinkley,
)
from phoebe_spark.timeseries import anomaly as ts_anom


def _drain(spark, slices, build, work, output_mode="update", **kw):
    """Stage ``slices`` one micro-batch each under ``work`` and drain
    ``build(stream)``; return the drained frame."""
    drain.stage_slices(slices, f"{work}/src")
    stream = drain.replay(spark, f"{work}/src")
    return drain.run(build(stream), work, output_mode=output_mode, **kw)


def _drain_restarted(spark, slices, build, work, widths):
    """Like :func:`_drain` in update mode, but one drain per slice on one
    work dir: each run sees one more staged file and restarts from the
    checkpoint the run before left, at the next of ``widths`` state
    partitions. Returns every emitted row."""
    staged, src = f"{work}/staged", f"{work}/src"
    drain.stage_slices(slices, staged)
    os.makedirs(src)
    rows = []
    for name, width in zip(sorted(os.listdir(staged)), widths, strict=True):
        os.replace(f"{staged}/{name}", f"{src}/{name}")  # keeps its mtime
        out = drain.run(
            build(drain.replay(spark, src)), work, output_mode="update", state_partitions=width
        )
        rows += out.collect()
    return rows


def test_keyed_cusum_matches_batch(spark, tmp_path):
    """Streaming CUSUM folded across 3 micro-batches must equal the batch
    prefix-sum closed form on the same data."""
    rng = np.random.default_rng(5)
    rows = []
    for key, drift in (("a", 0.0), ("b", 30.0)):
        vals = rng.exponential(50.0, size=90) + drift
        rows += [(key, i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "key STRING, seq LONG, value DOUBLE")
    events = df.select(
        F.expr("timestamp_seconds(1700000000 + seq)").alias("event_time"), "key", "value", "seq"
    )
    slices = [
        events.filter((F.col("seq") >= lo) & (F.col("seq") < lo + 30)).drop("seq")
        for lo in (0, 30, 60)
    ]
    out = _drain(spark, slices, lambda s: keyed_cusum(s, k=60.0, h=150.0), str(tmp_path))
    got = drain.latest(out, order="n_obs").collect()
    batch = drain.latest(ts_anom.cusum(df, "key", "seq", "value", k=60.0, h=150.0), order="seq")
    bmap = {r.key: r for r in batch.collect()}
    assert len(got) == 2
    for r in got:
        assert r.n_obs == 90
        assert r.stat == pytest.approx(bmap[r.key].stat, abs=1e-9)
        assert r.alarm == bmap[r.key].alarm
    # the drifted key should actually be alarming
    assert bmap["b"].alarm


def _last_summary(rows):
    """The Misra-Gries summary the last micro-batch emitted: its n_total
    and item -> counter."""
    n = max(r.n_total for r in rows)
    return n, {r.item: r.count_lb for r in rows if r.n_total == n}


def test_keyed_heavy_hitters_misra_gries_guarantee(spark, tmp_path):
    """Streaming Misra-Gries across 3 micro-batches: every item with true
    frequency > n/k must be tracked, every reported counter must be a
    lower bound within n/k of the true count, and state must be capped
    at k entries."""
    # skewed item stream: 'hot0'..'hot2' dominate, 60 unique tail items
    rows = []
    for b in range(3):
        for i in range(100):
            item = f"hot{i % 3}" if i % 2 == 0 else f"tail{b}_{i}"
            rows.append((b, "s", item))
    df = spark.createDataFrame(rows, "b LONG, key STRING, item STRING")
    slices = [df.filter(F.col("b") == b).select("key", "item") for b in range(3)]
    k = 8
    out = _drain(spark, slices, lambda s: keyed_heavy_hitters(s, k=k), str(tmp_path))
    n, summary = _last_summary(out.collect())
    true = collections.Counter(item for _, _, item in rows)
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
    stop-and-restart exactly once: a drain stopped after the first batch
    and restarted for the second must produce the identical summary to
    one uninterrupted drain. The restart asks for 4 state partitions
    where the first run used 8: Spark pins the state partition count in
    the checkpoint's offset metadata (state partitioning is fixed at
    query creation), so the pinned value wins and the state re-loads
    regardless — rescaling EXECUTORS is what's free in this model, not
    state partitions."""
    rows = []
    for b in (0, 1):
        for i in range(120):
            item = f"hot{i % 2}" if i % 3 != 2 else f"tail{b}_{i}"
            rows.append((b, "s", item))
    df = spark.createDataFrame(rows, "b LONG, key STRING, item STRING")
    slices = [df.filter(F.col("b") == b).select("key", "item") for b in (0, 1)]

    def hh(s):
        return keyed_heavy_hitters(s, k=6)

    restarted = _drain_restarted(spark, slices, hh, str(tmp_path / "a"), widths=(8, 4))
    straight = _drain(spark, slices, hh, str(tmp_path / "b"), state_partitions=8).collect()
    n_a, sum_a = _last_summary(restarted)
    n_b, sum_b = _last_summary(straight)
    assert n_a == n_b == len(rows)
    assert sum_a == sum_b, (sum_a, sum_b)


def test_keyed_quota_gate_cross_batch_counter(spark, tmp_path):
    """Quota gate: admitted set equals the batch row_number()<=quota
    answer, with keys that SATURATE mid-stream (the carried counter, not
    single-batch truncation, decides the cut) and keys that never do."""
    # key 'a': 3 rows/batch x 3 batches = 9 rows, quota 5 -> cut in batch 2
    # key 'b': 1 row/batch  = 3 rows, never saturates
    rows_by_batch = [
        [("a", i, float(i)) for i in range(3)] + [("b", 100, 1.0)],
        [("a", 10 + i, float(10 + i)) for i in range(3)] + [("b", 101, 2.0)],
        [("a", 20 + i, float(20 + i)) for i in range(3)] + [("b", 102, 3.0)],
    ]
    slices = [
        spark.createDataFrame(
            [(k, f"{i:05d}", i, v) for k, i, v in rows],
            "key string, sid string, ord long, value double",
        )
        for rows in rows_by_batch
    ]
    out = _drain(
        spark,
        slices,
        lambda s: keyed_quota_gate(s, quota=5, key_col="key", id_col="sid", ord_col="ord"),
        str(tmp_path),
        output_mode="append",
    )
    got = {(r["key"], r["seq_id"]) for r in out.collect()}
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
    slices = [
        spark.createDataFrame(rows, "user_id STRING, event_type STRING, ms LONG").select(
            "user_id", "event_type", F.expr("timestamp_millis(ms)").alias("event_time")
        )
        for rows in files
    ]
    out = _drain(
        spark,
        slices,
        lambda s: first_match_within(
            s.withWatermark("event_time", "2 seconds"),
            window_ms=1000, a_type="view", b_type="purchase", key_col="user_id",
        ),
        str(tmp_path),
        output_mode="append",
    )
    got = sorted((r.a_time, r.b_time, r.lag_ms) for r in out.collect())
    # A@1000 matches the LATE B@1500 (not the earlier-arrived B@1800);
    # A@5000 unmatched; duplicate A@10000 emits once; A@50000 withheld.
    assert got == [(1000, 1500, 500), (10000, 10400, 400)]


def test_streaming_holt_cross_batch_state(spark, tmp_path):
    """The streaming Holt fold must genuinely carry state ACROSS batches:
    feed one key's series as 3 files and assert the intermediate update
    rows show strictly increasing n (10, 20, 30) with the final state
    equal to a local replay of the recursion."""
    a, g = 0.5, 0.3
    xs = [float((i * 37) % 11 + 1) for i in range(30)]
    slices = [
        spark.createDataFrame([("k1", d, xs[d]) for d in range(lo, lo + 10)], "k STRING, d INT, c DOUBLE")
        for lo in (0, 10, 20)
    ]
    out = _drain(
        spark, slices, lambda s: streaming_holt(s, alpha=a, gamma=g, key_col="k"), str(tmp_path)
    )
    rows = sorted((r.n, r.level, r.trend) for r in out.collect())
    assert [r[0] for r in rows] == [10, 20, 30]  # one update per batch
    # local replay
    l, b = xs[0], xs[1] - xs[0]
    for x in xs[1:]:
        nl = a * x + (1 - a) * (l + b)
        nb = g * (nl - l) + (1 - g) * b
        l, b = nl, nb
    assert abs(rows[-1][1] - l) < 1e-12 and abs(rows[-1][2] - b) < 1e-12


def _halves(spark, xs):
    """``xs`` as two micro-batches of (key, d, c) rows."""
    rows = [("k", d, c) for d, c in enumerate(xs)]
    return [
        spark.createDataFrame(part, "key STRING, d INT, c DOUBLE")
        for part in (rows[: len(rows) // 2], rows[len(rows) // 2 :])
    ]


def test_streaming_page_hinkley_matches_batch_fold(spark, tmp_path):
    """The PH stateful operator must equal the plain-Python recursion on
    a staged two-batch stream (order-sensitive state across batches)."""
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

    out = _drain(
        spark,
        _halves(spark, xs),
        lambda s: streaming_page_hinkley(s, delta=delta, lam=lam),
        str(tmp_path),
    )
    final = max(out.collect(), key=lambda r: r.n)
    assert final.n == len(xs)
    assert final.mean == mean and final.u == u and final.min_u == minu
    assert final.alarm == alarm and alarm > 0  # the jump at x=20 pages


def test_streaming_page_hinkley_checkpoint_restart(spark, tmp_path):
    """The PH (t, mean, U, minU, alarm) state must round-trip through a
    checkpointed stop-and-restart: a run stopped after the first batch and
    restarted for the second must emit the identical final state to a
    single uninterrupted drain — the order-sensitive recursion may not
    restart from scratch or double-fold."""
    xs = [4.0, 7.0, 1.0, 12.0, 2.0, 9.0, 15.0, 0.0]

    def ph(s):
        return streaming_page_hinkley(s, delta=1.0, lam=5.0)

    def final(rows):
        f = max(rows, key=lambda r: r.n)
        return (f.n, f.mean, f.u, f.min_u, f.alarm)

    a = final(_drain_restarted(spark, _halves(spark, xs), ph, str(tmp_path / "a"), widths=(1, 1)))
    b = final(_drain(spark, _halves(spark, xs), ph, str(tmp_path / "b")).collect())
    assert a == b
    assert a[0] == len(xs)


def test_streaming_bottom_k_split_invariant_and_replay_idempotent(spark, tmp_path):
    """The bottom-k reservoir must be split-invariant (bottom-k of a
    union == bottom-k of per-batch bottom-ks) and idempotent under
    exact replays of the same (hash, id) pair."""
    rows = [("k", h, i) for i, h in enumerate([50, 10, 40, 30, 20, 60, 5, 45])]
    # at-least-once replay artifact: an exact duplicate of the smallest
    # pair must not occupy two reservoir slots
    rows += [("k", 5, 6)]

    def reservoir(split_at: int, tag: str):
        slices = [
            spark.createDataFrame(part, "key STRING, h LONG, id LONG")
            for part in (rows[:split_at], rows[split_at:])
        ]
        out = _drain(spark, slices, lambda s: streaming_bottom_k(s, k=4), str(tmp_path / tag))
        f = max(out.collect(), key=lambda r: r.n_seen)
        return list(f.hs), list(f.ids)

    a = reservoir(2, "a")
    b = reservoir(7, "b")
    assert a == b == ([5, 10, 20, 30], [6, 1, 4, 3])
