"""Control-loop tests: decision rules pinned to the reference's Java logic
(LatencyResponse.java:35-73, Graph.java:260-276) plus one full optimize_step
composition, and the Prometheus-source pagination/NaN handling (S7)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from phoebe_spark.plans.control_loop import (
    Candidate,
    best_scale_out,
    best_scale_out_by_min_value,
    optimize_step,
    should_rescale,
)
from phoebe_spark.sources.prometheus import CHUNK_POINTS, query_range


# -- decision rules --------------------------------------------------------


def test_min_value_prefers_smaller_within_tolerance():
    cur = Candidate(10, 100.0)
    cands = [Candidate(4, 103.0), Candidate(8, 99.0), Candidate(12, 50.0)]
    # 12 has a strictly better value (50 < 100 beyond tol) -> move there;
    # then 4 and 8 are not within 5% of 50 nor better -> stay 12
    assert best_scale_out_by_min_value(cur, cands) == 12


def test_min_value_tolerance_walk():
    cur = Candidate(10, 100.0)
    cands = [Candidate(6, 98.0), Candidate(4, 102.0)]
    # 6 within 5% and smaller -> take; 4 within 5% of 98 and smaller -> take
    assert best_scale_out_by_min_value(cur, cands) == 4


def test_best_scale_out_is_best_wins_and_slope_holds():
    cands = [Candidate(4, 10, True, False), Candidate(6, 9, True, True)]
    cur = Candidate(10, 12, True, False)
    assert best_scale_out(cands, slope=-1.0, current=cur, max_scale_out=8) == 6
    # rising workload + current still valid -> hold current
    assert best_scale_out(cands, slope=1.0, current=cur, max_scale_out=8) == 10


def test_should_rescale_ignores_small_downscales():
    assert not should_rescale(10, 10)
    assert not should_rescale(9, 10)
    assert not should_rescale(8, 10)
    assert should_rescale(7, 10)
    assert should_rescale(11, 10)


# -- S7 prometheus source --------------------------------------------------


def test_query_range_pages_and_coerces_nan(spark):
    calls = []

    def fake_fetch(query, start, end, step):
        calls.append((start, end))
        values = [[t, "NaN" if t % 5000 == 0 else str(float(t % 100))] for t in range(start, end + 1, step)]
        return {"data": {"result": [{"metric": {"pod": "p1"}, "values": values}]}}

    start, end = 0, CHUNK_POINTS * 2  # forces 3 pages
    df = query_range(spark, fake_fetch, "up", start, end, step=1)
    assert len(calls) == 3
    assert calls[0] == (0, CHUNK_POINTS - 1)
    rows = df.collect()
    assert len(rows) == end - start + 1  # dense grid
    by_ts = {r["timestamp"]: r["value"] for r in rows}
    assert by_ts[5000] is None  # NaN -> null
    assert by_ts[123] == 23.0


def test_query_range_empty(spark):
    df = query_range(spark, lambda *a: {"data": {"result": []}}, "up", 0, 10)
    assert df.count() == 0


# -- full optimize step ----------------------------------------------------


def test_optimize_step_composition(spark):
    from phoebe_spark.models.latency import LatencyModel
    from phoebe_spark.models.recovery import RecoveryTimeModel
    from phoebe_spark.models.workload import WorkloadForecaster

    rng = np.random.default_rng(42)
    t = np.arange(10_000, 13_600)
    vals = np.abs((1000 * np.sin(2 * np.pi * t / 600) + 2000) * (1 + rng.normal(0, 0.01, 3600)))

    # metrics table: flat latency ~1200ms, throughput ~ workload
    lat_rows = [(int(ts), "latency", 1200.0 + float(rng.normal(0, 20))) for ts in t[-300:]]
    thr_rows = [(int(ts), "thrRate", float(v)) for ts, v in zip(t[-300:], vals[-300:])]
    metrics = spark.createDataFrame(
        lat_rows + thr_rows, "timestamp LONG, series_key STRING, value DOUBLE"
    )

    forecaster = WorkloadForecaster(num_models=5, step_size=30)
    forecaster.fit(t, vals)

    SCALE_OUTS = [2, 5, 8, 11, 14, 17, 20, 23]
    recovery = RecoveryTimeModel()
    recovery.fit(SCALE_OUTS, [18000 + 2400 * so for so in SCALE_OUTS])

    latency = LatencyModel()
    # pre-train on a profile-like table so the incremental step appends
    pre = [(so, 20000.0 * k, 900.0 + 100.0 * k) for so in SCALE_OUTS for k in range(1, 4)]
    latency.fit(pre)

    out = optimize_step(
        spark, metrics, t, vals,
        latency_model=latency, recovery_model=recovery, forecaster=forecaster,
        current_scale_out=12, min_scale_out=2, max_scale_out=24,
        max_recovery_time=240.0, prediction_period_s=150,
    )
    assert out["timestamp"] == int(t[-1])
    assert 1100 < out["avg_lat"] < 1300
    assert out["avg_thr"] > 0
    assert 2 <= out["decision"] <= 24
    assert isinstance(out["rescale"], bool)
    assert math.isfinite(out["pred_rec_time"])

    # record_to persists the decision to the predictions store iff a
    # rescale fires (Graph.java:265-276)
    from phoebe_spark.sources import tables as store

    spark.sql("DROP TABLE IF EXISTS profiles")
    spark.sql("DROP TABLE IF EXISTS predictions")
    import tempfile

    store.create_profile_store(spark, tempfile.mkdtemp(prefix="ctl_store_"))
    out2 = optimize_step(
        spark, metrics, t, vals,
        latency_model=latency, recovery_model=recovery, forecaster=forecaster,
        current_scale_out=12, min_scale_out=2, max_scale_out=24,
        max_recovery_time=240.0, prediction_period_s=150,
        record_to=(7, "ADS"),
    )
    recorded = store.select_predictions(spark, [7]).collect()
    if out2["rescale"]:
        assert len(recorded) == 1
        assert recorded[0]["scaleOut"] == out2["decision"]
        assert recorded[0]["timestamp"] == out2["timestamp"]
    else:
        assert recorded == []
    spark.sql("DROP TABLE IF EXISTS profiles")
    spark.sql("DROP TABLE IF EXISTS predictions")
