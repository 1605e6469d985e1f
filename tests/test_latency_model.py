"""M4-M5 latency model tests (MLlib pipeline), mirroring the reference's
test_latency flow (/root/reference/analytics/app/test/api_test.py:98-133):
train on the non-backpressure profile rows, evaluate a candidate grid at a
mid-range throughput."""

from __future__ import annotations

import os

import numpy as np
import pytest

from phoebe_spark.models.capacity import CapacityModel
from phoebe_spark.models.latency import LatencyModel

SCALE_OUTS = [2, 5, 8, 11, 14, 17, 20, 23]


def _profile_rows():
    """Synthetic profiles2-like training table (FIXTURES.md §3): ~10
    profiling rounds per scale-out at increasing load; latency low while
    capacity suffices, exploding once load approaches the capacity ceiling
    (827 ms - 50.8 s range in the reference data)."""
    rng = np.random.default_rng(42)
    rows = []
    for so in SCALE_OUTS:
        capacity = 18000 + 2400 * so
        for step in range(1, 11):
            thr = 20000.0 * step
            if thr > capacity:
                break
            util = thr / capacity
            lat = 900 + 2500 * util**2 + rng.normal(0, 50)
            if util > 0.85:
                lat = 20000 + 30000 * (util - 0.85) / 0.15 + rng.normal(0, 1000)
            rows.append((so, thr, float(lat)))
    return rows


@pytest.fixture(scope="module")
def fitted(spark):
    rows = _profile_rows()
    df = spark.createDataFrame(rows, "scale_outs INT, throughput_rates DOUBLE, latencies DOUBLE")
    m = LatencyModel()
    m.fit(df)
    return m, rows


def test_clustering_relabels_low_latency_as_zero(fitted):
    m, rows = fitted
    # score the training grid itself: low-latency rows must map to class 0
    scored = [
        r
        for thr in sorted({r[1] for r in rows})
        for r in m.predict(thr, [so for so, t, _ in rows if t == thr])
    ]
    c0 = [r["latency"] for r in scored if r["latency_class"] == 0]
    c1 = [r["latency"] for r in scored if r["latency_class"] == 1]
    assert c0 and c1
    # relabel invariant from latency/models.py:60-84: cluster 0 is the
    # low-latency cluster and the two clusters are contiguous in latency
    assert max(c0) < min(c1)
    assert min(c0) == min(r["latency"] for r in scored)
    assert max(c1) == max(r["latency"] for r in scored)


def test_candidate_grid_evaluation(fitted):
    m, _ = fitted
    rows = m.predict(throughput_rate=50379.1, scale_outs=range(2, 25))
    assert [r["scale_outs"] for r in rows] == list(range(2, 25))
    bests = [r for r in rows if r["is_best"]]
    assert len(bests) <= 1
    if bests:
        first_valid = next(r for r in rows if r["is_valid"])
        assert bests[0]["scale_outs"] == first_valid["scale_outs"]
    # at 50K rec/s, small scale-outs are saturated (capacity ~23-30K):
    # their predicted latency must exceed the relaxed candidates'
    lat_small = np.mean([r["latency"] for r in rows if r["scale_outs"] <= 3])
    lat_big = np.mean([r["latency"] for r in rows if r["scale_outs"] >= 20])
    assert lat_small > lat_big


def test_append_mode_unions_training_data(fitted, spark):
    m, rows = fitted
    extra = spark.createDataFrame(
        [(24, 200000.0, 45000.0)], "scale_outs INT, throughput_rates DOUBLE, latencies DOUBLE"
    )
    m2 = LatencyModel()
    base = spark.createDataFrame(rows, "scale_outs INT, throughput_rates DOUBLE, latencies DOUBLE")
    m2.fit(base)
    m2.fit(extra, append=True)
    assert m2.previous_data.count() == len(rows) + 1


# -- reference profiling ground truth (BASELINE.md "profiling ground truth")

_PROFILES2 = "/root/reference/analytics/app/test/profiles2.csv"


@pytest.mark.skipif(not os.path.exists(_PROFILES2), reason="profiles2 fixture absent")
def test_models_on_reference_profiles2(spark):
    """Fit the latency and capacity models on the reference's shipped
    profiling ground truth (87 rows, scale-outs {2,5,8,11,14,17,20,23}):
    the latency model must separate the saturated high-latency profiles
    from the healthy band and mark healthy scale-outs valid at the
    profiled rate; the capacity model's max-throughput curve must be
    monotone-ish and bracket the ~20k ev/s sustained profiling rate."""
    import csv

    with open(_PROFILES2) as f:
        rows = list(csv.DictReader(f))
    assert len(rows) == 87

    lat_rows = [
        (int(r["scaleOut"]), float(r["avgThr"]), float(r["avgLat"]))
        for r in rows
        if r["isBckPres"] == "0"
    ]
    cap_rows = [
        (int(r["scaleOut"]), float(r["avgThr"]))
        for r in rows
        if r["isBckPres"] == "1"
    ]
    assert len(lat_rows) == 79 and len(cap_rows) == 8

    train = spark.createDataFrame(
        lat_rows, "scale_outs INT, throughput_rates DOUBLE, latencies DOUBLE"
    )
    m = LatencyModel()
    m.fit(train)
    out = m.predict(20000.0, range(2, 25))
    valid = [r["scale_outs"] for r in out if r["is_valid"]]
    # at the sustained profiling rate most of the profiled range holds the
    # latency band; the model must not reject everything nor accept nothing
    assert len(valid) >= 3, f"too few valid scale-outs: {valid}"
    best = [r["scale_outs"] for r in out if r["is_best"]]
    assert len(best) == 1 and best[0] in valid

    cap = CapacityModel()
    cap.fit([s for s, _ in cap_rows], [t for _, t in cap_rows])
    pred = cap.predict([2, 8, 16, 24])
    # capacity grows with scale-out and stays in a physical range
    assert pred[-1] > pred[0] > 0
    assert 10_000 < pred[0] < 1_000_000
