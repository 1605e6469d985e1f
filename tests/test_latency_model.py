"""M4-M5 latency model tests (driver fit), mirroring the reference's
test_latency flow (/root/reference/analytics/app/test/api_test.py:98-133):
train on the non-backpressure profile rows, evaluate a candidate grid at a
mid-range throughput."""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import numpy as np
import pytest

from phoebe_spark.models.capacity import CapacityModel
from phoebe_spark.models.latency import LatencyModel, _lanes, _strict_log

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
def fitted():
    rows = _profile_rows()
    m = LatencyModel()
    m.fit(rows)
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


def test_append_mode_unions_training_data(fitted):
    m, rows = fitted
    m2 = LatencyModel()
    m2.fit(rows)
    m2.fit([(24, 200000.0, 45000.0)], append=True)
    assert len(m2.previous_data) == len(rows) + 1
    assert m2.previous_data[-1] == (24, 200000.0, 45000.0)


def test_refits_persist_nothing(fitted, spark):
    """A fit and three append refits leave the session's persisted RDDs as
    they were: the training rows stay on the driver."""
    _, rows = fitted
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = len(persisted())
    m = LatencyModel()
    m.fit(rows)
    for so, thr in ((5, 31_000.0), (11, 47_500.0), (17, 52_250.0)):
        m.fit([(so, thr, 1_500.0)], append=True)
    assert len(persisted()) == before


def test_fit_and_predict_run_no_spark_job(fitted, spark):
    """A fit, an append refit and a candidate-grid predict start no Spark
    job."""
    _, rows = fitted
    sc = spark.sparkContext
    group = "latency-model-no-job"
    sc.setJobGroup(group, "latency fit, refit and predict")
    try:
        m = LatencyModel()
        m.fit(rows)
        m.fit([(14, 44_000.0, 2_100.0)], append=True)
        m.predict(50_379.1, range(2, 25), previously_valid=range(2, 25, 2))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def _log_probe_values() -> list[float]:
    """Edge cases, 5,000 uniform in [1, 1.5), 5,000 ``exp(U(0, 50))`` and
    5,000 random bit patterns from 1.0 up to (not including) +inf."""
    one_minus, one_plus = 1.0 - 2.0**-20, 1.0 + 2.0**-20
    edges = [
        1.0, math.nextafter(1.0, 2.0), 2.0, math.e, 1.797e308, math.inf,
        *(y for c in (one_minus, one_plus)
          for y in (math.nextafter(c, 0.0), c, math.nextafter(c, 2.0))),
    ]
    rng = np.random.default_rng(11)
    bits = rng.integers(0x3FF0000000000000, 0x7FF0000000000000, 5_000, dtype=np.uint64)
    return edges + [
        *rng.uniform(1.0, 1.5, 5_000).tolist(),
        *np.exp(rng.uniform(0.0, 50.0, 5_000)).tolist(),
        *bits.view(np.float64).tolist(),
    ]


def test_strict_log_matches_java_strict_math(spark):
    """The fdlibm port equals ``StrictMath.log`` bit for bit: the expected
    values come from one Spark SQL ``log`` (``StrictMath.log``) query."""
    from pyspark.sql import functions as F

    xs = _log_probe_values()
    df = spark.createDataFrame(list(enumerate(xs)), "i long, x double")
    expected = [r[0] for r in df.orderBy("i").select(F.log("x")).collect()]
    got = [_strict_log(x) for x in xs]
    wrong = [(x, g, e) for x, g, e in zip(xs, got, expected) if g != e]
    assert not wrong, f"{len(wrong)} of {len(xs)} differ, first {wrong[:3]}"
    # the probe set tells StrictMath from the platform libm
    assert any(math.log(x) != e for x, e in zip(xs, expected))


def test_lanes_match_the_jvm_species(spark):
    species = spark._jvm.jdk.incubator.vector.DoubleVector.SPECIES_MAX
    assert _lanes() == species.length()


_NO_JVM_SCRIPT = """
import json, sys, time
from pyspark import SparkContext
from phoebe_spark.api import create_app
from phoebe_spark.models.latency import LatencyModel

rows = [tuple(r) for r in json.load(sys.stdin)]
client = create_app().test_client()
r = client.post("/latency/training", json={
    "job": "J", "scale_outs": [r[0] for r in rows],
    "throughput_rates": [r[1] for r in rows], "latencies": [r[2] for r in rows],
})
task = r.get_json()["task_hash"]
while client.get(f"/common/tasks/{task}").get_json():
    time.sleep(0.05)
cands = [{"scale_out": so, "is_valid": True} for so in range(2, 25)]
r = client.post("/latency/evaluation", json={
    "job": "J", "predicted_throughput_rate": 50379.1,
    "current": cands[0], "candidates": cands,
})
assert r.status_code == 200, r.get_data(as_text=True)
m = LatencyModel()
m.fit(rows)
for so, thr in ((5, 31_000.0), (11, 47_500.0), (17, 52_250.0)):
    m.fit([(so, thr, 1_500.0)], append=True)
m.predict(50_379.1, range(2, 25), previously_valid=range(2, 25, 2))
print(json.dumps({
    "context": SparkContext._active_spark_context is None,
    "gateway": SparkContext._gateway is None,
}))
"""


def test_api_and_latency_fits_start_no_jvm():
    """``create_app()``, a train-poll-evaluate round trip, a direct fit,
    three append refits and a predict, in a fresh interpreter, leave no
    Spark context and no py4j gateway: no Spark job can have run and no
    RDD can be persisted."""
    out = subprocess.run(
        [sys.executable, "-c", _NO_JVM_SCRIPT], input=json.dumps(_profile_rows()),
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert json.loads(out.stdout.splitlines()[-1]) == {"context": True, "gateway": True}


# -- reference profiling ground truth (BASELINE.md "profiling ground truth")

_PROFILES2 = "/root/reference/analytics/app/test/profiles2.csv"


@pytest.mark.skipif(not os.path.exists(_PROFILES2), reason="profiles2 fixture absent")
def test_models_on_reference_profiles2():
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

    m = LatencyModel()
    m.fit(lat_rows)
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
