"""REST parity tests mirroring the reference's api_test flows
(/root/reference/analytics/app/test/api_test.py): train-poll-predict for
each model family over the reference wire formats."""

from __future__ import annotations

import time

import numpy as np
import pytest

from phoebe_spark.api import create_app
from phoebe_spark.api.server import arrays_to_ts

SCALE_OUTS = [2, 5, 8, 11, 14, 17, 20, 23]


@pytest.fixture(scope="module")
def client(spark):
    app = create_app(spark)
    app.config["TESTING"] = True
    return app.test_client()


def _poll(client, task_hash, timeout=120):
    deadline = time.time() + timeout
    while time.time() < deadline:
        r = client.get(f"/common/tasks/{task_hash}")
        assert r.status_code == 200
        if r.get_json() is False:
            return
        time.sleep(0.5)
    raise TimeoutError("task did not finish")


def _sine_ts(n=1200, period=600):
    t = np.arange(n)
    rng = np.random.default_rng(42)
    v = np.abs((1000 * np.sin(2 * np.pi * t / period) + 2000) * (1 + rng.normal(0, 0.01, n)))
    return t, v


def test_regression_endpoint(client):
    t = np.arange(100)
    body = {"lat": arrays_to_ts(t, 2.0 * t + 5.0), "thr": arrays_to_ts(t, -1.0 * t + 50.0)}
    r = client.post("/common/regression", json=body)
    assert r.status_code == 200
    out = r.get_json()
    assert out["lat"]["slope"] == pytest.approx(2.0)
    assert out["thr"]["slope"] == pytest.approx(-1.0)


def test_workload_train_poll_predict(client):
    t, v = _sine_ts()
    r = client.post("/workload/training", json={"job": "TEST", "workload": arrays_to_ts(t, v)})
    assert r.status_code == 200
    _poll(client, r.get_json()["task_hash"])

    r = client.post(
        "/workload/prediction",
        json={"job": "TEST", "workload": arrays_to_ts(t, v), "prediction_period_in_s": 120},
    )
    assert r.status_code == 200
    ts = r.get_json()["workload"]
    assert ts["count"] == 120
    assert ts["observations"][0]["timestamp"] == int(t[-1]) + 1

    # horizon cap -> 412 (workload/routes.py:31-35)
    r = client.post(
        "/workload/prediction",
        json={"job": "TEST", "workload": arrays_to_ts(t, v), "prediction_period_in_s": 601},
    )
    assert r.status_code == 412

    # unknown job -> 412 not-fitted
    r = client.post(
        "/workload/prediction",
        json={"job": "NOPE", "workload": arrays_to_ts(t, v), "prediction_period_in_s": 60},
    )
    assert r.status_code == 412


@pytest.fixture(scope="module")
def latency_job(client):
    """Train the TEST job's latency model once for the /latency/* tests."""
    rng = np.random.default_rng(42)
    rows = []
    for so in SCALE_OUTS:
        cap = 18000 + 2400 * so
        for k in range(1, 6):
            thr = 20000.0 * k
            if thr > cap:
                break
            util = thr / cap
            lat = 900 + 2500 * util**2 + float(rng.normal(0, 50))
            if util > 0.85:
                lat = 25000 + float(rng.normal(0, 1000))
            rows.append((so, thr, lat))
    r = client.post(
        "/latency/training",
        json={
            "job": "TEST",
            "scale_outs": [r0 for r0, _, _ in rows],
            "throughput_rates": [r1 for _, r1, _ in rows],
            "latencies": [r2 for _, _, r2 in rows],
        },
    )
    assert r.status_code == 200
    _poll(client, r.get_json()["task_hash"])
    return "TEST"


def _latency_evaluation(client, job, scale_outs, thr, valid=()):
    cands = [
        {"scale_out": so, "recovery_time": 100.0, "is_valid": so in valid, "is_best": False}
        for so in scale_outs
    ]
    return client.post(
        "/latency/evaluation",
        json={
            "job": job, "predicted_throughput_rate": thr,
            "current": cands[0] if cands else {"scale_out": 2},
            "candidates": cands, "slope": 0.0,
        },
    )


def test_latency_train_predict(client, latency_job):
    r = client.post(
        "/latency/prediction",
        json={
            "job": latency_job,
            "min_scale_out": 2,
            "max_scale_out": 24,
            "scale_out": 12,
            "throughput_rate": 50379.1,
        },
    )
    assert r.status_code == 200
    out = r.get_json()
    assert len(out["candidates"]) == 23
    assert sum(c["is_best"] for c in out["candidates"]) <= 1
    assert out["current"]["scale_out"] == 12


def test_recoverytime_and_twres_composition(client):
    t, v = _sine_ts()
    cap = [18000.0 + 2400 * so for so in SCALE_OUTS]
    r = client.post(
        "/recoverytime/training",
        json={"job": "TEST", "scale_outs": SCALE_OUTS, "max_throughput_rates": cap},
    )
    _poll(client, r.get_json()["task_hash"])
    r = client.post(
        "/recoverytime/prediction",
        json={
            "job": "TEST",
            "min_scale_out": 2,
            "max_scale_out": 24,
            "workload": arrays_to_ts(t, v),
            "scale_out": 4,
            "prediction_period_in_s": 150,
            "downtime": 10.0,
            "last_checkpoint": 90,
            "max_recovery_time": 240,
        },
    )
    assert r.status_code == 200
    out = r.get_json()
    assert len(out["candidates"]) == 23
    assert out["predicted_throughput_rate"] > 0
    assert all(c["recovery_time"] == round(c["recovery_time"], 2) for c in out["candidates"])

    r = client.post(
        "/baselines/twres_training",
        json={"job": "TEST", "scale_outs": SCALE_OUTS, "throughput_rates": cap},
    )
    _poll(client, r.get_json()["task_hash"])
    r = client.post(
        "/baselines/twres_prediction",
        json={
            "job": "TEST",
            "workload": arrays_to_ts(t, v),
            "avg_latency": 1000,
            "max_latency_constraint": 2000,
            "scale_out": 10,
            "time_window_interval": 600,
            "min_scale_out": 4,
            "max_scale_out": 24,
        },
    )
    assert r.status_code == 200
    assert isinstance(r.get_json()["scale_out"], int)


def test_cross_model_evaluation_flows(client, latency_job):
    """The reference's rt->latency-eval and latency->rt-eval composition
    tests (api_test.py test_recoverytime_plus_latency / reverse)."""
    t, v = _sine_ts()
    r = client.post(
        "/recoverytime/prediction",
        json={
            "job": "TEST", "min_scale_out": 2, "max_scale_out": 24,
            "workload": arrays_to_ts(t, v), "scale_out": 4,
            "prediction_period_in_s": 150, "downtime": 10.0,
            "last_checkpoint": 90, "max_recovery_time": 240,
        },
    )
    assert r.status_code == 200
    rt = r.get_json()

    # the reference client forwards the rt response's predicted peak as
    # predicted_throughput_rate (LatencyModelEvaluationRequest)
    r = client.post(
        "/latency/evaluation",
        json={
            "job": "TEST", "predicted_throughput_rate": rt["predicted_throughput_rate"],
            "current": rt["current"], "candidates": rt["candidates"],
            "slope": rt["slope"],
        },
    )
    assert r.status_code == 200
    lat = r.get_json()
    assert len(lat["candidates"]) == len(rt["candidates"])
    # validity can only shrink: latency-eval restricts to rt-valid set
    rt_valid = {c["scale_out"] for c in rt["candidates"] if c["is_valid"]}
    assert {c["scale_out"] for c in lat["candidates"] if c["is_valid"]} <= rt_valid

    r = client.post(
        "/recoverytime/evaluation",
        json={
            "job": "TEST", "workload": arrays_to_ts(t, v),
            "current": lat["current"], "candidates": lat["candidates"],
            "prediction_period_in_s": 150, "downtime": 10.0,
            "last_checkpoint": 90, "max_recovery_time": 240,
        },
    )
    assert r.status_code == 200
    out = r.get_json()
    assert len(out["candidates"]) == len(lat["candidates"])
    assert sum(c["is_best"] for c in out["candidates"]) <= 1


# two new profile rows for an append refit; they move the scaler and the trees
_APPEND_PROFILE = {
    "append": True, "scale_outs": [24, 2],
    "throughput_rates": [110000.0, 5000.0], "latencies": [60000.0, 700.0],
}


def test_latency_evaluation_scores_exactly_the_candidates(client, latency_job):
    """A non-contiguous candidate set: is_best lands on a candidate (the
    smallest valid one), never on a scale-out between candidates."""
    r = _latency_evaluation(client, latency_job, [2, 8, 24], 30000.0)
    assert r.status_code == 200
    cands = r.get_json()["candidates"]
    assert [c["scale_out"] for c in cands] == [2, 8, 24]
    valid = [c["scale_out"] for c in cands if c["is_valid"]]
    assert valid
    assert [c["scale_out"] for c in cands if c["is_best"]] == [min(valid)]


def test_latency_routes_reject_empty_scale_out_sets(client, latency_job):
    r = _latency_evaluation(client, latency_job, [], 30000.0)
    assert r.status_code == 400
    assert "empty" in r.get_json()["message"]
    r = client.post(
        "/latency/prediction",
        json={
            "job": latency_job, "min_scale_out": 10, "max_scale_out": 5,
            "scale_out": 10, "throughput_rate": 30000.0,
        },
    )
    assert r.status_code == 400
    assert "empty" in r.get_json()["message"]


@pytest.mark.filterwarnings("ignore::pytest.PytestUnhandledThreadExceptionWarning")
def test_failed_latency_refit_keeps_previous_model(client, latency_job, monkeypatch):
    """A refit that raises part-way (here in the GBT fit, after the
    clusterer and scaler of the new data are built) must leave the previous
    model serving unchanged results."""
    from pyspark.ml.regression import GBTRegressor

    before = _latency_evaluation(client, latency_job, range(2, 25), 50379.1, valid=range(2, 25))
    assert before.status_code == 200

    def boom(self, dataset, params=None):
        raise RuntimeError("injected GBT failure")

    monkeypatch.setattr(GBTRegressor, "fit", boom)
    r = client.post("/latency/training", json=dict(_APPEND_PROFILE, job=latency_job))
    _poll(client, r.get_json()["task_hash"])
    after = _latency_evaluation(client, latency_job, range(2, 25), 50379.1, valid=range(2, 25))
    assert after.status_code == 200
    assert after.data == before.data


def test_latency_reads_during_refit_see_one_model(client, latency_job):
    """Reads served while an append refit runs answer from the old model or
    the new one, never from a mix of the two."""
    def read():
        r = _latency_evaluation(client, latency_job, range(2, 25), 50379.1, valid=range(2, 25))
        assert r.status_code == 200
        return r.data

    before = read()
    r = client.post("/latency/training", json=dict(_APPEND_PROFILE, job=latency_job))
    task = r.get_json()["task_hash"]
    during = []
    deadline = time.time() + 120
    while client.get(f"/common/tasks/{task}").get_json() and time.time() < deadline:
        during.append(read())
    after = read()
    assert after != before
    assert during
    assert set(during) <= {before, after}
