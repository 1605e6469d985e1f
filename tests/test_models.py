"""Behavioral tests for the model families, mirroring the reference's
api_test flows (/root/reference/analytics/app/test/api_test.py) on synthetic
fixtures per FIXTURES.md §3/§8. Statistical models get threshold acceptance
(SURVEY §5), decision rules get exact assertions."""

from __future__ import annotations

import os

import numpy as np
import pytest

from phoebe_spark.functions.numeric import nnls, ridge_cv, savgol_filter, simpson
from phoebe_spark.models.capacity import CapacityModel
from phoebe_spark.models.recovery import RecoveryTimeModel, eval_single, merge_overwrite_np
from phoebe_spark.models.twres import TwresModel, mst_fmap
from phoebe_spark.models.workload import WorkloadForecaster, process_workload
from phoebe_spark.sources.csv import read_timeseries_csv

SCALE_OUTS = [2, 5, 8, 11, 14, 17, 20, 23]


def _capacity_rows():
    """One backpressure (capacity ceiling) row per scale-out, ~linear in
    scale-out like profiles2.csv (~20K rec/s per profiling step)."""
    rng = np.random.default_rng(42)
    return SCALE_OUTS, [18000 + 2400 * so + rng.normal(0, 300) for so in SCALE_OUTS]


# -- numeric kernels -------------------------------------------------------


def test_savgol_exact_on_cubic():
    x = np.arange(60, dtype=float)
    y = 0.02 * x**3 - 0.5 * x**2 + 3 * x - 7
    out = savgol_filter(y, 11, 3)
    assert np.allclose(out, y, atol=1e-6)


def test_savgol_degenerate_window_falls_back():
    y = np.array([1.0, 2.0, 3.0])
    out = savgol_filter(y, 51, 3)
    assert len(out) == 3 and np.all(np.isfinite(out))


def test_simpson_exact_on_quadratic():
    for n in (5, 6, 9, 10):
        x = np.linspace(0, 4, n)
        y = 3 * x**2 + 2 * x + 1
        exact = 4**3 + 4**2 + 4
        assert simpson(y, x) == pytest.approx(exact, rel=1e-3)


def test_nnls_recovers_nonnegative_solution():
    rng = np.random.default_rng(0)
    A = rng.random((30, 4))
    x_true = np.array([1.5, 0.0, 2.0, 0.5])
    b = A @ x_true
    x, resid = nnls(A, b)
    assert np.allclose(x, x_true, atol=1e-8)
    assert resid < 1e-8


def test_ridge_cv_recovers_line():
    x = np.arange(8, dtype=float)
    y = 3.0 * x + 10.0
    coef, intercept, alpha = ridge_cv(x.reshape(-1, 1), y)
    assert coef[0] == pytest.approx(3.0, rel=0.05)
    assert intercept == pytest.approx(10.0, rel=0.15)


# -- M6 capacity -----------------------------------------------------------


def test_capacity_model_monotonic():
    so, thr = _capacity_rows()
    m = CapacityModel()
    m.fit(so, thr)
    preds = m.predict(list(range(2, 25)))
    assert np.all(np.diff(preds) > 0)
    assert m.predict([12])[0] == pytest.approx(18000 + 2400 * 12, rel=0.1)


# -- M8 TWRES --------------------------------------------------------------


class _FakeForecaster:
    """Duck-typed forecaster returning a constant-rate future."""

    def __init__(self, rate: float):
        self.rate = rate

    def predict(self, ts, vals, horizon):
        end = int(np.asarray(ts)[-1])
        t = np.arange(end + 1, end + 1 + horizon)
        return t, np.full(horizon, self.rate)


def test_twres_mst_fmap_columns():
    out = mst_fmap([2.0])
    assert np.allclose(out, [[1.0, 2.0, 0.5, 0.25]])


def test_twres_decision_rules():
    so, thr = _capacity_rows()
    m = TwresModel()
    m.fit(so, thr)
    past_ts = np.arange(1000, 1600)
    past_vals = np.full(600, 30000.0)

    # load above current capacity -> min scale-out meeting the window load
    heavy = _FakeForecaster(rate=1e9)
    pick = m.predict(heavy, past_ts, past_vals, current_scale_out=4,
                     min_scale_out=2, max_scale_out=24, time_window_interval=600,
                     avg_latency=100, max_latency_constraint=2000)
    # nothing meets an absurd load -> argmax(mstw - load) = largest capacity
    assert pick == max(range(2, 25), key=lambda s: m.calculate_mstw([s], 600)[0])

    # under capacity + latency SLA violated -> scale_out + 1
    light = _FakeForecaster(rate=1.0)
    pick = m.predict(light, past_ts, past_vals, current_scale_out=10,
                     min_scale_out=2, max_scale_out=24, time_window_interval=600,
                     avg_latency=5000, max_latency_constraint=2000)
    assert pick == 11

    # under capacity + SLA fine -> min scale-out whose MSTW clears the load
    pick = m.predict(light, past_ts, past_vals, current_scale_out=10,
                     min_scale_out=2, max_scale_out=24, time_window_interval=600,
                     avg_latency=100, max_latency_constraint=2000)
    mstw = {s: m.calculate_mstw([s], 600)[0] for s in range(2, 25)}
    expected = next(s for s in range(2, 25) if mstw[s] > 600.0)
    assert pick == expected


# -- M1-M3 workload forecaster --------------------------------------------


def _sine_workload(n: int, period: int = 600, start: int = 0):
    t = np.arange(start, start + n)
    rng = np.random.default_rng(42)
    vals = np.abs((1000 * np.sin(2 * np.pi * t / period) + 2000) * (1 + rng.normal(0, 0.01, n)))
    return t, vals


def test_process_workload_smooths():
    t, v = _sine_workload(2000)
    out = process_workload(t, v)
    assert len(out) == len(v)
    # smoothing reduces variance of first differences
    assert np.std(np.diff(out)) < np.std(np.diff(v))


def test_workload_forecaster_fit_predict():
    t, v = _sine_workload(3600)
    f = WorkloadForecaster()
    f.fit(t, v)
    assert len(f.models) == f.num_models
    fut_ts, fut_vals = f.predict(t, v, horizon_s=120)
    assert len(fut_ts) == len(fut_vals) == 120
    assert fut_ts[0] == t[-1] + 1
    # threshold acceptance: MAPE vs the true (noise-free) continuation
    true = np.abs(1000 * np.sin(2 * np.pi * fut_ts / 600) + 2000)
    mape = float(np.mean(np.abs((true - fut_vals) / true)))
    assert mape < 0.25, f"forecast MAPE {mape:.3f} too high"
    # M3 accuracy eval over realized observations
    metrics = f.eval_accuracy(fut_ts[:60], true[:60])
    assert metrics is not None and metrics["mape"] < 0.5


def test_workload_forecaster_horizon_cap():
    t, v = _sine_workload(1200)
    f = WorkloadForecaster(num_models=3, step_size=30)
    f.fit(t, v)
    with pytest.raises(ValueError):
        f.predict(t, v, horizon_s=91)


@pytest.mark.parametrize("method", ["fit", "predict"])
@pytest.mark.parametrize(
    "ts, vals",
    [([], []), ([0, 1, 2], [1.0, 2.0]), ([0, 1], [1.0, 2.0, 3.0])],
    ids=["empty", "fewer_values", "fewer_timestamps"],
)
def test_workload_forecaster_rejects_degenerate_series(method, ts, vals):
    f = WorkloadForecaster(num_models=3, step_size=30)
    t, v = _sine_workload(600)
    f.fit(t, v)
    with pytest.raises(ValueError):
        if method == "fit":
            f.fit(np.array(ts), np.array(vals))
        else:
            f.predict(np.array(ts), np.array(vals), horizon_s=60)


@pytest.mark.parametrize("method", ["fit", "predict"])
def test_workload_forecaster_rejects_null_value(method):
    """One NaN value names its timestamp in a ``ValueError`` instead of
    failing the least squares with ``LinAlgError``."""
    f = WorkloadForecaster(num_models=3, step_size=30)
    t, v = _sine_workload(3600)
    f.fit(t, v)
    v[1000] = np.nan
    with pytest.raises(ValueError, match=f"at timestamp {t[1000]} "):
        if method == "fit":
            f.fit(t, v)
        else:
            f.predict(t, v, horizon_s=60)


def _spark_fan_out_fit(spark, f: WorkloadForecaster, timestamps, values) -> None:
    """The former ``WorkloadForecaster.fit``: the processed series is
    broadcast, one ``applyInPandas`` group per model_id slices it and the
    models come back as pickled blobs."""
    import pickle

    import pandas as pd

    from phoebe_spark.models.workload import ArModelWrapper

    processed = process_workload(timestamps, values, f.step_size)
    ts = np.asarray(timestamps)
    end_time = int(ts[-1])
    step = f.step_size
    bpayload = spark.sparkContext.broadcast(pickle.dumps((ts, processed)))

    def _fit_one(pdf: pd.DataFrame) -> pd.DataFrame:
        model_id = int(pdf["model_id"].iloc[0])
        t, v = pickle.loads(bpayload.value)
        stride = model_id * step
        count = len(v)
        idx = (count - 1) - np.arange(0, count, stride)
        idx = idx[::-1].astype(int)
        w = ArModelWrapper(step_size=stride, last_learned_timestamp=end_time)
        w.update(v[idx])
        return pd.DataFrame({"model_id": [model_id], "blob": [pickle.dumps(w)]})

    fitted = (
        spark.createDataFrame([(i,) for i in range(1, f.num_models + 1)], "model_id INT")
        .groupBy("model_id")
        .applyInPandas(_fit_one, "model_id INT, blob BINARY")
        .collect()
    )
    f.models = {r["model_id"]: pickle.loads(bytes(r["blob"])) for r in fitted}


def _bench_m1_series():
    """bench.py's m1/m2 series: 6 h of 1 Hz samples."""
    rng = np.random.default_rng(42)
    t = np.arange(21_600)
    vals = np.abs(
        (100_000 * np.sin(2 * np.pi * t / 7_200) + 100_000) * (1 + rng.normal(0, 0.01, len(t)))
    )
    return t, vals


def _fitted_and_forecasts(f: WorkloadForecaster, t, v):
    """Every model's (history bytes, stride, last learned timestamp) right
    after the fit, then the forecast bytes at horizons 120 and 600 on the
    full series."""
    models = {
        i: (w.history.tobytes(), w.step_size, w.last_learned_timestamp)
        for i, w in f.models.items()
    }
    forecasts = [
        tuple(a.tobytes() for a in f.predict(t, v, horizon_s=h)) for h in (120, 600)
    ]
    return models, forecasts


@pytest.mark.parametrize("series", ["sine_1h", "bench_m1_6h"])
def test_driver_fit_matches_spark_fan_out(spark, series):
    """The driver loop builds the same models as the former Spark fan-out
    and the same forecasts, and fit + predict start no Spark job. The fit
    leaves out the last 300 points so predict's incremental update runs."""
    t, v = _sine_workload(3600) if series == "sine_1h" else _bench_m1_series()
    oracle = WorkloadForecaster()
    _spark_fan_out_fit(spark, oracle, t[:-300], v[:-300])
    want = _fitted_and_forecasts(oracle, t, v)

    sc = spark.sparkContext
    group = "workload-forecaster-no-job"
    sc.setJobGroup(group, "workload fit and predict")
    try:
        f = WorkloadForecaster()
        f.fit(t[:-300], v[:-300])
        got = _fitted_and_forecasts(f, t, v)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert sorted(got[0]) == list(range(1, 21))
    assert got == want


# -- M7 recovery time ------------------------------------------------------


def test_merge_overwrite_np_matches_golden():
    ts1, v1 = np.array([0, 1, 2, 3]), np.array([1.0, 2, 2, 3])
    ts2, v2 = np.array([7, 8, 9, 10]), np.array([8.0, 9, 9, 10])
    g, vals = merge_overwrite_np(ts1, v1, ts2, v2)
    assert list(g) == list(range(11))
    assert list(vals) == [1, 2, 2, 3, 4.25, 5.5, 6.75, 8, 9, 9, 10]


def test_eval_single_converges():
    grid = np.arange(0, 2000)
    vals = np.full(2000, 1000.0)  # constant 1000 ev/s backlog inflow
    # capacity 10000 ev/s: 100 s window holds 1e5 events -> 10 s catch-up,
    # which itself accumulates 1e4 -> 1 s ... geometric, ~11.2 s total
    catch_up = eval_single(grid, vals, 10000.0, 100, 200)
    assert 10.5 < catch_up < 12.5


def test_eval_single_rejects_unsorted_grid():
    """Each Simpson window is a ``searchsorted`` slice, so a grid that is not
    ascending raises instead of integrating the wrong points."""
    with pytest.raises(ValueError, match="ascending"):
        eval_single(np.array([0, 2, 1, 3]), np.ones(4), 1.0, 0, 3)


def test_recovery_time_model_end_to_end():
    so, thr = _capacity_rows()
    t, v = _sine_workload(3600)
    f = WorkloadForecaster(num_models=5, step_size=30)
    f.fit(t, v)
    m = RecoveryTimeModel()
    m.fit(so, thr)
    out = m.predict(
        f, t, v, scale_out_range=list(range(2, 25)), prediction_period_s=150,
        max_recovery_time=240.0, downtime=10.0, last_checkpoint=90.0,
    )
    cands = out["candidates"]
    assert len(cands) == 23
    # recovery time decreases (weakly) with scale-out: more capacity,
    # faster catch-up
    rts = [c["recovery_time"] for c in cands]
    assert rts[0] >= rts[-1]
    # at most one best; best is the first valid by scale-out
    bests = [c for c in cands if c["is_best"]]
    assert len(bests) <= 1
    if bests:
        first_valid = next(c for c in cands if c["is_valid"])
        assert bests[0]["scale_out"] == first_valid["scale_out"]
    assert out["predicted_peak"] > 0


# -- CARS dataset replay (VERDICT r1 #9) -----------------------------------

_CARS_CSV = "/root/reference/analytics/app/cars_1D_1S_35K_small.csv"


@pytest.mark.skipif(not os.path.exists(_CARS_CSV), reason="CARS fixture csv absent")
def test_forecaster_on_cars_replay(spark):
    """Startup pre-train acceptance on the reference's real workload shape
    (``prepare_model.py:50-72``): the CARS 1 Hz trace read through the S1
    CSV source, value x5 ("5 generators"), tiled to train+update+test
    length on an arange grid, 1% multiplicative noise at seed 42. The
    forecaster must fit the train span, absorb the update span
    incrementally, and beat a MAPE threshold on the held-out test span —
    the same statistical-acceptance gate the reference applies at boot."""
    train, update, test = 3600, 600, 600
    need = train + update + test

    raw = (
        read_timeseries_csv(spark, _CARS_CSV)
        .orderBy("timestamp")
        .toPandas()
    )
    vals = np.tile(raw["value"].to_numpy(dtype=float) * 5, int(np.ceil(need / len(raw))))[:need]
    rng = np.random.RandomState(42)
    vals = np.abs(vals + vals * rng.normal(0, 0.01, len(vals)))
    ts = np.arange(need)

    f = WorkloadForecaster(num_models=10, step_size=60)
    f.fit(ts[:train], vals[:train])
    fut_ts, fut_vals = f.predict(ts[: train + update], vals[: train + update], horizon_s=test)
    y_true = vals[-test:]
    mape = float(np.mean(np.abs((y_true - fut_vals) / np.where(y_true == 0, 1, y_true))))
    assert mape < 0.25, f"CARS replay forecast MAPE {mape:.3f} too high"

