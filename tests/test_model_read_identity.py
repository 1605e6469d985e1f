"""The control loop's reads give byte-identical answers to the former
pandas forecast grid and the mask-based Simpson window.

``WorkloadForecaster.predict`` once filled a pandas ``DataFrame`` with
``.loc`` writes and ``eval_single`` masked the whole grid on every Simpson
step; both are kept below as the oracle. Every forecast, recovery
candidate, predicted peak, slope and TWRES pick must match bit for bit,
and the models must be left in the same state (``predict`` appends the
new observations to each model)."""

from __future__ import annotations

import copy
import math

import numpy as np
import pandas as pd
import pytest

from phoebe_spark.functions.numeric import simpson
from phoebe_spark.models import recovery
from phoebe_spark.models.recovery import RecoveryTimeModel
from phoebe_spark.models.twres import TwresModel
from phoebe_spark.models.workload import WorkloadForecaster, _series, process_workload

SCALE_OUTS = [2, 5, 8, 11, 14, 17, 20, 23]


def _pandas_predict(self, timestamps, values, horizon_s):
    """The former ``WorkloadForecaster.predict``: a pandas frame over the
    horizon grid, filled per model with ``.loc``."""
    if not self.models:
        raise RuntimeError("not fitted")
    max_horizon = self.num_models * self.step_size
    if horizon_s > max_horizon:
        raise ValueError(f"horizon {horizon_s} > cap {max_horizon}")
    ts, vals = _series(timestamps, values)
    processed = process_workload(ts, vals, self.step_size)
    ts = ts.astype(int)
    end_time = int(ts[-1])
    horizon_grid = np.arange(end_time, end_time + len(self.models) * self.step_size + 1)
    df = pd.DataFrame(index=horizon_grid, columns=sorted(self.models), dtype=float)
    for model_id in sorted(self.models):
        w = self.models[model_id]
        stride = max(w.step_size, 1)
        targets = np.arange(w.last_learned_timestamp + stride, end_time + 1, stride)
        sel = np.isin(ts, targets)
        if sel.any():
            w.update(processed[sel])
            w.last_learned_timestamp = int(ts[sel][-1])
        if df.isnull().values.all():
            df.iloc[0, :] = processed[-1]
        tgts = [
            t
            for t in np.arange(w.last_learned_timestamp + stride, horizon_grid[-1] + 1, stride)
            if t > end_time
        ]
        if tgts:
            preds = w.predict(len(tgts))
            df.loc[tgts, model_id] = preds[: len(tgts)]
    M = df[sorted(df.columns)].to_numpy(dtype=float)
    acc = np.full(len(df), np.nan)
    for j in range(M.shape[1]):
        x = M[:, j]
        m = ~np.isnan(x)
        start = m & np.isnan(acc)
        acc[start] = x[start]
        upd = m & ~start
        acc[upd] += (x[upd] - acc[upd]) / 3.0
    s = pd.Series(acc, index=df.index)
    s = s.interpolate(method="linear", limit_direction="both")
    s = s.rolling(min_periods=1, window=120, center=True).mean()
    vals = s.to_numpy()[1:]
    out_ts = np.arange(end_time + 1, end_time + 1 + len(vals))
    self.predicted = (out_ts[:horizon_s], vals[:horizon_s])
    return self.predicted


def _mask_eval_single(grid_ts, grid_vals, throughput_rate, start_time, end_time):
    """The former ``eval_single``: one full-grid mask per Simpson step."""
    partial = [(start_time, end_time, 0.0)]
    while True:
        s, e, _ = partial[-1]
        mask = (grid_ts >= s) & (grid_ts <= e)
        if not mask.any():
            break
        t, v = grid_ts[mask], grid_vals[mask]
        time_comp = simpson(v, t) * (1.0 / throughput_rate)
        partial[-1] = (s, e, time_comp)
        if time_comp < 1:
            break
        partial.append((e, e + math.ceil(time_comp), 0.0))
    return float(sum(p[2] for p in partial))


def _load(rng, t):
    """perfbench's control-loop load: a two-hour sine at 15k-45k records/s
    with 1% noise."""
    base = 15_000 * np.sin(2 * np.pi * t / 7_200) + 30_000
    return np.abs(base * (1 + rng.normal(0, 0.01, len(t))))


def _windows(shape: str, seed: int):
    """The fit window, then the windows the reads run on."""
    rng = np.random.default_rng(seed)
    if shape == "short":  # shorter than one 30 s stride
        t = np.arange(20)
        v = _load(rng, t)
        return (t, v), [(t, v)]
    if shape == "gap":  # 400 s missing in the middle of the window
        t = np.concatenate([np.arange(0, 3000), np.arange(3400, 7200)])
        v = _load(rng, t)
        return (t[:-300], v[:-300]), [(t, v)]
    if shape == "out_of_order":  # the newest 100 s arrive before the 100 s ahead of them
        t = np.concatenate([np.arange(0, 7000), np.arange(7100, 7200), np.arange(7000, 7100)])
        v = _load(rng, t)
        return (t[:6900], v[:6900]), [(t, v)]
    t = np.arange(7200)
    v = _load(rng, t)
    fit, reads = (t, v), [(t, v)]
    for step in (1, 60, 3600):  # the sliding two-hour window advances
        nt = np.arange(t[-1] + 1, t[-1] + 1 + step)
        t, v = np.concatenate([t[step:], nt]), np.concatenate([v[step:], _load(rng, nt)])
        reads.append((t, v))
    return fit, reads


def _reads(f, rec, twres, t, v) -> list:
    """Bytes of one control-loop read mix on ``(t, v)``."""
    out = [a.tobytes() for h in (120, 600) for a in f.predict(t, v, horizon_s=h)]
    r = rec.predict(
        f, t, v, scale_out_range=list(range(2, 25)), prediction_period_s=150,
        max_recovery_time=240.0, downtime=10.0, last_checkpoint=90.0,
    )
    out += [
        (c["scale_out"], np.float64(c["recovery_time"]).tobytes(), c["is_valid"], c["is_best"])
        for c in r["candidates"]
    ]
    out += [np.float64(r["predicted_peak"]).tobytes(), np.float64(r["slope"]).tobytes()]
    out.append(twres.predict(
        f, t, v, current_scale_out=10, min_scale_out=2, max_scale_out=24,
        time_window_interval=600, avg_latency=1000.0, max_latency_constraint=2000.0,
    ))
    out.append({
        i: (w.history.tobytes(), w.last_learned_timestamp) for i, w in f.models.items()
    })
    return out


@pytest.mark.parametrize("shape", ["advancing", "gap", "out_of_order", "short"])
@pytest.mark.parametrize("seed", [3, 17, 29])
def test_numpy_reads_match_pandas_reference(monkeypatch, seed, shape):
    fit, reads = _windows(shape, seed)
    fitted = WorkloadForecaster()
    fitted.fit(*fit)
    caps = [18000.0 + 2400.0 * so for so in SCALE_OUTS]
    rec, twres = RecoveryTimeModel(), TwresModel()
    rec.fit(SCALE_OUTS, caps)
    twres.fit(SCALE_OUTS, caps)

    def run() -> list:
        f = copy.deepcopy(fitted)
        return [_reads(f, rec, twres, t, v) for t, v in reads]

    got = run()
    with monkeypatch.context() as m:
        m.setattr(WorkloadForecaster, "predict", _pandas_predict)
        m.setattr(recovery, "eval_single", _mask_eval_single)
        want = run()
    assert got == want
