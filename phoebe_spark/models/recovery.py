"""M7: recovery-time estimator — iterative Simpson catch-up integration.

Reference (/root/reference/analytics/app/recoverytime/models.py:41-129):
- ``eval_single`` (``:41-70``): starting window [last_ts - last_checkpoint,
  last_ts + ceil(downtime)], integrate the workload over the window with
  Simpson's rule, divide by the candidate's capacity (work volume / service
  rate = catch-up seconds), extend the window by ceil(time_comp) and repeat
  until the residual < 1 s; catch_up = sum of partial times.
- ``_process`` (``:72-116``): forecast future workload, total = Python-merge
  (overwrite + interpolate) of past+future, per candidate scale-out compute
  capacity (ridge) and catch-up; recovery_time = catch_up + downtime;
  finalize (restriction = max_recovery_time); also returns the binned peak
  of the forecast (A9: subsample -> max) and the forecast's OLS slope.

Scale note: candidate grids are <= 23 rows and workload series a few
thousand points, so the per-candidate loop runs driver-side over the
collected total-workload arrays (SURVEY §7.6), as do the forecaster's fit
and predict.
"""

from __future__ import annotations

import math

import numpy as np

from phoebe_spark.functions.numeric import simpson
from phoebe_spark.models.capacity import CapacityModel
from phoebe_spark.models.workload import WorkloadForecaster


def merge_overwrite_np(
    ts_a: np.ndarray, va: np.ndarray, ts_b: np.ndarray, vb: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Python-merge semantics on numpy arrays (workload/schemes.py:73-94):
    dense 1 s grid over the union span, later-ending series overwrites,
    linear interpolation both directions. (DataFrame equivalent:
    phoebe_spark.timeseries.core.merge_overwrite.)"""
    lo = int(min(ts_a.min(), ts_b.min()))
    hi = int(max(ts_a.max(), ts_b.max()))
    grid = np.arange(lo, hi + 1)
    vals = np.full(len(grid), np.nan)
    order = sorted(
        [(ts_a, va), (ts_b, vb)], key=lambda p: p[0].max()
    )  # ascending end_time; later overwrites
    for t, v in order:
        vals[np.asarray(t, dtype=int) - lo] = v
    import pandas as pd

    s = pd.Series(vals).interpolate(method="linear", limit_direction="both")
    return grid, s.to_numpy()


def eval_single(
    grid_ts: np.ndarray,
    grid_vals: np.ndarray,
    throughput_rate: float,
    start_time: int,
    end_time: int,
) -> float:
    """Iterative Simpson catch-up (recoverytime/models.py:41-70).
    ``grid_ts`` must be ascending, as ``merge_overwrite_np``'s dense grid
    is: each window is a ``searchsorted`` slice of it. Raises
    ``ValueError`` on a grid that is not."""
    if np.any(grid_ts[1:] < grid_ts[:-1]):
        raise ValueError("eval_single needs an ascending timestamp grid")
    partial: list[tuple[int, int, float]] = [(start_time, end_time, 0.0)]
    while True:
        s, e, _ = partial[-1]
        lo, hi = np.searchsorted(grid_ts, s, "left"), np.searchsorted(grid_ts, e, "right")
        if lo == hi:
            break
        time_comp = simpson(grid_vals[lo:hi], grid_ts[lo:hi]) * (1.0 / throughput_rate)
        partial[-1] = (s, e, time_comp)
        if time_comp < 1:
            break
        partial.append((e, e + math.ceil(time_comp), 0.0))
    return float(sum(p[2] for p in partial))


class RecoveryTimeModel:
    def __init__(self, capacity: CapacityModel | None = None):
        self.capacity = capacity or CapacityModel()

    def fit(self, scale_outs, max_throughput_rates) -> None:
        self.capacity.fit(scale_outs, max_throughput_rates)

    def predict(
        self,
        forecaster: WorkloadForecaster,
        past_ts: np.ndarray,
        past_vals: np.ndarray,
        scale_out_range: list[int],
        prediction_period_s: int,
        max_recovery_time: float,
        downtime: float,
        last_checkpoint: float,
        previously_valid: list[int] | None = None,
        bin_count: int = 4,
    ) -> dict:
        """Returns {candidates: [(scale_out, recovery_time, is_valid,
        is_best)], predicted_peak, slope} (recoverytime/models.py:72-116).

        ``bin_count`` controls the equal-width binning of the forecast used
        for the predicted peak; the reference defaults to 4 and its client
        sends 5 (ClientsManager:545)."""
        fut_ts, fut_vals = forecaster.predict(past_ts, past_vals, prediction_period_s)
        grid_ts, grid_vals = merge_overwrite_np(
            np.asarray(past_ts), np.asarray(past_vals), fut_ts, fut_vals
        )
        last_ts = int(np.asarray(past_ts)[-1])
        start = int(last_ts - last_checkpoint)
        end = int(last_ts + math.ceil(downtime))

        rows = []
        for so in scale_out_range:
            cap = float(self.capacity.predict([so])[0])
            catch_up = eval_single(grid_ts, grid_vals, cap, start, end)
            rows.append((so, catch_up + downtime))

        prev = set(previously_valid if previously_valid is not None else scale_out_range)
        rows.sort(key=lambda r: r[0])
        cands = [
            {
                "scale_out": so,
                "recovery_time": rt,
                "is_valid": (rt < max_recovery_time) and (so in prev),
                "is_best": False,
            }
            for so, rt in rows
        ]
        for c in cands:
            if c["is_valid"]:
                c["is_best"] = True
                break

        # predicted peak throughput = max of equal-width binned means (A9)
        n = len(fut_vals)
        slices = np.linspace(0, n, bin_count + 1, True).astype(int)
        counts = np.diff(slices)
        binned = np.add.reduceat(fut_vals, slices[:-1]) / np.where(counts == 0, 1, counts)
        # forecast slope (W10)
        x = fut_ts.astype(float)
        slope = float(np.polyfit(x, fut_vals, 1)[0]) if len(x) > 1 else 0.0

        return {
            "candidates": cands,
            "predicted_peak": float(np.max(binned)),
            "slope": slope,
        }
