"""M1-M3: ensemble workload forecaster.

Reference pipeline (/root/reference/analytics/app/workload/models.py):
- preprocess (``:53-73``): savgol(51, 3) smoothing with degenerate-window
  correction, then centered exponential rolling mean over 2*step_size with
  linear interpolation.
- fit (``:75-94, 149-164``): for model_id 1..num_models, subsample the
  processed series at stride model_id*step_size (anchored at the newest
  point) and fit a per-stride forecaster; the reference fans the 20 fits
  over a multiprocessing.Pool. Here a "fit" is only a strided slice of a
  series the driver already holds (the least squares runs in ``predict``),
  so the models are built in a plain loop on the driver and no Spark job
  runs.
- predict (``:96-136, 166-183``): per model, merge cached+new workload
  (Python merge = overwrite+interpolate), incrementally update with
  observations at the model's stride, forecast onto a shared
  [timestamps x model_ids] grid, then ensemble: EWM(span=5) across models,
  linear interpolation, centered rolling(120) mean, last column, rows [1:],
  truncated to the requested horizon. Horizon cap = num_models*step_size
  (``routes.py:31-35``).

auto_arima is unavailable in this container; each per-stride model is an
AR(p) fit by least squares on the strided series with the same
update/predict contract (incremental observation append + n-step iterated
forecast). Statistical acceptance is MAPE-threshold based (SURVEY §5), not
bit-exact, so the substitution is observable only through forecast quality.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from phoebe_spark.functions.numeric import exp_rolling_mean, savgol_filter

NUM_MODELS = 20
STEP_SIZE = 30
SMOOTH_ARGS = (51, 3)
AR_ORDER = 3


def _series(timestamps: np.ndarray, values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The workload as two arrays; raises ``ValueError`` on an empty series,
    on timestamp and value arrays of different lengths, or on a null/NaN
    timestamp or value (naming the first one): one NaN would survive the
    smoothing into every strided history and fail the least squares."""
    ts, vals = np.asarray(timestamps), np.asarray(values)
    if len(ts) != len(vals):
        raise ValueError(f"{len(ts)} timestamps but {len(vals)} values")
    if not len(ts):
        raise ValueError("empty workload series")
    bad = np.flatnonzero(pd.isna(ts) | pd.isna(vals))
    if len(bad):
        i = int(bad[0])
        raise ValueError(
            f"null or NaN in the workload series at timestamp {ts[i]} (index {i}); "
            f"{len(bad)} of {len(ts)} points"
        )
    return ts, vals


def process_workload(
    timestamps: np.ndarray, values: np.ndarray, step_size: int = STEP_SIZE,
    smooth_args: tuple[int, int] = SMOOTH_ARGS,
) -> np.ndarray:
    """Preprocess: corrected savgol + centered exponential-kernel rolling
    mean + linear interpolation (workload/models.py:53-73)."""
    data = np.asarray(values, dtype=float)
    if not len(data):
        return data
    window, poly = smooth_args
    corr_ws = min(window, len(data))
    corr_ws = corr_ws if corr_ws % 2 == 1 else corr_ws - 1
    corr_poly = min(poly, corr_ws - 1)
    smooth = savgol_filter(data, corr_ws, corr_poly)
    # centered exponential-kernel rolling mean (the reference's pandas
    # win_type='exponential' needs scipy; numpy equivalent in functions.
    # numeric). min_periods=1 means no NaNs, so the reference's trailing
    # interpolate() is a no-op here.
    return exp_rolling_mean(smooth, int(2 * step_size))


@dataclass
class ArModelWrapper:
    """Per-stride forecaster with the reference ArimaModelWrapper contract
    (step_size, last_learned_timestamp, cached history, update, predict).
    Model: AR(AR_ORDER) on the strided series, refit-on-update least
    squares — cheap (history <= a few thousand points)."""

    step_size: int
    last_learned_timestamp: int
    history: np.ndarray = field(default_factory=lambda: np.array([], dtype=float))

    def _design(self, series: np.ndarray):
        p = min(AR_ORDER, max(1, len(series) - 2))
        rows = len(series) - p
        if rows < 1:
            return None, None, p
        X = np.column_stack([series[i : i + rows] for i in range(p)][::-1])
        X = np.column_stack([np.ones(rows), X])
        y = series[p:]
        return X, y, p

    def update(self, new_obs: np.ndarray) -> None:
        self.history = np.concatenate([self.history, np.asarray(new_obs, dtype=float)])

    def predict(self, n_periods: int) -> np.ndarray:
        series = self.history
        if len(series) == 0:
            return np.zeros(n_periods)
        X, y, p = self._design(series)
        if X is None:
            return np.full(n_periods, series[-1])
        coef, *_ = np.linalg.lstsq(X, y, rcond=None)
        out = []
        buf = list(series[-p:])
        for _ in range(n_periods):
            x = np.concatenate([[1.0], buf[::-1][:p]])
            nxt = float(x @ coef)
            out.append(nxt)
            buf.append(nxt)
            buf = buf[-p:]
        return np.array(out)


class WorkloadForecaster:
    """Ensemble forecaster; fit slices the per-model histories on the
    driver, predict is a per-model update+forecast with the reference's
    ensemble combine."""

    def __init__(self, num_models: int = NUM_MODELS, step_size: int = STEP_SIZE):
        self.num_models = num_models
        self.step_size = step_size
        self.models: dict[int, ArModelWrapper] = {}
        self.predicted: tuple[np.ndarray, np.ndarray] | None = None

    # -- fit ---------------------------------------------------------------
    def fit(self, timestamps: np.ndarray, values: np.ndarray) -> None:
        """Fit num_models strided AR models (workload/models.py:149-164):
        model ``i`` keeps every ``i*step_size``-th processed point, anchored
        at the newest. Raises ``ValueError`` on an empty series, on
        arrays of different lengths or on a null/NaN point."""
        ts, vals = _series(timestamps, values)
        processed = process_workload(ts, vals, self.step_size)
        end_time = int(ts[-1])
        count = len(processed)
        self.models = {}
        for model_id in range(1, self.num_models + 1):
            stride = model_id * self.step_size
            idx = ((count - 1) - np.arange(0, count, stride))[::-1]
            w = ArModelWrapper(step_size=stride, last_learned_timestamp=end_time)
            w.update(processed[idx])
            self.models[model_id] = w

    # -- predict -----------------------------------------------------------
    def predict(self, timestamps: np.ndarray, values: np.ndarray, horizon_s: int) -> tuple[np.ndarray, np.ndarray]:
        """Forecast ``horizon_s`` seconds past the end of the given
        workload. Each model forecasts onto its column of a numpy
        [horizon second x model] grid whose row 0 holds the newest
        processed value; the ensemble combine follows
        workload/models.py:128-136: EWM(span 5) across model columns,
        interpolate along time, centered rolling(120), last column, rows
        [1:], truncated to horizon. Raises ``ValueError`` on an empty
        series, on arrays of different lengths, on a null/NaN point or on
        a horizon past the cap."""
        if not self.models:
            raise RuntimeError("not fitted")
        max_horizon = self.num_models * self.step_size
        if horizon_s > max_horizon:
            raise ValueError(f"horizon {horizon_s} > cap {max_horizon}")
        ts, vals = _series(timestamps, values)
        processed = process_workload(ts, vals, self.step_size)
        ts = ts.astype(int)
        end_time = int(ts[-1])
        span = len(self.models) * self.step_size
        M = np.full((span + 1, len(self.models)), np.nan)
        M[0, :] = processed[-1]
        # every update target lies past the oldest last_learned_timestamp
        unseen = np.flatnonzero(
            (ts > min(w.last_learned_timestamp for w in self.models.values())) & (ts <= end_time)
        )
        ts_unseen = ts[unseen]

        for j, model_id in enumerate(sorted(self.models)):
            w = self.models[model_id]
            # incremental update at the model's stride, anchored FORWARD
            # from last_learned_timestamp (ArimaModelWrapper.
            # compute_target_timestamps, workload/models.py:27-38):
            # targets = arange(last_learned + stride, end + 1, stride)
            stride = max(w.step_size, 1)
            first = w.last_learned_timestamp + stride
            sel = unseen[(ts_unseen >= first) & ((ts_unseen - first) % stride == 0)]
            if len(sel):
                w.update(processed[sel])
                w.last_learned_timestamp = int(ts[sel[-1]])
            # forecast targets continue the same phase past end_time
            # (workload/models.py:126-131)
            tg = np.arange(w.last_learned_timestamp + stride, end_time + span + 1, stride)
            tg = tg[tg > end_time]
            if len(tg):
                M[tg - end_time, j] = w.predict(len(tg))

        # Only the LAST column of the horizontal EWM is consumed, and
        # interpolate/rolling are column-independent — so the reference's
        # ewm(axis=1, span=5, adjust=False, ignore_na=True) + interpolate +
        # centered rolling(120) collapses to: per-row left fold
        # acc + (x - acc)/3 over non-NaN values in column order, then the
        # 1-D interpolate + rolling on that single series (same closed form
        # as the JVM-side q36_ewm_ensemble).
        acc = np.full(len(M), np.nan)
        for j in range(M.shape[1]):
            x = M[:, j]
            m = ~np.isnan(x)
            start = m & np.isnan(acc)
            acc[start] = x[start]
            upd = m & ~start
            acc[upd] += (x[upd] - acc[upd]) / 3.0
        s = pd.Series(acc)
        s = s.interpolate(method="linear", limit_direction="both")
        s = s.rolling(min_periods=1, window=120, center=True).mean()
        vals = s.to_numpy()[1:]
        out_ts = np.arange(end_time + 1, end_time + 1 + len(vals))
        self.predicted = (out_ts[:horizon_s], vals[:horizon_s])
        return self.predicted

    def eval_accuracy(self, timestamps: np.ndarray, values: np.ndarray) -> dict[str, float] | None:
        """M3: compare the previous forecast to realized values over the
        overlap (workload/models.py:138-147)."""
        if self.predicted is None:
            return None
        pts, pvals = self.predicted
        mask = np.isin(pts, np.asarray(timestamps))
        if not mask.any():
            return None
        realized = {int(t): v for t, v in zip(timestamps, values)}
        y_pred = pvals[mask]
        y_true = np.array([realized[int(t)] for t in pts[mask]])
        n = min(len(y_true), len(y_pred))
        y_true, y_pred = y_true[:n], y_pred[:n]
        d = y_true - y_pred
        return {
            "mae": float(np.mean(np.abs(d))),
            "median_ae": float(np.median(np.abs(d))),
            "mape": float(np.mean(np.abs(d / np.where(y_true == 0, 1, y_true)))),
            "mse": float(np.mean(d * d)),
            "rmse": float(np.sqrt(np.mean(d * d))),
        }

