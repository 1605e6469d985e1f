"""The OPTIMIZE control-loop step (SURVEY §3.3, M9-M10) — the composite
"query" of the engine.

Reference (/root/reference/src/main/java/de/tu_berlin/dos/phoebe/execution/
phoebe/Graph.java:228-284), every evaluation interval:

1. metric scan: workload since last step; avgLat/avgThr over the trailing
   avg window (120 s).
2. incremental latency-model training with (currScaleOut, avgThr, avgLat),
   append=true.
3. recovery-time prediction over the scale-out range (forecast + Simpson).
4. latency evaluation on the recovery-time candidates.
5. decision: ``max(bestByRecTime, bestByMinLatency)`` then
   ``LatencyResponse.getBestScaleOut`` (workload-slope / validity
   override); rescale only if the target differs from current by more than
   a 1-2 step downscale.
6. record a prediction row.

The models fit and predict on the driver; only the metric aggregation and
the profile-store write use the session. This module is the driver-side
composition, as in the reference where the Java FSM orchestrates.

Decision rules (clients/analytics/responses/LatencyResponse.java:35-73 and
RecTimeResponse.java:42-61):
- best_scale_out_by_min_value: walk candidates; prefer a smaller scale-out
  whose value is within 5% relative tolerance of the best seen; otherwise
  take strictly-better values.
- best_scale_out: candidate flagged is_best wins; if the workload slope is
  positive and the current scale-out is still valid, hold the current one.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class Candidate:
    scale_out: int
    value: float
    is_valid: bool = False
    is_best: bool = False


def best_scale_out_by_min_value(current: Candidate, candidates: list[Candidate], tol: float = 0.05) -> int:
    """LatencyResponse.getBestScaleOutByMinLatency (:40-59): iterate
    candidates, moving to a smaller scale-out when its value is within
    ``tol`` relative tolerance, or to any strictly better value."""
    best_val = current.value
    best_so = current.scale_out
    for item in candidates:
        rel = abs((best_val - item.value) / item.value)
        if rel < tol and item.scale_out < best_so:
            best_val, best_so = item.value, item.scale_out
        elif rel > tol and item.value < best_val:
            best_val, best_so = item.value, item.scale_out
    return best_so


def best_scale_out(
    candidates: list[Candidate], slope: float, current: Candidate, max_scale_out: int
) -> int:
    """LatencyResponse.getBestScaleOut (:55-73): the is_best candidate
    overrides the max; a rising workload holds the current scale-out while
    it remains valid."""
    best = max_scale_out
    for item in candidates:
        if item.is_best:
            best = item.scale_out
    if slope > 0 and current.is_valid:
        best = current.scale_out
    return best


def should_rescale(best: int, current: int) -> bool:
    """Graph.java:263: rescale unless the move is a no-op or only a 1-2
    step downscale (avoids churn on marginal downscales)."""
    return best not in (current, current - 1, current - 2)


def trailing_avg(metrics: DataFrame, series_key: str, start: int, end: int) -> float:
    """avg over the trailing window, inclusive slice (W1+W2+A1)."""
    row = (
        metrics.filter(
            (F.col("series_key") == series_key) & F.col("timestamp").between(start, end)
        )
        .agg(F.avg("value").alias("a"))
        .collect()[0]
    )
    return float(row["a"]) if row["a"] is not None else float("nan")


def optimize_step(
    spark: SparkSession,
    metrics: DataFrame,
    workload_ts: np.ndarray,
    workload_vals: np.ndarray,
    latency_model,
    recovery_model,
    forecaster,
    current_scale_out: int,
    min_scale_out: int,
    max_scale_out: int,
    max_recovery_time: float,
    avg_window: int = 120,
    prediction_period_s: int = 600,
    downtime: float = 110.0,
    last_checkpoint: float = 10.0,
    record_to: tuple[int, str] | None = None,
) -> dict:
    """One evaluation-interval step; returns the decision record.

    When ``record_to=(expId, genType)`` is given and the step decides to
    rescale, the decision row is persisted to the ``predictions`` store
    (``Graph.java:275`` -> ``DataManager.addPrediction``) with the NEW
    scale-out and the predicted latency/recovery-time at that scale-out."""
    now = int(workload_ts[-1])
    avg_lat = trailing_avg(metrics, "latency", now - avg_window, now)
    avg_thr = trailing_avg(metrics, "thrRate", now - avg_window, now)

    # 2. incremental latency training (append)
    latency_model.fit(
        [(int(current_scale_out), float(avg_thr), float(avg_lat))],
        append=latency_model.previous_data is not None,
    )

    # 3. recovery-time prediction over the full range
    rec = recovery_model.predict(
        forecaster, workload_ts, workload_vals,
        scale_out_range=list(range(min_scale_out, max_scale_out + 1)),
        prediction_period_s=prediction_period_s,
        max_recovery_time=max_recovery_time,
        downtime=downtime,
        last_checkpoint=last_checkpoint,
    )
    rec_cands = [
        Candidate(c["scale_out"], c["recovery_time"], c["is_valid"], c["is_best"])
        for c in rec["candidates"]
    ]
    rec_current = next(c for c in rec_cands if c.scale_out == current_scale_out)
    best_by_rectime = best_scale_out_by_min_value(rec_current, rec_cands)

    # 4. latency evaluation on the recovery-time candidate set, at the
    # recovery-time response's predicted peak throughput (Graph.java:257 +
    # ClientsManager.latencyEvaluate:531), not the current trailing average
    prev_valid = [c.scale_out for c in rec_cands if c.is_valid] or None
    lat_rows = latency_model.predict(
        rec["predicted_peak"],
        range(min_scale_out, max_scale_out + 1),
        previously_valid=prev_valid,
    )
    lat_cands = [
        Candidate(r["scale_outs"], r["latency"], r["is_valid"], r["is_best"]) for r in lat_rows
    ]
    lat_current = next(c for c in lat_cands if c.scale_out == current_scale_out)
    best_by_latency = best_scale_out_by_min_value(lat_current, lat_cands)

    # 5. decision
    max_best = max(best_by_rectime, best_by_latency)
    decision = best_scale_out(lat_cands, rec["slope"], lat_current, max_best)
    rescale = should_rescale(decision, current_scale_out)

    pred_lat = next((c.value for c in lat_cands if c.scale_out == decision), float("nan"))
    pred_rec = next((c.value for c in rec_cands if c.scale_out == decision), float("nan"))

    # 6. record the decision (Graph.java:265-276: only when a rescale fires)
    if rescale and record_to is not None:
        from phoebe_spark.sources.tables import insert_prediction

        exp_id, gen_type = record_to
        insert_prediction(
            spark, exp_id, gen_type, now, decision, avg_thr, pred_lat, pred_rec
        )

    return {
        "timestamp": now,
        "current_scale_out": current_scale_out,
        "avg_lat": avg_lat,
        "avg_thr": avg_thr,
        "best_by_rectime": best_by_rectime,
        "best_by_latency": best_by_latency,
        "decision": decision,
        "rescale": rescale,
        "pred_avg_lat": pred_lat,
        "pred_rec_time": pred_rec,
        "slope": rec["slope"],
    }
