"""REST parity shim — the reference's FastAPI surface on Flask.

Mirrors /root/reference/analytics/app/server.py and the per-family routers
(workload/latency/recoverytime/baselines/common) so a client of the
reference can point at this service unchanged:

- POST /workload/training           (async task)    workload/routes.py
- POST /workload/prediction         (412 if unfitted or horizon > cap)
- POST /latency/training            (async task)    latency/routes.py:21-31
- POST /latency/prediction
- POST /recoverytime/training       (async task)    recoverytime/routes.py
- POST /recoverytime/prediction
- POST /baselines/twres_training    (async task)    baselines/routes.py
- POST /baselines/twres_prediction
- GET  /common/tasks/<task_hash>    (poll: true while running)
- POST /common/regression           (per-series slope/intercept)

TimeSeries JSON is the reference wire format (S9):
``{"observations": [{"timestamp": t, "value": v}, ...], "count": n}``.
The async-training + poll pattern maps to daemon threads with a task-hash
registry (the reference uses FastAPI BackgroundTasks,
common/routes.py:20-24). Models are keyed per job like the reference's
provider registry. FastAPI itself is not in this container; Flask carries
the same routes.
"""

from __future__ import annotations

import threading
import uuid

import numpy as np
from flask import Flask, jsonify, request

from phoebe_spark.models.capacity import CapacityModel
from phoebe_spark.models.latency import LatencyModel
from phoebe_spark.models.recovery import RecoveryTimeModel
from phoebe_spark.models.twres import TwresModel
from phoebe_spark.models.workload import WorkloadForecaster


def ts_to_arrays(ts_json: dict) -> tuple[np.ndarray, np.ndarray]:
    obs = ts_json.get("observations", [])
    t = np.array([o["timestamp"] for o in obs], dtype=int)
    v = np.array(
        [np.nan if o.get("value") is None else float(o["value"]) for o in obs], dtype=float
    )
    return t, v


def arrays_to_ts(t: np.ndarray, v: np.ndarray) -> dict:
    return {
        "observations": [
            {"timestamp": int(ts), "value": None if np.isnan(val) else float(val)}
            for ts, val in zip(t, v)
        ],
        "count": int(len(t)),
    }


def latency_candidates(rows: list[dict]) -> list[dict]:
    """``LatencyModel.predict`` rows on the wire; the reference rounds
    latency to 2 decimals (LatencyInformationModel validator)."""
    return [
        {
            "scale_out": r["scale_outs"],
            "latency": round(float(r["latency"]), 2),
            "is_valid": bool(r["is_valid"]),
            "is_best": bool(r["is_best"]),
        }
        for r in rows
    ]


def create_app(spark=None) -> Flask:
    app = Flask("phoebe-spark")
    if spark is None:
        from phoebe_spark.session import get_spark

        spark = get_spark("phoebe-api")

    tasks: dict[str, threading.Thread] = {}
    forecasters: dict[str, WorkloadForecaster] = {}
    latency_models: dict[str, LatencyModel] = {}
    recovery_models: dict[str, RecoveryTimeModel] = {}
    twres_models: dict[str, TwresModel] = {}

    def schedule(fn) -> dict:
        h = str(uuid.uuid4().int % 10**12)
        th = threading.Thread(target=fn, daemon=True)
        tasks[h] = th
        th.start()
        return {"message": "task scheduled", "task_hash": h}

    # -- common ------------------------------------------------------------
    @app.get("/common/tasks/<task_hash>")
    def task_status(task_hash: str):
        th = tasks.get(task_hash)
        return jsonify(bool(th and th.is_alive()))

    @app.post("/common/regression")
    def regression():
        out = {}
        for key, ts_json in request.get_json().items():
            t, v = ts_to_arrays(ts_json)
            mask = ~np.isnan(v)
            slope, intercept = np.polyfit(t[mask].astype(float), v[mask], 1)
            out[key] = {"slope": float(slope), "intercept": float(intercept)}
        return jsonify(out)

    # -- workload ----------------------------------------------------------
    @app.post("/workload/training")
    def workload_training():
        body = request.get_json()
        job = body["job"]
        t, v = ts_to_arrays(body["workload"])

        def _fit():
            f = WorkloadForecaster()
            f.fit(spark, t, v)
            forecasters[job] = f

        return jsonify(schedule(_fit))

    @app.post("/workload/prediction")
    def workload_prediction():
        body = request.get_json()
        f = forecasters.get(body["job"])
        if f is None or not f.models:
            return jsonify({"message": "The required model was not yet trained!"}), 412
        horizon = int(body["prediction_period_in_s"])
        cap = f.num_models * f.step_size
        if horizon > cap:
            return jsonify({"message": f"{horizon}s exceeds maximum forecasting period ({cap}s)"}), 412
        t, v = ts_to_arrays(body["workload"])
        ft, fv = f.predict(t, v, horizon)
        return jsonify({"workload": arrays_to_ts(ft, fv)})

    # -- latency -----------------------------------------------------------
    @app.post("/latency/training")
    def latency_training():
        body = request.get_json()
        job = body["job"]
        rows = list(
            zip(
                [int(x) for x in body["scale_outs"]],
                [float(x) for x in body["throughput_rates"]],
                [float(x) for x in body["latencies"]],
            )
        )

        def _fit():
            df = spark.createDataFrame(
                rows, "scale_outs INT, throughput_rates DOUBLE, latencies DOUBLE"
            )
            m = latency_models.get(job) or LatencyModel()
            m.fit(df, append=bool(body.get("append")) and m.previous_data is not None)
            latency_models[job] = m

        return jsonify(schedule(_fit))

    @app.post("/latency/prediction")
    def latency_prediction():
        body = request.get_json()
        m = latency_models.get(body["job"])
        if m is None or m.regressor_model is None:
            return jsonify({"message": "The required model was not yet trained!"}), 412
        try:
            out = m.predict(
                float(body["throughput_rate"]),
                range(int(body["min_scale_out"]), int(body["max_scale_out"]) + 1),
            )
        except ValueError as ex:
            return jsonify({"message": str(ex)}), 400
        cands = latency_candidates(out)
        current = next(
            (c for c in cands if c["scale_out"] == int(body["scale_out"])), cands[0]
        )
        return jsonify({"current": current, "candidates": cands})

    @app.post("/latency/evaluation")
    def latency_evaluation():
        """Evaluate latency on a recovery-time candidate set (the
        reference's cross-model composition, latency/routes.py:50 +
        latency/models.py:116-148): the candidate scale-outs become the
        grid and only previously-valid ones can stay valid.

        Request contract is LatencyModelEvaluationRequest: the throughput
        input arrives as ``predicted_throughput_rate`` (the recovery-time
        response's predicted peak, forwarded by ClientsManager
        .latencyEvaluate)."""
        body = request.get_json()
        m = latency_models.get(body["job"])
        if m is None or m.regressor_model is None:
            return jsonify({"message": "The required model was not yet trained!"}), 412
        cand_in = body["candidates"]
        prev_valid = [int(c["scale_out"]) for c in cand_in if c.get("is_valid")]
        thr = body.get("predicted_throughput_rate", body.get("throughput_rate"))
        try:
            out = m.predict(
                float(thr),
                [int(c["scale_out"]) for c in cand_in],
                previously_valid=prev_valid or None,
            )
        except ValueError as ex:
            return jsonify({"message": str(ex)}), 400
        cands = latency_candidates(out)
        current = next(
            (c for c in cands if c["scale_out"] == int(body["current"]["scale_out"])), cands[0]
        )
        slope = float(body.get("slope", 0.0))
        return jsonify({"current": current, "candidates": cands, "slope": slope})

    # -- recoverytime ------------------------------------------------------
    @app.post("/recoverytime/training")
    def recoverytime_training():
        body = request.get_json()
        job = body["job"]
        sos = [int(x) for x in body["scale_outs"]]
        thr = [float(x) for x in body["max_throughput_rates"]]

        def _fit():
            m = RecoveryTimeModel()
            m.fit(sos, thr)
            recovery_models[job] = m

        return jsonify(schedule(_fit))

    @app.post("/recoverytime/prediction")
    def recoverytime_prediction():
        body = request.get_json()
        job = body["job"]
        m = recovery_models.get(job)
        f = forecasters.get(job)
        if m is None or f is None:
            return jsonify({"message": "The required model was not yet trained!"}), 412
        t, v = ts_to_arrays(body["workload"])
        out = m.predict(
            f,
            t,
            v,
            scale_out_range=list(range(int(body["min_scale_out"]), int(body["max_scale_out"]) + 1)),
            prediction_period_s=int(body["prediction_period_in_s"]),
            max_recovery_time=float(body["max_recovery_time"]),
            downtime=float(body["downtime"]),
            last_checkpoint=float(body["last_checkpoint"]),
            bin_count=int(body.get("bin_count", 4)),
        )
        # reference rounds recovery_time to 2 decimals (RecoveryTimeInformationModel)
        cands = [dict(c, recovery_time=round(float(c["recovery_time"]), 2)) for c in out["candidates"]]
        current = next(
            (c for c in cands if c["scale_out"] == int(body["scale_out"])), cands[0]
        )
        return jsonify(
            {
                "current": current,
                "candidates": cands,
                # RecoveryTimeModelPredictionResponse key (RecTimeResponse.predThr)
                "predicted_throughput_rate": out["predicted_peak"],
                "slope": out["slope"],
            }
        )

    @app.post("/recoverytime/evaluation")
    def recoverytime_evaluation():
        """Evaluate recovery time on a latency candidate set
        (recoverytime/routes.py:62 + models.py:118-123): the candidate
        scale-outs define the range, valid ones carry over."""
        body = request.get_json()
        job = body["job"]
        m = recovery_models.get(job)
        f = forecasters.get(job)
        if m is None or f is None:
            return jsonify({"message": "The required model was not yet trained!"}), 412
        cand_in = body["candidates"]
        scale_outs = sorted({int(c["scale_out"]) for c in cand_in})
        prev_valid = [int(c["scale_out"]) for c in cand_in if c.get("is_valid")]
        t, v = ts_to_arrays(body["workload"])
        out = m.predict(
            f,
            t,
            v,
            scale_out_range=scale_outs,
            prediction_period_s=int(body["prediction_period_in_s"]),
            max_recovery_time=float(body["max_recovery_time"]),
            downtime=float(body["downtime"]),
            last_checkpoint=float(body["last_checkpoint"]),
            previously_valid=prev_valid or None,
            bin_count=int(body.get("bin_count", 4)),
        )
        cands = [dict(c, recovery_time=round(float(c["recovery_time"]), 2)) for c in out["candidates"]]
        current = next(
            (c for c in cands if c["scale_out"] == int(body["current"]["scale_out"])), cands[0]
        )
        return jsonify(
            {
                "current": current,
                "candidates": cands,
                "predicted_throughput_rate": out["predicted_peak"],
                "slope": out["slope"],
            }
        )

    # -- baselines (TWRES) -------------------------------------------------
    @app.post("/baselines/twres_training")
    def twres_training():
        body = request.get_json()
        job = body["job"]
        sos = [int(x) for x in body["scale_outs"]]
        thr = [float(x) for x in body["throughput_rates"]]

        def _fit():
            m = TwresModel()
            m.fit(sos, thr)
            twres_models[job] = m

        return jsonify(schedule(_fit))

    @app.post("/baselines/twres_prediction")
    def twres_prediction():
        body = request.get_json()
        job = body["job"]
        m = twres_models.get(job)
        f = forecasters.get(job)
        if m is None or f is None:
            return jsonify({"message": "The required model was not yet trained!"}), 412
        t, v = ts_to_arrays(body["workload"])
        pick = m.predict(
            f,
            t,
            v,
            current_scale_out=int(body["scale_out"]),
            min_scale_out=int(body["min_scale_out"]),
            max_scale_out=int(body["max_scale_out"]),
            time_window_interval=int(body["time_window_interval"]),
            avg_latency=float(body["avg_latency"]),
            max_latency_constraint=float(body["max_latency_constraint"]),
        )
        return jsonify({"scale_out": int(pick)})

    return app
