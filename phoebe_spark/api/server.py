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

A ``ValueError`` (an empty, mismatched or null-valued series, a
regression series without two distinct timestamps, an empty scale-out
set) answers 400 with its message on every route; the training
routes check their input before they schedule a fit.

Request and response bodies go through ``OrjsonProvider``, which decodes
to the same floats as the stdlib ``json`` module at a third of its cost.

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
import orjson
from flask import Flask, jsonify, request
from flask.json.provider import JSONProvider

from phoebe_spark.models.latency import LatencyModel
from phoebe_spark.models.recovery import RecoveryTimeModel
from phoebe_spark.models.twres import TwresModel
from phoebe_spark.models.workload import WorkloadForecaster, _series


class OrjsonProvider(JSONProvider):
    """Flask's JSON provider on orjson, for ``request.get_json()`` and
    ``jsonify`` alike. Decoding rejects a malformed body and the ``NaN``
    and ``Infinity`` literals the stdlib accepts (``get_json`` then answers
    400); encoding writes a NaN as ``null`` and sorts keys, as Flask's
    default does."""

    def dumps(self, obj, **kwargs) -> str:
        return orjson.dumps(obj, option=orjson.OPT_SORT_KEYS).decode()

    def loads(self, s, **kwargs):
        return orjson.loads(s)


def ts_to_arrays(ts_json: dict) -> tuple[np.ndarray, np.ndarray]:
    obs = ts_json.get("observations", [])
    t = [o["timestamp"] for o in obs]
    if None in t:
        raise ValueError(f"null timestamp at index {t.index(None)} of the series")
    # dtype=float maps a null value (None) to NaN
    return np.array(t, dtype=int), np.array([o.get("value") for o in obs], dtype=float)


def arrays_to_ts(t: np.ndarray, v: np.ndarray) -> dict:
    return {
        "observations": [
            {"timestamp": int(ts), "value": None if np.isnan(val) else float(val)}
            for ts, val in zip(t, v)
        ],
        "count": int(len(t)),
    }


def training_lists(body: dict, **types) -> list[list]:
    """Each ``body[key]`` converted by ``types[key]``; raises ``ValueError``
    unless the lists are non-empty, of one length and free of nulls."""
    lengths = {k: len(body[k]) for k in types}
    if len(set(lengths.values())) != 1 or not any(lengths.values()):
        raise ValueError(f"training lists must be non-empty and of one length: {lengths}")
    for k in types:
        if None in body[k]:
            raise ValueError(f"null in {k} at index {body[k].index(None)}")
    return [[t(x) for x in body[k]] for k, t in types.items()]


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
    """The Flask app. ``spark`` is accepted and unused: no route needs a
    Spark session."""
    app = Flask("phoebe-spark")
    app.json = OrjsonProvider(app)
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

    @app.errorhandler(ValueError)
    def bad_request(ex: ValueError):
        return jsonify({"message": str(ex)}), 400

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
            if not mask.any():
                raise ValueError(f"series {key!r} has no non-null value to regress")
            if len(np.unique(t[mask])) < 2:
                raise ValueError(
                    f"series {key!r} needs non-null values at two or more distinct "
                    f"timestamps to regress"
                )
            slope, intercept = np.polyfit(t[mask].astype(float), v[mask], 1)
            out[key] = {"slope": float(slope), "intercept": float(intercept)}
        return jsonify(out)

    # -- workload ----------------------------------------------------------
    @app.post("/workload/training")
    def workload_training():
        body = request.get_json()
        job = body["job"]
        t, v = _series(*ts_to_arrays(body["workload"]))

        def _fit():
            f = WorkloadForecaster()
            f.fit(t, v)
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
        rows = list(zip(*training_lists(body, scale_outs=int, throughput_rates=float, latencies=float)))

        def _fit():
            m = latency_models.get(job) or LatencyModel()
            m.fit(rows, append=bool(body.get("append")) and m.previous_data is not None)
            latency_models[job] = m

        return jsonify(schedule(_fit))

    @app.post("/latency/prediction")
    def latency_prediction():
        body = request.get_json()
        m = latency_models.get(body["job"])
        if m is None or m.fitted is None:
            return jsonify({"message": "The required model was not yet trained!"}), 412
        out = m.predict(
            float(body["throughput_rate"]),
            range(int(body["min_scale_out"]), int(body["max_scale_out"]) + 1),
        )
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
        if m is None or m.fitted is None:
            return jsonify({"message": "The required model was not yet trained!"}), 412
        cand_in = body["candidates"]
        prev_valid = [int(c["scale_out"]) for c in cand_in if c.get("is_valid")]
        thr = body.get("predicted_throughput_rate", body.get("throughput_rate"))
        out = m.predict(
            float(thr),
            [int(c["scale_out"]) for c in cand_in],
            previously_valid=prev_valid or None,
        )
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
        sos, thr = training_lists(body, scale_outs=int, max_throughput_rates=float)

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
        sos, thr = training_lists(body, scale_outs=int, throughput_rates=float)

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
