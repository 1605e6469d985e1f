"""End-to-end streaming QoS loop: a live windowed streaming job feeds the
metrics listener, metric rows flow through the timeseries kernel
(slope/summary), and the TWRES baseline issues a scaling decision — the
reference's monitor->analyze->decide loop in streaming mode (SURVEY §2.10 +
§3.3)."""

from __future__ import annotations

import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from phoebe_spark.models.twres import TwresModel
from phoebe_spark.streaming import ProgressMetricsListener, sine_rate_source, windowed_keyed_agg
from phoebe_spark.timeseries.aggregates import slope_intercept, ts_summary


def _start(agg, checkpoint: str, name: str):
    """Start the open-ended rate-source job on an in-memory sink."""
    return (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def test_stream_metrics_to_decision(spark, tmp_path):
    listener = ProgressMetricsListener()
    spark.streams.addListener(listener)
    try:
        src = sine_rate_source(spark, rows_per_second=2000, period=120, num_keys=10)
        agg = windowed_keyed_agg(src, window="2 seconds", watermark="4 seconds", aggs={"events": "count"})
        q = _start(agg, str(tmp_path), "qos_loop")
        deadline = time.time() + 30
        while time.time() < deadline and len(listener.rows) < 12:
            time.sleep(0.5)
        q.stop()
        assert len(listener.rows) >= 12, "no progress events collected"

        metrics = listener.to_df(spark)
        # timeseries kernel over live metrics: summary + trend per series
        summ = {r["series_key"]: r for r in ts_summary(metrics, keys=["series_key"]).collect()}
        assert summ["thrRate"]["avg_value"] >= 0
        trend = {r["series_key"]: r["slope"] for r in slope_intercept(metrics, keys=["series_key"]).collect()}
        assert "thrRate" in trend

        # decision: TWRES on a capacity curve, fed the observed rate
        m = TwresModel()
        m.fit([2, 5, 8, 11, 14, 17, 20, 23], [2000 + 900 * s for s in [2, 5, 8, 11, 14, 17, 20, 23]])
        observed_rate = summ["thrRate"]["avg_value"] or 2000.0

        class _Obs:
            def predict(self, ts, vals, horizon):
                end = int(np.asarray(ts)[-1])
                return np.arange(end + 1, end + 1 + horizon), np.full(horizon, observed_rate)

        t = np.arange(0, 60)
        vals = np.full(60, observed_rate)
        pick = m.predict(_Obs(), t, vals, current_scale_out=4, min_scale_out=2,
                         max_scale_out=24, time_window_interval=30,
                         avg_latency=100.0, max_latency_constraint=2000.0)
        assert 2 <= pick <= 24
    finally:
        spark.streams.removeListener(listener)


def _run_interval(spark, parallelism, checkpoint, name, min_batches=4, timeout_s=45):
    """One evaluation interval: run the sine-generator job at the given
    shuffle parallelism, return (start, stop, avg batchDur ms, avg thrRate,
    metric rows) measured from live progress events."""
    listener = ProgressMetricsListener()
    spark.streams.addListener(listener)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parallelism))
    try:
        src = sine_rate_source(spark, rows_per_second=500, period=120, num_keys=8)
        agg = windowed_keyed_agg(src, window="1 seconds", watermark="2 seconds", aggs={"events": "count"})
        q = _start(agg, checkpoint, name)
        start = time.time()
        deadline = start + timeout_s
        while time.time() < deadline:
            if sum(1 for r in listener.rows if r[1] == "batchDur" and r[0] > 0) >= min_batches:
                break
            time.sleep(0.3)
        q.stop()
        rows = list(listener.rows)
        # drop batch 0 (state-store + codegen warm-up) and use the median:
        # robust to stragglers when the suite shares the machine
        lats = [v for ts, k, v in rows if k == "batchDur" and ts > 0]
        thrs = [v for _, k, v in rows if k == "thrRate" and v > 0]
        assert len(lats) >= min_batches, f"{name}: only {len(lats)} batches"
        return int(start), int(time.time()), float(np.median(lats)), float(np.mean(thrs or [0.0])), rows
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        spark.streams.removeListener(listener)


def test_qos_loop_profile_optimize_rescale(spark, tmp_path):
    """The reference's full QoS loop (execution/phoebe/Graph.java:215-284)
    end-to-end in streaming mode: PROFILE the sine-generator job at two
    candidate parallelisms through the profiling FSM (>=2 real evaluation
    intervals), fit the latency/recovery/forecast models from the profile
    store, run the control-loop optimize step on LIVE stream metrics at a
    deliberately oversharded parallelism, and execute the decided rescale
    as a stop+restart at the new parallelism — asserting measured batch
    latency recovers after the rescale.

    Spark-vs-Flink note: a stateful query's checkpoint pins its state
    partition count, so restarting the SAME checkpoint cannot change the
    stateful stage's parallelism (test_checkpoint_restart_with_new_
    parallelism covers that exactly-once path). The Flink savepoint-rescale
    therefore maps to: stop, resume from the current stream position at
    the new parallelism (fresh checkpoint, watermark-bounded state
    rebuild). That is what this test executes."""
    from phoebe_spark.models.latency import LatencyModel
    from phoebe_spark.models.recovery import RecoveryTimeModel
    from phoebe_spark.models.workload import WorkloadForecaster
    from phoebe_spark.plans.control_loop import optimize_step
    from phoebe_spark.plans.profiling import ProfilingJob, profiling_run
    from phoebe_spark.sources import tables as store

    SLOW, FAST = 64, 4  # shuffle partitions: oversharded vs right-sized

    spark.sql("DROP TABLE IF EXISTS profiles")
    spark.sql("DROP TABLE IF EXISTS predictions")
    store.create_profile_store(spark, str(tmp_path / "store"))

    # --- PROFILE: FSM drives >=2 evaluation intervals over both candidates
    # 3 candidates -> clustering validity (regression needs 2+ obs per
    # candidate and would drop everything after one round)
    jobs = [ProfilingJob("sine4", FAST), ProfilingJob("sine16", 16), ProfilingJob("sine64", SLOW)]
    k = iter(range(100))

    def measure(job, workload):
        return _run_interval(
            spark, job.scale_out, str(tmp_path / f"ck_prof_{next(k)}"), f"prof_{job.name}_{next(k)}"
        )[:4]

    report = profiling_run(
        spark, jobs, iter([1, 2]), measure, exp_id=31, gen_type="SINE", max_rounds=2
    )
    assert report.rounds == 2
    prof = store.select_profiles(spark, [31], "SINE")
    prof_rows = prof.collect()
    assert len(prof_rows) >= 4
    lat_by_so = {}
    for r in prof_rows:
        lat_by_so.setdefault(r["scaleOut"], []).append(r["avgLat"])

    # --- MODEL: fit from the profile store (prepare_model.py flow)
    latency = LatencyModel()
    latency.fit((r["scaleOut"], r["avgThr"], r["avgLat"]) for r in prof_rows)
    sos = list(range(FAST, SLOW + 1, 10))
    recovery = RecoveryTimeModel()
    recovery.fit(sos, [18_000 + 2_400 * so for so in sos])

    # --- MONITOR: live metrics at the oversharded current parallelism
    start, stop, pre_lat, pre_thr, rows = _run_interval(
        spark, SLOW, str(tmp_path / "ck_live"), "qos_live"
    )

    # workload trace anchored to the END of the live interval so the
    # trailing-average window covers the measured metric rows
    now = stop
    t = np.arange(now - 3599, now + 1)
    rng = np.random.default_rng(7)
    vals = np.abs(3000.0 - 0.2 * (t - t[0]) + rng.normal(0, 5.0, t.size))  # falling load
    forecaster = WorkloadForecaster(num_models=5, step_size=30)
    forecaster.fit(t, vals)
    # listener timestamps are batch ordinals; rebase onto wall-clock so the
    # optimize step's trailing window covers them
    max_id = max(ts for ts, _, _ in rows)
    metrics = spark.createDataFrame(
        [(stop - (max_id - ts), "latency" if key == "batchDur" else key, v) for ts, key, v in rows],
        "timestamp LONG, series_key STRING, value DOUBLE",
    )

    # --- ANALYZE+DECIDE: control-loop optimize step
    out = optimize_step(
        spark, metrics, t, vals,
        latency_model=latency, recovery_model=recovery, forecaster=forecaster,
        current_scale_out=SLOW, min_scale_out=FAST, max_scale_out=SLOW,
        max_recovery_time=600.0, avg_window=3600, prediction_period_s=120,
        record_to=(31, "SINE"),
    )
    # optimize_step's trailing mean covers all batches (incl. warm-up);
    # pre_lat is the warm-up-free median — same signal, different stat
    assert out["avg_lat"] > 0 and np.isfinite(out["avg_lat"])
    assert FAST <= out["decision"] <= SLOW
    assert out["rescale"], f"expected a rescale away from {SLOW}, got {out}"
    assert out["decision"] < SLOW
    recorded = store.select_predictions(spark, [31]).collect()
    assert len(recorded) == 1 and recorded[0]["scaleOut"] == out["decision"]

    # --- EXECUTE: rescale-by-restart at the decided parallelism
    _, _, post_lat, _, _ = _run_interval(
        spark, out["decision"], str(tmp_path / "ck_rescaled"), "qos_rescaled"
    )
    assert post_lat < pre_lat, (
        f"latency did not recover: {pre_lat:.0f}ms @ {SLOW} -> "
        f"{post_lat:.0f}ms @ {out['decision']}"
    )

    spark.sql("DROP TABLE IF EXISTS profiles")
    spark.sql("DROP TABLE IF EXISTS predictions")
