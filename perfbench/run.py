"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload registry_batch --seed 1 --seconds 10 --trace 0

Generates the seeded inputs inside ``perfbench/work/``, boots the engine's
session on ``local[<cores>]``, runs the workload (see ``workloads.py`` and
``METRICS.md``), checks every output, writes a JSON artifact to
``perfbench/results/`` and prints a table of metrics followed by one JSON
line: ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` the run also enables the Spark event log, a streaming
listener and model timing wrappers and reports the per-layer metrics.
The end-to-end metrics are ``setup_s`` (wall) and ``cycle_cpu_s``, the CPU
seconds of the driver, the JVM and its Python workers per measured cycle;
wall times per workload are printed and stored beside them.

Every workload measures a fixed amount of work (two registry passes after
a warm-up pass, the drain pass, one control-loop tick), so that runs of two
commits do the same work; ``--seconds`` is recorded in the artifact.

Exits 2 without a result line when the engine's package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import procstat  # noqa: E402
import tracing  # noqa: E402

WORKLOAD_NAMES = ("registry_batch", "stream_drains", "control_loop_api")
SF = 0.1


def _pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in 0..100)."""
    v = sorted(values)
    if not v:
        return float("nan")
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


class Context:
    def __init__(self, args, spark, data_dir, oracle, listener, model_timer):
        self.seed = args.seed
        self.spark, self.data_dir, self.oracle = spark, data_dir, oracle
        self.listener, self.model_timer = listener, model_timer
        self.watchdog = None
        self.fit_errors: list[str] = []
        self.plans_decide_s = 0.0
        self.setup_model_s: dict[str, float] = {}


def end_to_end(workload: str, res, setup_s: float, rss_mb: float) -> tuple[dict, dict]:
    """Contract metrics (same names on every workload) and the workload's
    own named figures, each as ``(value, unit, samples)``."""
    main = [o for o in res.ops if o.ok and o.kind != "decision"]
    lat_ms = [o.latency_s * 1000.0 for o in main]
    contract = {
        "setup_s": (setup_s, "s", 1),
        "cycle_cpu_s": (res.cycle_cpu_s, "s", res.cycles),
    }
    attempted = len(res.ops)
    failed = sum(1 for o in res.ops if not o.ok)
    named = {
        "failed_ratio": (failed / max(1, attempted), "ratio", attempted),
        "peak_rss_mb": (rss_mb, "MB", 1),
    }
    if workload == "registry_batch":
        named.update(
            batch_wall_s=(res.cycle_s, "s", 1),
            batch_entry_p50_s=(_pct(lat_ms, 50) / 1000, "s", len(lat_ms)),
            batch_entry_p80_s=(_pct(lat_ms, 80) / 1000, "s", len(lat_ms)),
        )
    elif workload == "stream_drains":
        named.update(
            drain_wall_s=(res.cycle_s, "s", 1),
            drain_p50_s=(_pct(lat_ms, 50) / 1000, "s", len(lat_ms)),
        )
    else:
        dec = [o.latency_s for o in res.ops if o.ok and o.kind == "decision"]
        named.update(
            decision_p50_s=(_pct(dec, 50), "s", len(dec)),
            read_p50_ms=(_pct(lat_ms, 50), "ms", len(lat_ms)),
            read_p95_ms=(_pct(lat_ms, 95), "ms", len(lat_ms)),
        )
    return contract, named


def per_layer(res, ctx, boot_s: float, jobs: dict) -> dict:
    """Per-layer figures of a traced run. Counters and times are totals over
    one measured cycle: a registry pass, the drain pass or one control-loop
    tick (the measured phase's total divided by ``res.cycles``)."""
    # Reads run inside control-loop ticks, so the non-read operations'
    # windows cover every measured job exactly once.
    cycle_ops = [o for o in res.ops if o.kind != "read"]
    cycles = max(1, res.cycles)
    spark_tot = tracing.sum_jobs(tracing.jobs_in_windows(jobs, [o.window for o in cycle_ops]))
    out = {
        "session.boot_s": boot_s,
        "session.warmup_s": res.setup_s,
        "queries.build_s": sum(o.build_s for o in res.ops) / cycles,
        "queries.action_s": sum(o.action_s for o in res.ops) / cycles,
        "spark.jobs": spark_tot["jobs"] / cycles,
        "spark.stages": spark_tot["stages"] / cycles,
        "spark.tasks": spark_tot["tasks"] / cycles,
        "spark.scheduler_delay_s": spark_tot["sched_delay_s"] / cycles,
        "spark.executor_run_s": spark_tot["run_s"] / cycles,
        "spark.executor_cpu_s": spark_tot["cpu_s"] / cycles,
        "spark.gc_s": spark_tot["gc_s"] / cycles,
        "spark.shuffle_read_bytes": spark_tot["shuffle_read_bytes"] / cycles,
        "spark.shuffle_write_bytes": spark_tot["shuffle_write_bytes"] / cycles,
        "spark.failed_tasks": spark_tot["failed_tasks"] / cycles,
        "spark.persisted_rdds_max": max(
            (o.extra.get("persisted_rdds", 0) for o in res.ops), default=0
        ),
        "sources.scan_bytes": spark_tot["scan_bytes"] / cycles,
        "sources.scan_rows": spark_tot["scan_rows"] / cycles,
        "python.bytes_to_worker": spark_tot["py_to_worker"] / cycles,
        "python.bytes_from_worker": spark_tot["py_from_worker"] / cycles,
    }
    batches_by_op = ctx.listener.per_op()
    batches = [b for o in res.ops for b in batches_by_op.get(o.name, [])]
    out.update(tracing.streaming_totals(batches))
    out["streaming.outside_s"] = (
        sum(o.build_s for o in res.ops) - out["streaming.trigger_s"] if batches else 0.0
    )
    mt = ctx.model_timer.totals
    for name in (
        "models.latency_fit_s", "models.latency_predict_s", "models.workload_predict_s",
        "models.recovery_predict_s", "models.twres_predict_s",
    ):
        out[name] = mt.get(name, 0.0) / cycles
    out["models.workload_fit_s"] = ctx.setup_model_s.get("models.workload_fit_s", 0.0)
    out["models.gbt_trees"] = ctx.model_timer.gbt_trees
    out["plans.decide_s"] = ctx.plans_decide_s / cycles
    info = res.info
    out["api.self_s"] = info.get("api_self_s", 0.0) / cycles
    out["api.request_bytes"] = info.get("api_request_bytes", 0) / cycles
    out["api.response_bytes"] = info.get("api_response_bytes", 0) / cycles
    for route in ROUTE_METRICS:
        lat = [o.latency_s * 1000 for o in res.ops if o.kind == "read" and o.name == route and o.ok]
        out[ROUTE_METRICS[route]] = _pct(lat, 50) if lat else 0.0
    return out


ROUTE_METRICS = {
    "/workload/prediction": "api.workload_prediction_ms",
    "/recoverytime/prediction": "api.recoverytime_prediction_ms",
    "/latency/evaluation": "api.latency_evaluation_ms",
    "/baselines/twres_prediction": "api.twres_prediction_ms",
}


def op_structure(res, jobs: dict, listener) -> None:
    """Attach per-operation job/stage/task/batch counts (traced runs)."""
    batches = listener.per_op()
    for o in res.ops:
        if o.kind in ("entry", "drain", "decision"):
            s = tracing.sum_jobs(tracing.jobs_in_windows(jobs, [o.window]))
            o.extra.update(
                jobs=s["jobs"], stages=s["stages"], tasks=s["tasks"],
                batches=len(batches.get(o.name, [])), cpu_s=round(s["cpu_s"], 4),
            )


def main() -> int:
    ap = argparse.ArgumentParser(description="phoebe_spark benchmark runner")
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(harness.REPO, "phoebe_spark")):
        print("perfbench: phoebe_spark package not found", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(HERE, "work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    harness.configure(work, event_dir)

    import datagen
    import workloads
    from oracle import Oracle

    load0, stat0, wall0 = procstat.loadavg(), procstat.cpu_jiffies(), time.time()
    data_dir = datagen.write(os.path.join(work, "data"), args.seed, SF)
    spark, boot_s = harness.boot()
    jvm = procstat.jvm_pid()
    listener = model_timer = None
    if args.trace:
        listener = tracing.ProgressListener()
        spark.streams.addListener(listener)
        model_timer = tracing.ModelTimer()
        model_timer.install()
    try:
        oracle = Oracle(data_dir, os.path.join(work, "tmp"))
        ctx = Context(args, spark, data_dir, oracle, listener, model_timer)
        ctx.watchdog = workloads.Watchdog(spark)
        try:
            res = workloads.WORKLOADS[args.workload](ctx)
        finally:
            ctx.watchdog.close()
            oracle.close()
        rss_py, rss_jvm = procstat.peak_rss_mb(jvm)
        if listener is not None:
            listener.wait_quiet()
    finally:
        harness.shutdown(spark)
    setup_s = boot_s + res.setup_s
    jobs = {}
    if args.trace:
        jobs = tracing.parse_event_log(event_dir)
        op_structure(res, jobs, listener)
        model_timer.uninstall()
    stat1, load1 = procstat.cpu_jiffies(), procstat.loadavg()

    contract, named = end_to_end(args.workload, res, setup_s, rss_py + rss_jvm)
    layers = per_layer(res, ctx, boot_s, jobs) if args.trace else {}
    attempted = len(res.ops)
    failed = sum(1 for o in res.ops if not o.ok)

    artifact = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": SF,
        "cores": os.environ.get("SPARK_GRAFT_CPUS"),
        "started_ts": round(wall0, 3),
        "wall_s": round(time.time() - wall0, 3),
        "host": {
            "loadavg_start": load0,
            "loadavg_end": load1,
            **procstat.noise(stat0, stat1),
        },
        "setup": {"boot_s": boot_s, "warmup_s": res.setup_s, **res.setup_parts},
        "peak_rss_mb": {"python": rss_py, "jvm": rss_jvm},
        "end_to_end": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in contract.items()},
        "named": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in named.items()},
        "per_layer": layers,
        "info": res.info,
        "ops": [
            {
                "kind": o.kind, "name": o.name, "start_ts": round(o.start_ts, 3),
                "latency_s": round(o.latency_s, 4), "build_s": round(o.build_s, 4),
                "action_s": round(o.action_s, 4), "proc_cpu_s": round(o.cpu_s, 3),
                "ok": o.ok, "error": o.error, **o.extra,
            }
            for o in res.ops
        ],
    }
    out_path = os.path.join(HERE, "results", run_id + ".json")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    for o in res.ops:
        if not o.ok:
            print(f"FAILED {o.kind} {o.name}: {o.error}")
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{attempted} operations, {failed} failed, artifact {os.path.relpath(out_path)}")
    shown = {**contract, **named} if not args.trace else {
        k: (v, _unit_of(k), 1) for k, v in layers.items()
    }
    for k, (v, u, n) in shown.items():
        print(f"  {k:<34} {v:>14.4f} {u:<6} n={n}")
    reported = (
        {k: {"value": v, "unit": u} for k, (v, u, _) in contract.items()}
        if not args.trace
        else {k: {"value": v, "unit": _unit_of(k)} for k, v in layers.items()}
    )
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": reported,
    }))
    return 0


def _unit_of(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
