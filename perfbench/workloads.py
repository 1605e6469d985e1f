"""The three benchmark workloads, each a single closed-loop client.

Every workload returns a :class:`Result`: its set-up seconds, the measured
operations (each stamped with its start time) and the figures the runner
turns into metrics. Outputs are checked outside the timed regions, and an
operation that raises, times out or returns a wrong result is recorded with
its error instead of aborting the run.
"""

from __future__ import annotations

import json
import math
import threading
import time
from dataclasses import dataclass, field

import numpy as np

import harness
import procstat

OP_TIMEOUT_S = 90.0


@dataclass
class Op:
    kind: str
    name: str
    start_ts: float
    latency_s: float = 0.0
    build_s: float = 0.0
    action_s: float = 0.0
    cpu_s: float = 0.0
    ok: bool = True
    error: str | None = None
    window: tuple[float, float] = (0.0, 0.0)
    extra: dict = field(default_factory=dict)


@dataclass
class Result:
    setup_s: float
    ops: list[Op]
    cycle_s: float
    # CPU seconds of the process tree per measured cycle (see procstat).
    cycle_cpu_s: float
    # Measured cycles (registry passes, drain passes or control-loop ticks);
    # per-layer totals are reported per cycle.
    cycles: int = 1
    setup_parts: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)


class Watchdog:
    """Cancels the session's jobs and streams when one operation overruns,
    so the operation raises and is recorded instead of hanging the run."""

    def __init__(self, spark):
        self.spark = spark
        self.deadline: float | None = None
        self.fired = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def arm(self) -> None:
        self.fired = False
        self.deadline = time.monotonic() + OP_TIMEOUT_S

    def disarm(self) -> None:
        self.deadline = None

    def _loop(self) -> None:
        while not self._stop.wait(0.5):
            if self.deadline is not None and time.monotonic() > self.deadline:
                self.fired, self.deadline = True, None
                for q in self.spark.streams.active:
                    q.stop()
                self.spark.sparkContext.cancelAllJobs()

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


# -- registry_batch / stream_drains -----------------------------------------

# Chosen once from a warm profile of all 506 entries (sf 0.1, 4 cores): among
# the non-streaming entries that match their oracle on the generated tables
# and take at most 2 s, block module i of the 11 contributes its entry
# nearest the 0.3 * (i + 0.5) / 11 cost quantile, so the set spans the
# cheaper third of the registry, where Spark's fixed per-job cost weighs
# most. The drains come from the cheapest quarter of the 23 oracle-matching
# drains: a windowed aggregation with a state store (q180) and the
# foreachBatch-only upsert (q249). Cheaper sets keep a 70-run evaluation
# (22 runs per workload plus 4) under about 3000 s on 4 cores. Both lists
# are fixed, in a fixed order, so before and after runs execute the same
# entries; seeded samples of this size spread the pass time by 17-24%
# across seeds.
REGISTRY_ENTRIES = (
    "q03_membership_filter",
    "q98_pivot_daily",
    "q148_length_buckets",
    "q196_langid_confusion",
    "q238_changepoint",
    "q264_determinism_cert",
    "q336_gini_simpson",
    "q378_cliffs_delta",
    "q446_capture_recapture",
    "q479_yules_k",
    "q504_youden_threshold",
)
DRAIN_ENTRIES = ("q180_streaming_window_drain", "q249_streaming_cdc_upsert_drain")
# Measured registry passes per run, after the warm-up pass. The pass time
# is their median; the pass CPU is each entry's minimum over the passes,
# summed, so a garbage collection that lands in one draw of an entry does
# not move it.
REGISTRY_PASSES = 2


def _run_entry(ctx, name: str, kind: str, check: bool) -> Op:
    """Build and force one registry entry with a noop write; with ``check``,
    collect the built frame afterwards (untimed) and compare it with the
    oracle."""
    from phoebe_spark.queries import ORACLE, QUERIES

    spark = ctx.spark
    op = Op(kind, name, time.time())
    if ctx.listener is not None:
        ctx.listener.current_op = name
    ctx.watchdog.arm()
    try:
        c0 = procstat.cpu_snapshot()
        j0 = procstat.cpu_jiffies()
        t0 = time.perf_counter()
        df = QUERIES[name](spark, ctx.data_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        op.cpu_s = procstat.cpu_since(c0)
        op.extra["steal_s"] = procstat.steal_since(j0)
        op.build_s, op.action_s, op.latency_s = t1 - t0, t2 - t1, t2 - t0
        op.window = (op.start_ts, time.time())
        if check:
            rows = df.collect()
            res = ctx.oracle.check(ORACLE[name], df, rows)
            op.extra.update(rows=res["rows"], digest=res["digest"])
            if not res["ok"]:
                op.ok, op.error = False, f"oracle mismatch: {res['error']}"
    except Exception as ex:  # noqa: BLE001 - recorded, never aborts the run
        op.ok, op.error = False, f"{type(ex).__name__}: {str(ex)[:300]}"
        op.window = (op.start_ts, time.time())
    finally:
        ctx.watchdog.disarm()
        if ctx.watchdog.fired:
            op.ok, op.error = False, f"timed out after {OP_TIMEOUT_S:.0f} s"
    if ctx.listener is not None:
        ctx.listener.current_op = None
        ctx.listener.wait_quiet()
        op.extra["persisted_rdds"] = harness.persisted_rdds(spark)
    return op


def _warm_collect(ctx, name: str) -> tuple[float, dict]:
    """Warm-up run of an entry: build, collect and oracle-check it. Returns
    the engine seconds (oracle time excluded) and the check result."""
    from phoebe_spark.queries import ORACLE, QUERIES

    ctx.watchdog.arm()
    try:
        t0 = time.perf_counter()
        df = QUERIES[name](ctx.spark, ctx.data_dir)
        rows = df.collect()
        dt = time.perf_counter() - t0
        res = ctx.oracle.check(ORACLE[name], df, rows)
    except Exception as ex:  # noqa: BLE001 - recorded against the entry
        return 0.0, {"ok": False, "error": f"{type(ex).__name__}: {str(ex)[:300]}"}
    finally:
        ctx.watchdog.disarm()
    return dt, res


def registry_batch(ctx) -> Result:
    sample = list(REGISTRY_ENTRIES)
    warm_s, checks = 0.0, {}
    for name in sample:
        dt, res = _warm_collect(ctx, name)
        warm_s += dt
        checks[name] = res
    ops, pass_s, pass_cpu = [], [], []
    for _ in range(REGISTRY_PASSES):
        for name in sample:
            op = _run_entry(ctx, name, "entry", check=False)
            res = checks[name]
            op.extra.update(rows=res.get("rows"), digest=res.get("digest"))
            if op.ok and not res["ok"]:
                op.ok, op.error = False, f"oracle mismatch: {res['error']}"
            ops.append(op)
        pass_s.append(sum(o.latency_s for o in ops[-len(sample):]))
        pass_cpu.append(sum(o.cpu_s for o in ops[-len(sample):]))
    return Result(
        setup_s=warm_s,
        ops=ops,
        cycle_s=float(np.median(pass_s)),
        cycle_cpu_s=sum(min(o.cpu_s for o in ops[i :: len(sample)]) for i in range(len(sample))),
        cycles=REGISTRY_PASSES,
        info={"sample": sample, "pass_s": pass_s, "pass_cpu_s": pass_cpu},
    )


def stream_drains(ctx) -> Result:
    sample = list(DRAIN_ENTRIES)
    ops = []
    for name in sample:
        harness.release_session_state(ctx.spark)
        ops.append(_run_entry(ctx, name, "drain", check=True))
    return Result(
        setup_s=0.0,
        ops=ops,
        cycle_s=sum(o.latency_s for o in ops),
        cycle_cpu_s=sum(o.cpu_s for o in ops),
        info={"sample": sample},
    )


# -- control_loop_api -------------------------------------------------------

SCALE_OUTS = [2, 5, 8, 11, 14, 17, 20, 23]
MIN_SO, MAX_SO = 2, 24
SERIES_S = 6 * 3600
INTERVAL_S = 60
# Measured ticks per run: a fixed count (about 10 s on 4 cores), not "as
# many as fit in --seconds", so a faster refit does not add a tick with a
# larger profile table.
TICKS = 1
# Read mixes issued beside each refit: a fixed count, so every commit serves
# the same read/write ratio (4 * 8 + 2 = 34 reads per write). On 4 cores
# the mixes end 2-3 s before the refit does, so a tick's decision time
# still follows the refit.
MIXES_PER_TICK = 8


def _capacity(so: int) -> float:
    return 18000.0 + 2400.0 * so


def _latency_of(rng: np.random.Generator, so: int, thr: float) -> float:
    util = thr / _capacity(so)
    lat = 900 + 2500 * util**2 + float(rng.normal(0, 50))
    if util > 0.85:
        lat = 20000 + 30000 * min(util - 0.85, 0.15) / 0.15 + float(rng.normal(0, 1000))
    return float(lat)


class Series:
    """Seeded 1 Hz workload: the reference's two-hour sine load with 1%
    noise, scaled to 15k-45k records/s so the profiled scale-outs (capacity
    23k-75k) hold both valid and invalid candidates, kept as a sliding
    six-hour window."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.t = np.arange(SERIES_S)
        self.v = self._values(self.t)
        self._wire: dict | None = None

    def _values(self, t: np.ndarray) -> np.ndarray:
        base = 15_000 * np.sin(2 * np.pi * t / 7_200) + 30_000
        return np.abs(base * (1 + self.rng.normal(0, 0.01, len(t))))

    def advance(self, seconds: int) -> None:
        nt = np.arange(self.t[-1] + 1, self.t[-1] + 1 + seconds)
        self.t = np.concatenate([self.t[seconds:], nt])
        self.v = np.concatenate([self.v[seconds:], self._values(nt)])
        self._wire = None

    def wire(self) -> dict:
        """The window in the API's TimeSeries JSON shape (cached per tick)."""
        from phoebe_spark.api.server import arrays_to_ts

        if self._wire is None:
            self._wire = arrays_to_ts(self.t, self.v)
        return self._wire


def _profile_rows(rng: np.random.Generator) -> list[tuple[int, float, float]]:
    """``bench.py``'s m4 profile table shape: eight scale-outs, up to ten
    load steps each, until the step passes the scale-out's capacity."""
    rows = []
    for so in SCALE_OUTS:
        for step in range(1, 11):
            thr = 20000.0 * step
            if thr > _capacity(so):
                break
            rows.append((so, thr, _latency_of(rng, so, thr)))
    return rows


def _finite(x) -> bool:
    return isinstance(x, (int, float)) and math.isfinite(x)


def check_response(route: str, status: int, body, req: dict) -> str | None:
    """Wire-contract check of one read; returns an error or None."""
    if status != 200:
        return f"status {status}: {str(body)[:200]}"
    if route == "/workload/prediction":
        obs = body["workload"]["observations"]
        if len(obs) != req["prediction_period_in_s"]:
            return f"{len(obs)} forecast points, asked {req['prediction_period_in_s']}"
        if not all(_finite(o["value"]) for o in obs):
            return "non-finite forecast value"
        return None
    if route == "/baselines/twres_prediction":
        so = body.get("scale_out")
        if not (isinstance(so, int) and req["min_scale_out"] <= so <= req["max_scale_out"]):
            return f"scale_out {so!r} outside the requested range"
        return None
    value = "recovery_time" if route.startswith("/recoverytime") else "latency"
    if route == "/latency/evaluation":
        want = sorted(int(c["scale_out"]) for c in req["candidates"])
    else:
        want = list(range(req["min_scale_out"], req["max_scale_out"] + 1))
    cands = body["candidates"]
    got = sorted(int(c["scale_out"]) for c in cands)
    if got != want:
        return f"candidate set {got} != requested {want}"
    best = sum(bool(c["is_best"]) for c in cands)
    if best != 1:
        return f"{best} candidates flagged is_best"
    if not all(_finite(c[value]) for c in cands):
        return f"non-finite {value}"
    return None


class Client:
    """The reference control loop's HTTP client, replayed in-process
    through the Flask test client."""

    def __init__(self, ctx, app):
        self.ctx = ctx
        self.http = app.test_client()
        self.ops: list[Op] = []
        self.bytes_in = 0
        self.bytes_out = 0
        self.api_self_s = 0.0

    def post(self, route: str, body: dict) -> tuple[int, object, float, int, int]:
        payload = json.dumps(body).encode()
        timer = self.ctx.model_timer
        if timer is not None:
            timer.begin_request(route)
        t0 = time.perf_counter()
        resp = self.http.post(route, data=payload, content_type="application/json")
        data = resp.get_data()
        dt = time.perf_counter() - t0
        if timer is not None:
            self.api_self_s += dt - timer.end_request()
        return resp.status_code, json.loads(data), dt, len(payload), len(data)

    def train(self, route: str, body: dict) -> str:
        status, out, _, _, _ = self.post(route, body)
        if status != 200:
            raise RuntimeError(f"{route}: status {status}")
        return out["task_hash"]

    def alive(self, task: str) -> bool:
        resp = self.http.get(f"/common/tasks/{task}")
        return bool(resp.get_json())

    def wait(self, task: str, timeout: float = OP_TIMEOUT_S) -> None:
        deadline = time.monotonic() + timeout
        while self.alive(task):
            if time.monotonic() > deadline:
                raise TimeoutError(f"training task {task} still running after {timeout:.0f} s")
            time.sleep(0.02)

    def read(self, route: str, body: dict, measured: bool = True):
        op = Op("read", route, time.time())
        try:
            status, out, dt, n_in, n_out = self.post(route, body)
            op.latency_s = dt
            op.error = check_response(route, status, out, body)
            op.ok = op.error is None
            if measured:
                self.bytes_in += n_in
                self.bytes_out += n_out
        except Exception as ex:  # noqa: BLE001 - recorded, never aborts the run
            out, op.ok, op.error = None, False, f"{type(ex).__name__}: {str(ex)[:300]}"
        op.window = (op.start_ts, time.time())
        if measured:
            self.ops.append(op)
        return out if op.ok else None


class ControlLoop:
    JOB = "perfbench"

    def __init__(self, ctx, client: Client, series: Series, rng: np.random.Generator):
        self.ctx, self.client, self.series, self.rng = ctx, client, series, rng
        self.current = 10

    def _rt_body(self) -> dict:
        return {
            "job": self.JOB, "min_scale_out": MIN_SO, "max_scale_out": MAX_SO,
            "workload": self.series.wire(), "scale_out": self.current,
            "prediction_period_in_s": 150, "downtime": 10.0, "last_checkpoint": 90,
            "max_recovery_time": 240,
        }

    def read_mix(self, measured: bool = True) -> tuple[dict | None, dict | None]:
        """The four reads; returns the recovery-time and latency responses."""
        c = self.client
        wl = self.series.wire()
        c.read("/workload/prediction",
               {"job": self.JOB, "workload": wl, "prediction_period_in_s": 600}, measured)
        rt = c.read("/recoverytime/prediction", self._rt_body(), measured)
        lat = None
        if rt is not None:
            lat = c.read("/latency/evaluation", {
                "job": self.JOB, "predicted_throughput_rate": rt["predicted_throughput_rate"],
                "current": rt["current"], "candidates": rt["candidates"], "slope": rt["slope"],
            }, measured)
        c.read("/baselines/twres_prediction", {
            "job": self.JOB, "workload": wl, "avg_latency": 1000.0,
            "max_latency_constraint": 2000.0, "scale_out": self.current,
            "time_window_interval": 600, "min_scale_out": MIN_SO, "max_scale_out": MAX_SO,
        }, measured)
        return rt, lat

    def decide(self, rt: dict, lat: dict) -> dict:
        from phoebe_spark.plans.control_loop import (
            Candidate, best_scale_out, best_scale_out_by_min_value, should_rescale,
        )

        t0 = time.perf_counter()
        rc = [Candidate(c["scale_out"], c["recovery_time"], c["is_valid"], c["is_best"])
              for c in rt["candidates"]]
        lc = [Candidate(c["scale_out"], c["latency"], c["is_valid"], c["is_best"])
              for c in lat["candidates"]]
        rcur = next(c for c in rc if c.scale_out == self.current)
        lcur = next(c for c in lc if c.scale_out == self.current)
        by_rt = best_scale_out_by_min_value(rcur, rc)
        by_lat = best_scale_out_by_min_value(lcur, lc)
        decision = best_scale_out(lc, lat["slope"], lcur, max(by_rt, by_lat))
        rescale = should_rescale(decision, self.current)
        self.ctx.plans_decide_s += time.perf_counter() - t0
        out = {"from": self.current, "decision": decision, "rescale": rescale}
        if rescale:
            self.current = decision
        return out

    def tick(self, i: int) -> Op:
        """Advance the series, append one profile row (the write), issue
        ``MIXES_PER_TICK`` read mixes beside the refit, wait for the refit,
        then decide on fresh recovery/latency reads."""
        c = self.client
        self.series.advance(INTERVAL_S)
        thr = float(np.mean(self.series.v[-120:]))
        row = (self.current, thr, _latency_of(self.rng, self.current, thr))
        op = Op("decision", f"tick{i}", time.time())
        self.ctx.watchdog.arm()
        try:
            c0 = procstat.cpu_snapshot()
            j0 = procstat.cpu_jiffies()
            t0 = time.perf_counter()
            task = c.train("/latency/training", {
                "job": self.JOB, "scale_outs": [row[0]], "throughput_rates": [row[1]],
                "latencies": [row[2]], "append": True,
            })
            for _ in range(MIXES_PER_TICK):
                self.read_mix()
            t_mixes = time.perf_counter()
            c.wait(task, OP_TIMEOUT_S - (t_mixes - t0))
            refit_wait_s = time.perf_counter() - t_mixes
            if self.ctx.fit_errors:
                raise RuntimeError(f"latency fit failed: {self.ctx.fit_errors.pop()}")
            rt = c.read("/recoverytime/prediction", self._rt_body())
            lat = None
            if rt is not None:
                lat = c.read("/latency/evaluation", {
                    "job": self.JOB, "predicted_throughput_rate": rt["predicted_throughput_rate"],
                    "current": rt["current"], "candidates": rt["candidates"], "slope": rt["slope"],
                })
            if lat is None:
                raise RuntimeError("decision reads failed")
            op.extra.update(self.decide(rt, lat), mixes_s=round(t_mixes - t0, 4),
                            refit_wait_s=round(refit_wait_s, 4))
            op.latency_s = time.perf_counter() - t0
            op.cpu_s = procstat.cpu_since(c0)
            op.extra["steal_s"] = procstat.steal_since(j0)
        except Exception as ex:  # noqa: BLE001 - recorded, never aborts the run
            op.ok, op.error = False, f"{type(ex).__name__}: {str(ex)[:300]}"
        finally:
            self.ctx.watchdog.disarm()
        op.window = (op.start_ts, time.time())
        return op


def _record_fit_errors(ctx) -> None:
    """Training runs in the server's threads, whose poll endpoint reads the
    same for a fit that raised; keep the exception so the tick fails."""
    from phoebe_spark.models.latency import LatencyModel

    orig = LatencyModel.fit

    def fit(self, *args, **kwargs):
        try:
            return orig(self, *args, **kwargs)
        except Exception as ex:
            ctx.fit_errors.append(f"{type(ex).__name__}: {str(ex)[:300]}")
            raise

    LatencyModel.fit = fit


def control_loop_api(ctx) -> Result:
    from phoebe_spark.api.server import create_app

    rng = np.random.default_rng(ctx.seed)
    _record_fit_errors(ctx)
    t_setup = time.perf_counter()
    app = create_app(ctx.spark)
    client = Client(ctx, app)
    series = Series(rng)
    profile = _profile_rows(rng)
    caps = [_capacity(so) for so in SCALE_OUTS]
    job = ControlLoop.JOB
    t0 = time.perf_counter()
    tasks = [
        client.train("/workload/training", {"job": job, "workload": series.wire()}),
        client.train("/latency/training", {
            "job": job, "scale_outs": [r[0] for r in profile],
            "throughput_rates": [r[1] for r in profile], "latencies": [r[2] for r in profile],
        }),
        client.train("/recoverytime/training",
                     {"job": job, "scale_outs": SCALE_OUTS, "max_throughput_rates": caps}),
        client.train("/baselines/twres_training",
                     {"job": job, "scale_outs": SCALE_OUTS, "throughput_rates": caps}),
    ]
    for task in tasks:
        client.wait(task)
    train_s = time.perf_counter() - t0
    loop = ControlLoop(ctx, client, series, rng)
    loop.read_mix(measured=False)
    setup_s = time.perf_counter() - t_setup
    client.api_self_s = 0.0
    if ctx.model_timer is not None:
        ctx.setup_model_s = ctx.model_timer.restart()
    ticks = [loop.tick(i) for i in range(TICKS)]
    n_ticks = len(ticks)
    for err in ctx.fit_errors:
        ticks.append(Op("decision", "training", time.time(), ok=False, error=err))
    ok_ticks = [o for o in ticks if o.ok]
    reads = len(client.ops)
    return Result(
        setup_s=setup_s,
        ops=client.ops + ticks,
        cycle_s=float(np.median([o.latency_s for o in ok_ticks])) if ok_ticks else float("nan"),
        cycle_cpu_s=float(np.median([o.cpu_s for o in ok_ticks])) if ok_ticks else float("nan"),
        cycles=n_ticks,
        setup_parts={"initial_training_s": train_s},
        info={
            "ticks": len(ticks),
            "reads": reads,
            "writes": len(ticks),
            "read_write_ratio": reads / max(1, len(ticks)),
            "decisions": [o.extra for o in ticks],
            "api_self_s": client.api_self_s,
            "api_request_bytes": client.bytes_in,
            "api_response_bytes": client.bytes_out,
        },
    )


WORKLOADS = {
    "registry_batch": registry_batch,
    "stream_drains": stream_drains,
    "control_loop_api": control_loop_api,
}
