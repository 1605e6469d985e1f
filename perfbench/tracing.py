"""Per-layer accounting for a traced run, measured from outside the engine.

Four probes, all installed by the benchmark and none inside program code:

- a Spark event log enabled at launch (``harness.configure``), parsed after
  the session stops: job, stage and task counts, executor run/CPU/GC time,
  scheduler delay, shuffle and scan volumes and the Python-worker byte
  counters, attributed to operations by job submission time or job group;
- a ``StreamingQueryListener`` recording every micro-batch's progress
  (``durationMs`` phases, input rows, state-store size and commit time);
- timing wrappers around the model classes' ``fit``/``predict`` and the
  ``DataFrame.collect`` calls made inside an API request;
- samples of the session's persisted-RDD count after each operation.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener


class ProgressListener(StreamingQueryListener):
    """Collects micro-batch progress per streaming run, tagged with the
    benchmark operation that was active when the run started."""

    def __init__(self):
        self.current_op: str | None = None
        self.op_of_run: dict[str, str] = {}
        self.batches: dict[str, list[dict]] = defaultdict(list)
        self.terminated: set[str] = set()
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        with self._lock:
            self.op_of_run[str(event.runId)] = self.current_op or "?"

    def onQueryProgress(self, event):
        d = json.loads(event.progress.json)
        dur = d.get("durationMs") or {}
        ops = d.get("stateOperators") or []
        rec = {
            "batch": d.get("batchId"),
            "input_rows": int(d.get("numInputRows") or 0),
            "dur_ms": {k: float(v) for k, v in dur.items()},
            "state_rows": sum(int(o.get("numRowsTotal") or 0) for o in ops),
            "state_mem": sum(int(o.get("memoryUsedBytes") or 0) for o in ops),
            "state_commit_ms": sum(float(o.get("commitTimeMs") or 0) for o in ops),
        }
        with self._lock:
            self.batches[str(d.get("runId"))].append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self.terminated.add(str(event.runId))

    def wait_quiet(self, timeout: float = 10.0) -> None:
        """Wait until every started run has delivered its termination event
        (progress events arrive asynchronously after ``awaitTermination``)."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if set(self.op_of_run) <= self.terminated:
                    return
            time.sleep(0.05)

    def per_op(self) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = defaultdict(list)
        with self._lock:
            for run, op in self.op_of_run.items():
                out[op].extend(self.batches.get(run, []))
        return out


class ModelTimer:
    """Timing wrappers around model methods and API-request collects.

    Each wrapped method adds its inclusive wall time to ``totals[metric]``;
    the outermost model call on a thread also adds to that thread's
    ``model_s`` so the API layer's self time can be derived.
    """

    METHODS = {
        ("phoebe_spark.models.workload", "WorkloadForecaster", "fit"): "models.workload_fit_s",
        ("phoebe_spark.models.workload", "WorkloadForecaster", "predict"): "models.workload_predict_s",
        ("phoebe_spark.models.latency", "LatencyModel", "fit"): "models.latency_fit_s",
        ("phoebe_spark.models.latency", "LatencyModel", "predict"): "models.latency_predict_s",
        ("phoebe_spark.models.recovery", "RecoveryTimeModel", "predict"): "models.recovery_predict_s",
        ("phoebe_spark.models.twres", "TwresModel", "predict"): "models.twres_predict_s",
    }

    def __init__(self):
        self.totals: dict[str, float] = defaultdict(float)
        self.gbt_trees = 0
        self.local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[type, str, object]] = []

    def _add(self, metric: str, dt: float) -> None:
        with self._lock:
            self.totals[metric] += dt

    def install(self) -> None:
        import importlib

        # The classic (non-Connect) frame class overrides ``collect``; the
        # ``pyspark.sql.DataFrame`` base's method is never reached.
        from pyspark.sql.classic.dataframe import DataFrame

        for (mod, cls_name, meth), metric in self.METHODS.items():
            cls = getattr(importlib.import_module(mod), cls_name)
            self._wrap(cls, meth, metric)
        # LatencyModel.predict returns a lazy frame; the route's collect is
        # the scoring work, so collects inside a /latency/* request count as
        # latency prediction time.
        self._wrap(DataFrame, "collect", None)

    def _wrap(self, cls: type, meth: str, metric: str | None) -> None:
        orig = getattr(cls, meth)
        timer = self

        def wrapped(*args, **kwargs):
            loc = timer.local
            route = getattr(loc, "route", None)
            name = metric
            if name is None:
                if not (route and route.startswith("/latency/")):
                    return orig(*args, **kwargs)
                name = "models.latency_predict_s"
            depth = getattr(loc, "depth", 0)
            loc.depth = depth + 1
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                loc.depth = depth
                timer._add(name, dt)
                if depth == 0:
                    loc.model_s = getattr(loc, "model_s", 0.0) + dt
                if meth == "fit" and cls.__name__ == "LatencyModel":
                    reg = getattr(args[0], "regressor_model", None)
                    if reg is not None:
                        timer.gbt_trees = int(reg.getNumTrees)

        self._saved.append((cls, meth, orig))
        setattr(cls, meth, wrapped)

    def restart(self) -> dict[str, float]:
        """Zero the totals (start of the measured phase); returns the old ones."""
        with self._lock:
            old, self.totals = dict(self.totals), defaultdict(float)
        return old

    def uninstall(self) -> None:
        for cls, meth, orig in reversed(self._saved):
            setattr(cls, meth, orig)
        self._saved.clear()

    def begin_request(self, route: str) -> None:
        self.local.route = route
        self.local.model_s = 0.0

    def end_request(self) -> float:
        """Model seconds spent inside the request that just ended."""
        self.local.route = None
        return getattr(self.local, "model_s", 0.0)


def _accum(acc: dict, name: str) -> float:
    for a in acc:
        if a.get("Name") == name:
            try:
                return float(a.get("Update") or 0)
            except (TypeError, ValueError):
                return 0.0
    return 0.0


def parse_event_log(log_dir: str) -> dict:
    """Jobs and per-job task totals from the single event log in ``log_dir``.

    Returns ``{job_id: {"submitted": epoch_s, "group": str|None,
    "stages": n, "tasks": n, "failed_tasks": n, metric: total, ...}}``.
    Stages count only stages that ran (skipped stages are not counted).
    """
    # Spark 4 writes a rolling log: a directory of ``events_<n>_<app>`` files.
    files = sorted(
        (f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
         if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus"))),
        key=lambda f: [int(x) if x.isdigit() else x for x in os.path.basename(f).split("_")],
    )
    jobs: dict[int, dict] = {}
    job_of_stage: dict[int, int] = {}
    ran_stages: set[tuple[int, int]] = set()
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "submitted": ev.get("Submission Time", 0) / 1000.0,
                        "group": props.get("spark.jobGroup.id"),
                        "stages": 0,
                        "tasks": 0,
                        "failed_tasks": 0,
                        "run_s": 0.0,
                        "cpu_s": 0.0,
                        "gc_s": 0.0,
                        "sched_delay_s": 0.0,
                        "shuffle_read_bytes": 0.0,
                        "shuffle_write_bytes": 0.0,
                        "scan_bytes": 0.0,
                        "scan_rows": 0.0,
                        "py_to_worker": 0.0,
                        "py_from_worker": 0.0,
                    }
                    for sid in ev.get("Stage IDs") or []:
                        job_of_stage.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    jid = job_of_stage.get(sid)
                    if jid is None or jid not in jobs:
                        continue
                    j = jobs[jid]
                    if (sid, ev.get("Stage Attempt ID", 0)) not in ran_stages:
                        ran_stages.add((sid, ev.get("Stage Attempt ID", 0)))
                        j["stages"] += 1
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    j["tasks"] += 1
                    if info.get("Failed") or info.get("Killed"):
                        j["failed_tasks"] += 1
                    run_ms = float(m.get("Executor Run Time") or 0)
                    j["run_s"] += run_ms / 1000.0
                    j["cpu_s"] += float(m.get("Executor CPU Time") or 0) / 1e9
                    j["gc_s"] += float(m.get("JVM GC Time") or 0) / 1000.0
                    dur = float(info.get("Finish Time", 0) - info.get("Launch Time", 0))
                    overhead = (
                        run_ms
                        + float(m.get("Executor Deserialize Time") or 0)
                        + float(m.get("Result Serialization Time") or 0)
                        + float(info.get("Getting Result Time") or 0)
                    )
                    j["sched_delay_s"] += max(0.0, dur - overhead) / 1000.0
                    sr = m.get("Shuffle Read Metrics") or {}
                    j["shuffle_read_bytes"] += float(
                        (sr.get("Remote Bytes Read") or 0) + (sr.get("Local Bytes Read") or 0)
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    j["shuffle_write_bytes"] += float(sw.get("Shuffle Bytes Written") or 0)
                    im = m.get("Input Metrics") or {}
                    j["scan_bytes"] += float(im.get("Bytes Read") or 0)
                    j["scan_rows"] += float(im.get("Records Read") or 0)
                    acc = info.get("Accumulables") or []
                    j["py_to_worker"] += _accum(acc, "data sent to Python workers")
                    j["py_from_worker"] += _accum(acc, "data returned from Python workers")
    return jobs


JOB_FIELDS = (
    "stages", "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s", "sched_delay_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "scan_bytes", "scan_rows",
    "py_to_worker", "py_from_worker",
)


def sum_jobs(jobs: list[dict]) -> dict:
    out = {"jobs": len(jobs)}
    for f in JOB_FIELDS:
        out[f] = sum(j[f] for j in jobs)
    return out


def jobs_in_windows(jobs: dict, windows: list[tuple[float, float]]) -> list[dict]:
    """Jobs submitted inside any of the ``(start, end)`` epoch windows."""
    return [j for j in jobs.values() if any(a <= j["submitted"] <= b for a, b in windows)]


def streaming_totals(batches: list[dict]) -> dict:
    """Per-layer streaming figures over a list of progress records."""
    def phase(name: str) -> float:
        return sum(b["dur_ms"].get(name, 0.0) for b in batches) / 1000.0

    n = len(batches)
    return {
        "streaming.batches": n,
        "streaming.useful_batch_ratio": (
            sum(1 for b in batches if b["input_rows"] > 0) / n if n else 0.0
        ),
        "streaming.input_rows": sum(b["input_rows"] for b in batches),
        "streaming.trigger_s": phase("triggerExecution"),
        "streaming.add_batch_s": phase("addBatch"),
        "streaming.get_batch_s": phase("getBatch"),
        "streaming.query_planning_s": phase("queryPlanning"),
        "streaming.wal_commit_s": phase("walCommit"),
        "streaming.commit_offsets_s": phase("commitOffsets"),
        "streaming.state_rows_max": max((b["state_rows"] for b in batches), default=0),
        "streaming.state_mem_bytes_max": max((b["state_mem"] for b in batches), default=0),
        "streaming.state_commit_s": sum(b["state_commit_ms"] for b in batches) / 1000.0,
    }
