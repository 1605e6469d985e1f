"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced to full execution with a count-style noop write
(``df.write.format('noop')``) so no result ferries to the driver.

The 10 slowest entries are re-run twice more and reported as the MEDIAN of
3 runs (raw samples in ``rerun_runs``), so slow-tail trends are judgeable
against the run-to-run spread instead of a single draw.

An entry that raises does not stop the run: its error goes into the
additive ``errors`` map (``{name: "Type: message"}``), it stays out of
``queries`` and ``value``, and the process exits 1 after printing.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from phoebe_spark.queries import QUERIES
from phoebe_spark.session import get_spark

# Bench set: the ENTIRE query registry, derived (not hand-listed) so a new
# registry entry can never silently land unbenched (round-9 verdict: the
# previous hand-maintained list had drifted 49 names behind the registry).
# Numeric ordering matches the registry's qNNN numbering. Exclusions, if
# ever needed, go in BENCH_EXCLUDE with a written justification.
BENCH_EXCLUDE: set[str] = set()


def _qnum(name: str) -> tuple[int, str]:
    m = re.match(r"q(\d+)", name)
    return (int(m.group(1)) if m else 10**9, name)


BENCH_QUERIES = sorted(
    (n for n in QUERIES if n not in BENCH_EXCLUDE), key=_qnum
)


def run_entry(
    name: str,
    fn,
    timings: dict[str, float],
    errors: dict[str, str],
) -> float | None:
    """Time ``fn()`` into ``timings[name]``; if it raises, print the
    traceback to stderr, record ``"Type: first message line"`` in
    ``errors[name]``, drop any earlier timing of ``name`` and return None."""
    t0 = time.time()
    try:
        fn()
    except Exception as e:  # noqa: BLE001 - one entry must not end the run
        traceback.print_exc(file=sys.stderr)
        msg = str(e).strip().splitlines()
        errors[name] = f"{type(e).__name__}: {msg[0] if msg else ''}"
        timings.pop(name, None)
        return None
    timings[name] = round(time.time() - t0, 3)
    return timings[name]


def _noop_write(name: str, spark, sf_dir: str):
    return lambda: QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark("phoebe-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm up the session (JVM JIT, codegen, shuffle machinery, parquet
    # footers) so per-query timings measure the queries, not session boot.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for t in ("lineitem", "orders", "events", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").limit(1).collect()
    # Pre-spawn the Python UDF workers + Arrow serde path so the first
    # pandas-backed query times its work, not worker boot.
    import pandas as pd
    from pyspark.sql import functions as F

    spark.range(64).repartition(8).groupBy(F.col("id") % 8).applyInPandas(
        lambda pdf: pd.DataFrame({"n": [len(pdf)]}), "n long"
    ).collect()
    # first broadcast-exchange init costs ~2 s once per JVM — warm it so
    # it doesn't land on whichever query first broadcasts
    spark.range(1000).join(
        F.broadcast(spark.createDataFrame([(1, "x")], "id long, s string")), "id"
    ).count()

    def release_session_state() -> None:
        """Unpersist lingering blocks and nudge the JVM GC. Measured
        round-8 drift attribution: after ~80 entries the streaming drains
        ran 12-36% slower in-session (q246 8.8->9.87 s, q229 9.45->12.84 s
        medians); with this release they return to first-in-session speed
        (10.44->10.71 s / 9.91->9.82 s). The accumulation is localCheckpoint
        blocks (eagerly persisted, released only when the driver GC +
        ContextCleaner catch up) plus JVM heap aging — not machine noise.

        INVARIANT (ADVICE r8): this unpersists EVERY persistent RDD in
        the session, including eagerly localCheckpointed RDDs whose
        lineage is already truncated — any such DataFrame becomes
        unrecoverable afterwards. Safe only because each bench entry is
        fully drained (noop write) before the every-50 release; no live
        DataFrame reference may be held across a release boundary."""
        jsc = spark.sparkContext._jsc.sc()
        it = jsc.getPersistentRDDs().iterator()
        while it.hasNext():
            it.next()._2().unpersist(False)
        spark.catalog.clearCache()
        import gc

        gc.collect()
        spark.sparkContext._jvm.System.gc()

    # Per-entry wall-clock start timestamps (epoch seconds). Round-11's
    # closing benches each contained ONE contiguous slow window at a
    # different registry position that had to be attributed to external
    # host noise by cross-run inference; with absolute timestamps a noise
    # window is machine-identifiable (entries inflated AND clustered in
    # wall-clock time). Additive only: the one-line JSON contract and the
    # `queries` map are unchanged (VERDICT r11 ask #7).
    entry_ts: dict[str, float] = {}
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for i, name in enumerate(BENCH_QUERIES):
        if i and i % 50 == 0:
            release_session_state()
        entry_ts[name] = round(time.time(), 3)
        run_entry(name, _noop_write(name, spark, sf_dir), timings, errors)

    # The slow tail dominates round-over-round comparisons, and single-shot
    # timings at these magnitudes carry a 120-145 s run-to-run spread — so
    # re-run the 10 slowest entries twice more and report each one's MEDIAN
    # of 3 runs. `rerun_runs` keeps the raw samples so a regression can be
    # judged against the observed spread, not a single draw.
    #
    # Release BEFORE EVERY re-run sample: the slow tail is mostly the
    # streaming drains, and the round-10 drift attribution
    # (scripts/drift_drains.py, DRIFT_r10.md) measured that drains run
    # 20-45% slower when executed back-to-back without a release (the
    # no-release aged run totaled 174.9 s vs 120.0 s with releases over the
    # same 22 drains) — exactly the regime this re-run cluster used to
    # create, which is what inflated BENCH_r09's medians (q229 natural draw
    # 8.4 s, back-to-back re-runs 9.75/9.75). Per-sample release makes the
    # median measure the same released regime as the main loop.
    import statistics

    rerun_runs: dict[str, list[float]] = {}
    rerun_ts: dict[str, list[float]] = {}
    for name in sorted(timings, key=lambda n: -timings[n])[:10]:
        runs = [timings[name]]
        rerun_ts[name] = [entry_ts[name]]
        for _ in range(2):
            release_session_state()
            rerun_ts[name].append(round(time.time(), 3))
            sample = run_entry(name, _noop_write(name, spark, sf_dir), timings, errors)
            if sample is None:
                break
            runs.append(sample)
        rerun_runs[name] = runs
        if name not in errors:
            timings[name] = round(statistics.median(runs), 3)

    # Model-pipeline throughput vs the reference (BASELINE.md: the
    # analytics engine processes 6 h of 1 Hz samples, 21,600 points, with a
    # 20-model ensemble): fit + 600 s forecast on the same-sized series.
    import numpy as np

    from phoebe_spark.models.workload import WorkloadForecaster

    def stage(stage_name: str, fn) -> None:
        entry_ts[stage_name] = round(time.time(), 3)
        run_entry(stage_name, fn, timings, errors)

    rng = np.random.default_rng(42)
    t = np.arange(21_600)
    vals = np.abs(
        (100_000 * np.sin(2 * np.pi * t / 7_200) + 100_000) * (1 + rng.normal(0, 0.01, len(t)))
    )
    forecaster = WorkloadForecaster()
    stage("m1_fit_20_models_6h_series", lambda: forecaster.fit(t, vals))
    stage("m2_forecast_600s", lambda: forecaster.predict(t, vals, horizon_s=600))

    # m4-m8: the remaining §2.8 model pipelines as named bench stages
    # (VERDICT r10 ask #3), on the profiles2-shaped fixture the reference
    # trains on (8 scale-outs x ~10 profiling rounds; FIXTURES.md §3) so a
    # regression in the core model surface shows in the driver artifact,
    # not only in pytest runtimes.
    from phoebe_spark.models.capacity import CapacityModel
    from phoebe_spark.models.latency import LatencyModel
    from phoebe_spark.models.recovery import RecoveryTimeModel
    from phoebe_spark.models.twres import TwresModel

    scale_outs = [2, 5, 8, 11, 14, 17, 20, 23]
    prof_rows = []
    for so in scale_outs:
        capacity = 18000 + 2400 * so
        for step in range(1, 11):
            thr = 20000.0 * step
            if thr > capacity:
                break
            util = thr / capacity
            lat = 900 + 2500 * util**2 + float(rng.normal(0, 50))
            if util > 0.85:
                lat = 20000 + 30000 * (util - 0.85) / 0.15 + float(rng.normal(0, 1000))
            prof_rows.append((so, thr, float(lat)))

    # m4 fits the latency model on the 15-row profile table on the driver:
    # the GBT regressor boosts 3n (at most 200) trees (mirroring the reference's
    # n_estimators) in plain Python, with no Spark job. m5 scores the
    # 23-row candidate grid on the driver with the fitted trees and
    # centres; it and the other stages are sub-second.
    latency_model = LatencyModel()
    stage("m4_latency_fit_profiles", lambda: latency_model.fit(prof_rows))
    stage(
        "m5_latency_candidate_grid",
        lambda: latency_model.predict(throughput_rate=50379.1, scale_outs=range(2, 25)),
    )

    max_thr = [18000.0 + 2400.0 * so for so in scale_outs]
    def m6() -> None:
        cap = CapacityModel()
        cap.fit(scale_outs, max_thr)
        cap.predict(list(range(2, 25)))

    def m7() -> None:
        recovery = RecoveryTimeModel()
        recovery.fit(scale_outs, max_thr)
        recovery.predict(
            forecaster, t, vals, scale_out_range=list(range(2, 25)),
            prediction_period_s=150, max_recovery_time=240.0, downtime=10.0,
            last_checkpoint=90.0,
        )

    def m8() -> None:
        twres = TwresModel()
        twres.fit(scale_outs, max_thr)
        twres.predict(
            forecaster, t, vals, current_scale_out=10, min_scale_out=2,
            max_scale_out=24, time_window_interval=600, avg_latency=100,
            max_latency_constraint=2000,
        )

    stage("m6_capacity_ridge", m6)
    stage("m7_recovery_iterative_simpson", m7)
    stage("m8_twres_decision", m8)

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Full line first (compact separators keep it as small as possible),
    # with the scalar fields BEFORE the big `queries` map so a truncated
    # capture still shows the total; then a short summary-only line last so
    # any tail-capture window always contains one fully parseable JSON line.
    full = {
        "metric": "bench_total_runtime",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "queries": timings,
        "rerun_runs": rerun_runs,
        "entry_ts": entry_ts,
        "rerun_ts": rerun_ts,
        "errors": errors,
    }
    print(json.dumps(full, separators=(",", ":")))
    # The driver's BENCH artifact keeps only a 2000-char tail, so also
    # persist the complete per-query map to a file — cross-round regression
    # tracking needs all entries, not 5 (VERDICT r8 ask #4). The default
    # path is UNTRACKED (.gitignore) so driver-initiated bench runs no
    # longer dirty the working tree (VERDICT r10 ask #5); the builder
    # commits a round-stamped copy (bench_results_r{N}.json) at each
    # round's close. Override with $SPARK_GRAFT_BENCH_OUT, disable with an
    # empty value.
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_results_latest.json"),
    )
    if out_path:
        try:
            with open(out_path, "w") as fh:
                json.dump(full, fh, indent=1, sort_keys=True)
        except OSError:
            pass  # benching must never fail on an unwritable results path
    top5 = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5])
    print(
        json.dumps(
            {
                "metric": "bench_total_runtime",
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "entries": len(timings),
                "queries": top5,
                "slow_tail_medians3": {n: timings[n] for n in rerun_runs if n in timings},
                "errors": errors,
            },
            separators=(",", ":"),
        )
    )
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
