"""The driver-side latency fit and scoring vs the MLlib pipeline they replaced.

``LatencyModel.fit`` reproduces MLlib's percentile, BisectingKMeans,
StandardScaler and GBTRegressor on the driver, and ``predict`` scores a
candidate grid with the fitted trees and centres. The oracle below is the
former Spark path, kept inline: the MLlib fit on one partition, then grid
DataFrame -> assemble -> scale -> GBT transform -> log-clamp feature ->
BisectingKMeans transform -> relabel -> validity -> first-valid window.
The oracle scores every (throughput, previously-valid) case of a sweep in
one pass: each grid row carries its case id and the first-valid window is
partitioned by case, which changes no row (every transform is row-wise).
Every fitted value and every field of every row must agree exactly.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.ml.clustering import BisectingKMeans
from pyspark.ml.feature import StandardScaler, VectorAssembler
from pyspark.ml.regression import GBTRegressor
from pyspark.sql import Window
from pyspark.sql import functions as F

from phoebe_spark.models.latency import ESTIMATOR_FACTOR, LatencyModel

FIELDS = ("scale_outs", "latency", "latency_class", "is_valid", "is_best")
SCHEMA = "scale_outs INT, throughput_rates DOUBLE, latencies DOUBLE"
THROUGHPUTS = (9_377.1, 18_500.0, 27_912.6, 36_000.3, 50_379.1, 71_250.0)
PREVIOUSLY_VALID = list(range(4, 25, 3))  # a non-contiguous previously-valid subset
CASES = [(thr, pv) for thr in THROUGHPUTS for pv in (None, PREVIOUSLY_VALID)]


@pytest.fixture(scope="module", autouse=True)
def checkpoint_dir(spark, tmp_path_factory):
    """MLlib's GBT checkpoints its lineage every 10 boosting rounds only
    when a checkpoint dir is set; without one a 200-round oracle fit grows
    its lineage until task serialization overflows the stack."""
    spark.sparkContext.setCheckpointDir(str(tmp_path_factory.mktemp("gbt_ckpt")))


def _latency(rng, so: int, thr: float) -> float:
    util = thr / (18000 + 2400 * so)
    lat = 900 + 2500 * util**2 + float(rng.normal(0, 50))
    if util > 0.85:
        lat = 20000 + 30000 * min(util - 0.85, 0.15) / 0.15 + float(rng.normal(0, 1000))
    return float(lat)


def _profile_rows():
    """A small profiles2-shaped table: latency low while capacity suffices,
    exploding near the capacity ceiling, so both clusters are present."""
    rng = np.random.default_rng(7)
    rows = []
    for so in (2, 8, 14, 20):
        capacity = 18000 + 2400 * so
        for step in range(1, 5):
            thr = 15000.0 * step
            if thr > capacity:
                break
            rows.append((so, thr, _latency(rng, so, thr)))
    return rows


def _control_loop_rows(seed: int):
    """The control loop's shape: eight scale-outs, 20k load steps up to
    capacity (15 rows), then one (scale-out, throughput, latency) row per
    tick for two append refits."""
    rng = np.random.default_rng(seed)
    base = [
        (so, 20000.0 * step, _latency(rng, so, 20000.0 * step))
        for so in (2, 5, 8, 11, 14, 17, 20, 23)
        for step in range(1, 11)
        if 20000.0 * step <= 18000 + 2400 * so
    ]
    ticks = [[(so, thr, _latency(rng, so, thr))] for so, thr in ((12, 31_418.7), (9, 44_002.5))]
    return base, ticks


def _wide_rows(seed: int, n: int, zero_share: float = 0.0):
    """``n`` rows whose distinct throughputs outnumber MLlib's 31 splits,
    so the split thresholds take the stride walk; some throughputs repeat
    and, with ``zero_share``, some are zero (the scaler's zero-skip path)."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        so = int(rng.choice([2, 5, 8, 11, 14, 17, 20, 23]))
        thr = rows[i - 3][1] if i % 7 == 6 else round(float(rng.uniform(5_000, 80_000)), 1)
        if rng.random() < zero_share:
            thr = 0.0
        rows.append((so, thr, _latency(rng, so, thr)))
    return rows


def _mllib_fit(spark, rows):
    """The former MLlib fit, on one partition."""
    df = spark.createDataFrame(rows, SCHEMA).coalesce(1)
    qs = df.agg(
        F.expr("percentile(latencies, 0.0)").alias("q0"),
        F.expr("percentile(latencies, 0.01)").alias("q1"),
        F.expr("percentile(latencies, 0.5)").alias("med"),
    ).collect()[0]
    scale = max(qs["q1"] - qs["q0"], 1e-9)
    feat = df.withColumn(
        "_lat_feat",
        F.log(F.greatest(F.lit(1.0), (F.col("latencies") - F.lit(qs["med"])) / F.lit(scale))),
    )
    feat_v = VectorAssembler(inputCols=["_lat_feat"], outputCol="_cl_features").transform(feat)
    cluster_model = BisectingKMeans(
        k=2, featuresCol="_cl_features", predictionCol="_cluster", seed=42
    ).fit(feat_v)
    stats = (
        cluster_model.transform(feat_v)
        .groupBy("_cluster")
        .agg(F.min("latencies").alias("mn"))
        .orderBy("mn")
        .collect()
    )
    label_map = {int(r["_cluster"]): i for i, r in enumerate(stats)}
    reg_v = VectorAssembler(
        inputCols=["scale_outs", "throughput_rates"], outputCol="_raw_features"
    ).transform(df)
    scaler_model = StandardScaler(
        inputCol="_raw_features", outputCol="_features", withMean=True, withStd=True
    ).fit(reg_v)
    regressor_model = GBTRegressor(
        featuresCol="_features",
        labelCol="latencies",
        maxDepth=10,
        maxIter=min(ESTIMATOR_FACTOR * len(rows), 200),
        seed=42,
    ).fit(scaler_model.transform(reg_v))
    return dict(
        med=qs["med"], scale=scale, cluster_model=cluster_model, label_map=label_map,
        scaler_model=scaler_model, regressor_model=regressor_model,
    )


def _oracle_predict(spark, o, lo, hi):
    """The MLlib scoring of every ``CASES`` grid over scale-outs
    ``lo..hi``, in one pass: one list of ``FIELDS`` rows per case."""
    cases = spark.createDataFrame(
        [(i, float(thr), pv is not None) for i, (thr, pv) in enumerate(CASES)],
        "case INT, throughput_rates DOUBLE, pv_only BOOLEAN",
    )
    grid = (
        spark.range(lo, hi + 1)
        .select(F.col("id").cast("int").alias("scale_outs"))
        .crossJoin(cases)
        .dropDuplicates(["case", "scale_outs"])
    )
    reg_assembler = VectorAssembler(
        inputCols=["scale_outs", "throughput_rates"], outputCol="_raw_features"
    )
    scored = o["regressor_model"].transform(
        o["scaler_model"].transform(reg_assembler.transform(grid))
    ).withColumnRenamed("prediction", "latency")
    feat = scored.withColumn(
        "_lat_feat",
        F.log(F.greatest(F.lit(1.0), (F.col("latency") - F.lit(o["med"])) / F.lit(o["scale"]))),
    )
    assembler = VectorAssembler(inputCols=["_lat_feat"], outputCol="_cl_features")
    clustered = o["cluster_model"].transform(assembler.transform(feat))
    mapping = F.create_map(
        *[x for k, v in o["label_map"].items() for x in (F.lit(k), F.lit(v))]
    )
    out = clustered.withColumn("latency_class", mapping[F.col("_cluster")])
    valid = (F.col("latency_class") < 1) & (
        ~F.col("pv_only") | F.col("scale_outs").isin(*PREVIOUSLY_VALID)
    )
    out = out.withColumn("is_valid", valid)
    first_valid = F.min(F.when(F.col("is_valid"), F.col("scale_outs"))).over(
        Window.partitionBy("case")
        .orderBy("scale_outs")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    out = out.withColumn("is_best", F.col("is_valid") & (F.col("scale_outs") == first_valid))
    scored = [[] for _ in CASES]
    for r in out.orderBy("case", "scale_outs").collect():
        scored[r["case"]].append(tuple(r[c] for c in FIELDS))
    return scored


def _assert_matches_mllib(spark, m: LatencyModel):
    """Every fitted value and every predict field equals the MLlib oracle's
    on the model's own training rows; returns the classes and best flags
    seen over the sweep."""
    f = m.fitted
    o = _mllib_fit(spark, list(f.data))
    assert f.med == o["med"]
    assert f.scale == o["scale"]
    assert f.mean.tolist() == o["scaler_model"].mean.toArray().tolist()
    assert f.std.tolist() == o["scaler_model"].std.toArray().tolist()
    assert list(f.centers) == [c[0] for c in o["cluster_model"].clusterCenters()]
    assert f.label_map == o["label_map"]
    assert f.regressor_model.getNumTrees == o["regressor_model"].getNumTrees
    assert list(f.regressor_model.weights) == list(o["regressor_model"].treeWeights)
    seen_classes, seen_best = set(), 0
    for (thr, pv), want in zip(CASES, _oracle_predict(spark, o, 2, 24)):
        got = [
            tuple(r[c] for c in FIELDS)
            for r in m.predict(thr, range(2, 25), previously_valid=pv)
        ]
        assert got == want, (thr, pv)
        seen_classes |= {r[2] for r in got}
        seen_best += sum(r[4] for r in got)
    return seen_classes, seen_best


@pytest.fixture(scope="module")
def fitted(spark):
    m = LatencyModel()
    m.fit(_profile_rows())
    return m


def test_driver_scoring_matches_dataframe_pipeline(fitted, spark):
    """The fixture table: fit and scoring both match MLlib."""
    seen_classes, seen_best = _assert_matches_mllib(spark, fitted)
    # the sweep must exercise both classes and the best-candidate flag
    assert seen_classes == {0, 1}
    assert seen_best > 0


def test_append_refits_match_mllib(spark):
    base, ticks = _control_loop_rows(41)
    assert len(base) == 15
    m = LatencyModel()
    m.fit(base)
    _assert_matches_mllib(spark, m)
    for tick in ticks:
        m.fit(tick, append=True)
        _assert_matches_mllib(spark, m)
    assert len(m.previous_data) == 17


def test_stride_walk_thresholds_match_mllib(spark):
    rows = _wide_rows(3, 44)
    assert len({r[1] for r in rows}) > 32
    m = LatencyModel()
    m.fit(rows)
    _assert_matches_mllib(spark, m)


@pytest.mark.slow
@pytest.mark.parametrize("seed", range(6))
def test_random_tables_match_mllib(spark, seed):
    rng = np.random.default_rng(100 + seed)
    rows = _wide_rows(seed, int(rng.integers(10, 70)), zero_share=0.15 * (seed % 2))
    m = LatencyModel()
    m.fit(rows)
    _assert_matches_mllib(spark, m)


def test_predict_dedupes_and_sorts(fitted):
    rows = fitted.predict(40_000.0, [9, 3, 9, 5])
    assert [r["scale_outs"] for r in rows] == [3, 5, 9]
    assert sum(r["is_best"] for r in rows) <= 1
