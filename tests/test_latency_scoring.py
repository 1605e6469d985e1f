"""Driver-side latency scoring vs the DataFrame pipeline it replaced.

``LatencyModel.predict`` scores a candidate grid on the driver. The oracle
below is the former Spark path, kept inline: grid DataFrame -> assemble ->
scale -> GBT transform -> log-clamp feature -> BisectingKMeans transform ->
relabel -> validity -> first-valid window. Both must agree exactly on every
field of every row.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.ml.feature import VectorAssembler
from pyspark.sql import Window
from pyspark.sql import functions as F

from phoebe_spark.models.latency import LatencyModel

FIELDS = ("scale_outs", "latency", "latency_class", "is_valid", "is_best")


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
            util = thr / capacity
            lat = 900 + 2500 * util**2 + float(rng.normal(0, 50))
            if util > 0.85:
                lat = 20000 + 30000 * (util - 0.85) / 0.15 + float(rng.normal(0, 1000))
            rows.append((so, thr, float(lat)))
    return rows


@pytest.fixture(scope="module")
def fitted(spark):
    df = spark.createDataFrame(
        _profile_rows(), "scale_outs INT, throughput_rates DOUBLE, latencies DOUBLE"
    )
    m = LatencyModel()
    m.fit(df)
    return m


def _oracle(spark, m, throughput_rate, lo, hi, previously_valid=None):
    f = m.fitted
    grid = (
        spark.range(lo, hi + 1)
        .select(F.col("id").cast("int").alias("scale_outs"))
        .withColumn("throughput_rates", F.lit(float(throughput_rate)))
        .dropDuplicates(["scale_outs"])
    )
    reg_assembler = VectorAssembler(
        inputCols=["scale_outs", "throughput_rates"], outputCol="_raw_features"
    )
    scored = f.regressor_model.transform(
        f.scaler_model.transform(reg_assembler.transform(grid))
    ).withColumnRenamed("prediction", "latency")
    feat = scored.withColumn(
        "_lat_feat",
        F.log(F.greatest(F.lit(1.0), (F.col("latency") - F.lit(f.med)) / F.lit(f.scale))),
    )
    assembler = VectorAssembler(inputCols=["_lat_feat"], outputCol="_cl_features")
    clustered = f.cluster_model.transform(assembler.transform(feat))
    mapping = F.create_map(*[x for k, v in f.label_map.items() for x in (F.lit(k), F.lit(v))])
    out = clustered.withColumn("latency_class", mapping[F.col("_cluster")])
    valid = F.col("latency_class") < 1
    if previously_valid is not None:
        valid = valid & F.col("scale_outs").isin(*[int(s) for s in previously_valid])
    out = out.withColumn("is_valid", valid)
    first_valid = F.min(F.when(F.col("is_valid"), F.col("scale_outs"))).over(
        Window.orderBy("scale_outs").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    out = out.withColumn("is_best", F.col("is_valid") & (F.col("scale_outs") == first_valid))
    return [tuple(r[c] for c in FIELDS) for r in out.orderBy("scale_outs").collect()]


def test_driver_scoring_matches_dataframe_pipeline(fitted, spark):
    m = fitted
    prev = list(range(4, 25, 3))  # a non-contiguous previously-valid subset
    seen_classes, seen_best = set(), 0
    for thr in (9_377.1, 18_500.0, 27_912.6, 36_000.3, 50_379.1):
        for pv in (None, prev):
            want = _oracle(spark, m, thr, 2, 24, pv)
            got = [
                tuple(r[c] for c in FIELDS)
                for r in m.predict(thr, range(2, 25), previously_valid=pv)
            ]
            assert got == want, (thr, pv)
            seen_classes |= {r[2] for r in got}
            seen_best += sum(r[4] for r in got)
    # the sweep must exercise both classes and the best-candidate flag
    assert seen_classes == {0, 1}
    assert seen_best > 0


def test_predict_dedupes_and_sorts(fitted):
    rows = fitted.predict(40_000.0, [9, 3, 9, 5])
    assert [r["scale_outs"] for r in rows] == [3, 5, 9]
    assert sum(r["is_best"] for r in rows) <= 1

