"""M4-M5: latency model — two-cluster latency classifier + boosted-tree
latency regressor, evaluated on a scale-out candidate grid.

Reference (/root/reference/analytics/app/latency/models.py):
- clustering (``:39-45``): RobustScaler(quantile_range=(0,1)) on latencies ->
  log(max(1, x)) -> Birch(n_clusters=2); cluster ids relabeled so label 0 is
  the low-latency cluster (``:56-84`` orders clusters and checks max(c0) <
  min(c1)).
- regressor (``:47-54``): StandardScaler on (scale_outs, throughput_rates) ->
  GradientBoostingRegressor(max_depth=10, n_estimators=3*len(data)).
- fit (``:86-114``): optional append of previous training data.
- predict/evaluate (``:116-148``): one request row per candidate scale-out
  (deduplicated), regressor predicts latency, clusterer predicts class,
  ResponseFinalizer with restriction=1 (class must be 'low') marks
  validity/best.

MLlib mapping (no sklearn in container): Birch -> BisectingKMeans(k=2) —
same two-cluster low/high-latency intent; GradientBoostingRegressor ->
GBTRegressor (maxIter capped; 3*n trees on tiny profile tables is the
reference's intent of "enough capacity to memorize", not a tuned number).

Scale note: fitting is the Spark-distributed stage. A candidate grid is at
most one row per scale-out (<= 23), so ``predict`` scores it on the driver,
like the recovery-time and TWRES grids, and runs no Spark job. Each row goes
through the fitted models' single-instance ``predict`` — the JVM call their
``transform`` UDFs make — with ``StandardScalerModel``'s arithmetic and
Spark's ``log`` (``java.lang.StrictMath``) in between, so the rows are
bit-identical to the assemble -> scale -> transform -> window DataFrame
pipeline (``tests/test_latency_scoring.py`` keeps that pipeline as its
oracle).

A fit builds its models off to the side and publishes them with one
attribute store (``fitted``); ``predict`` reads that snapshot once, so a
read served during a refit never mixes old and new models, and a refit that
raises leaves the previous models serving.
"""

from __future__ import annotations

from typing import Iterable, NamedTuple

import numpy as np
from pyspark import SparkContext
from pyspark.ml.clustering import BisectingKMeans, BisectingKMeansModel
from pyspark.ml.feature import StandardScaler, StandardScalerModel, VectorAssembler
from pyspark.ml.linalg import Vectors
from pyspark.ml.regression import GBTRegressionModel, GBTRegressor
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ESTIMATOR_FACTOR = 3


class Fitted(NamedTuple):
    """One fit's models, published together."""

    data: DataFrame  # training rows, the base of an append refit
    cluster_model: BisectingKMeansModel
    label_map: dict[int, int]  # cluster id -> class, 0 = low latency
    med: float  # clustering feature: log(max(1, (latency - med) / scale))
    scale: float
    scaler_model: StandardScalerModel
    regressor_model: GBTRegressionModel


class LatencyModel:
    def __init__(self):
        self.fitted: Fitted | None = None

    @property
    def previous_data(self) -> DataFrame | None:
        return self.fitted.data if self.fitted else None

    @property
    def regressor_model(self) -> GBTRegressionModel | None:
        return self.fitted.regressor_model if self.fitted else None

    # -- fit ---------------------------------------------------------------
    def fit(self, df: DataFrame, append: bool = False) -> None:
        """``df`` columns: scale_outs INT, throughput_rates DOUBLE,
        latencies DOUBLE. With ``append=True`` previous training data is
        concatenated first (latency/models.py:89-90, U1)."""
        prev = self.fitted
        if append and prev is not None:
            df = prev.data.unionByName(df)
        df = df.cache()
        n = df.count()
        # Profile tables are O(scale-outs x profiling rounds) rows (the
        # reference trains on ~60-row profiles), but arrive partitioned at
        # the session default — and GBT schedules its boosting jobs per
        # iteration over EVERY input partition, so dozens of iterations x
        # 32 near-empty partitions is pure scheduler overhead. Pack the
        # training rows into ceil(n/5000) partitions (size-derived, not a
        # local[32] constant: a genuinely large profile table keeps its
        # parallelism). Round-12: the pack is a bare narrow coalesce OVER
        # the cached parent — the previous unpersist + re-cache +
        # re-count + rdd.getNumPartitions probe re-materialized the frame
        # a second time and cost ~5 s of m4's ~12 s (phase profile in
        # OPTIMIZATION_r12.md); coalesce never increases partition count,
        # so the guard was redundant.
        target_parts = max(1, -(-n // 5000))
        df = df.coalesce(target_parts)

        # clustering features: RobustScaler(quantile_range=(0.0, 1.0)) on
        # latencies then log-clamp (latency/models.py:39-45 + :56-58).
        # sklearn quantile_range is in PERCENTILE units: scale = spread
        # between the 0th and 1st percentile, center = median — so the
        # feature is distance-above-median in units of the bottom-1% spread.
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
        assembler = VectorAssembler(inputCols=["_lat_feat"], outputCol="_cl_features")
        feat_v = assembler.transform(feat)
        bkm = BisectingKMeans(k=2, featuresCol="_cl_features", predictionCol="_cluster", seed=42)
        cluster_model = bkm.fit(feat_v)

        # relabel so cluster 0 = low latency (latency/models.py:60-84)
        labeled = cluster_model.transform(feat_v)
        stats = (
            labeled.groupBy("_cluster")
            .agg(F.min("latencies").alias("mn"), F.max("latencies").alias("mx"))
            .orderBy("mn")
            .collect()
        )
        label_map = {int(r["_cluster"]): i for i, r in enumerate(stats)}

        # regressor: standard-scale (scale_outs, throughput_rates) -> GBT
        reg_assembler = VectorAssembler(
            inputCols=["scale_outs", "throughput_rates"], outputCol="_raw_features"
        )
        scaler = StandardScaler(
            inputCol="_raw_features", outputCol="_features", withMean=True, withStd=True
        )
        reg_v = reg_assembler.transform(df)
        scaler_model = scaler.fit(reg_v)
        scaled = scaler_model.transform(reg_v)
        gbt = GBTRegressor(
            featuresCol="_features",
            labelCol="latencies",
            maxDepth=10,
            maxIter=min(ESTIMATOR_FACTOR * n, 200),
            seed=42,
        )
        regressor_model = gbt.fit(scaled)
        self.fitted = Fitted(
            df, cluster_model, label_map, qs["med"], scale, scaler_model, regressor_model
        )

    # -- predict -----------------------------------------------------------
    def predict(
        self,
        throughput_rate: float,
        scale_outs: Iterable[int],
        previously_valid: Iterable[int] | None = None,
    ) -> list[dict]:
        """Candidate evaluation (latency/models.py:116-148): one row per
        distinct scale-out, sorted, as dicts with ``scale_outs``,
        ``latency``, ``latency_class``, ``is_valid`` and ``is_best``.

        Validity = latency_class < 1, i.e. the candidate must fall in the
        low-latency cluster, AND membership in ``previously_valid`` when
        given (common/schemes.py:47-48); best = first valid by scale-out.
        Raises ``ValueError`` when ``scale_outs`` is empty."""
        f = self.fitted
        if f is None:
            raise RuntimeError("LatencyModel.predict called before fit")
        sos = sorted({int(s) for s in scale_outs})
        if not sos:
            raise ValueError("no scale-outs to evaluate: the candidate set is empty")
        prev = None if previously_valid is None else {int(s) for s in previously_valid}

        # StandardScalerModel: (x - mean) * (1 / std), the factor 0 where std is 0
        std = f.scaler_model.std.toArray()
        inv_std = np.divide(1.0, std, out=np.zeros_like(std), where=std != 0)
        raw = np.array([[so, float(throughput_rate)] for so in sos])
        x = (raw - f.scaler_model.mean.toArray()) * inv_std
        log = SparkContext._jvm.java.lang.StrictMath.log  # Spark's Log expression
        rows = []
        for so, features in zip(sos, x):
            latency = f.regressor_model.predict(Vectors.dense(features))
            feat = log(max(1.0, (latency - f.med) / f.scale))
            latency_class = f.label_map[f.cluster_model.predict(Vectors.dense([feat]))]
            rows.append({
                "scale_outs": so,
                "latency": latency,
                "latency_class": latency_class,
                "is_valid": latency_class < 1 and (prev is None or so in prev),
                "is_best": False,
            })
        for r in rows:
            if r["is_valid"]:
                r["is_best"] = True
                break
        return rows
