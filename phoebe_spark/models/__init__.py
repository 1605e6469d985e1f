"""The four model families of the reference engine (SURVEY §2.8), Spark-first.

- workload  — M1-M3: ensemble workload forecaster (fit fan-out on Spark,
              per-model strided AR; ensemble combine per the reference's
              EWM/interpolate/rolling pipeline)
- latency   — M4-M5: two-cluster latency classifier + boosted-tree latency
              regressor, fitted and scored on the driver bit-identically
              to MLlib, candidate-grid evaluation
- capacity  — M6: ridge capacity model (closed-form, LOO-CV)
- recovery  — M7: Simpson catch-up recovery-time estimator
- twres     — M8: TWRES baseline (NNLS MST curve + decision rules)
- registry  — model artifact store keyed {env}_{job}_{kind}

Library note: the container has no scipy/sklearn/pmdarima, so scipy kernels
are re-implemented in numpy (phoebe_spark.functions.numeric) and sklearn
estimators map to MLlib's algorithms (Birch -> BisectingKMeans,
GradientBoostingRegressor -> GBTRegressor, both re-implemented on the driver
in MLlib's floating-point operation order; RidgeCV -> closed-form ridge). auto_arima maps to a strided
AR(p) model with the same update/predict contract; statistical acceptance is
threshold-based (MAPE), as in SURVEY §5.
"""

from phoebe_spark.models.registry import ModelRegistry

__all__ = ["ModelRegistry"]
