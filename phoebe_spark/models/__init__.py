"""The four model families of the reference engine (SURVEY §2.8).

- workload  — M1-M3: ensemble workload forecaster (per-model strided AR
              histories sliced on the driver; ensemble combine per the
              reference's EWM/interpolate/rolling pipeline)
- latency   — M4-M5: two-cluster latency classifier + boosted-tree latency
              regressor, fitted and scored on the driver bit-identically
              to MLlib, candidate-grid evaluation
- capacity  — M6: ridge capacity model (closed-form, LOO-CV)
- recovery  — M7: Simpson catch-up recovery-time estimator
- twres     — M8: TWRES baseline (NNLS MST curve + decision rules)

Every family fits and predicts on the driver: the inputs are one series
of a few thousand points or a profile table of a few dozen rows.

Library note: the container has no scipy/sklearn/pmdarima, so scipy kernels
are re-implemented in numpy (phoebe_spark.functions.numeric) and sklearn
estimators map to MLlib's algorithms (Birch -> BisectingKMeans,
GradientBoostingRegressor -> GBTRegressor, both re-implemented on the driver
in MLlib's floating-point operation order; RidgeCV -> closed-form ridge). auto_arima maps to a strided
AR(p) model with the same update/predict contract; statistical acceptance is
threshold-based (MAPE), as in SURVEY §5.
"""
