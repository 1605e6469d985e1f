"""phoebe_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of dos-group/phoebe (arXiv 2206.09679).

The reference implements a QoS-aware auto-tuner whose data surface is a
dense-time-series algebra (merge/interpolate/resample/window aggregates),
a relational profile store, and four model families. This package
re-expresses that surface idiomatically on Spark DataFrames:

- ``phoebe_spark.timeseries`` — dense time-series kernel (densify,
  linear interpolation, merge-sum / merge-overwrite, slicing, strided
  resampling, rolling windows, slope/regression aggregates).
- ``phoebe_spark.operators`` — relational + LLM-data-pipeline operators
  (dedup, similarity, text, curation, sampling, graph, skyline, skew).
- ``phoebe_spark.sources`` — CSV/parquet/table IO mirroring the
  reference's scan/sink surface.
- ``phoebe_spark.models`` — the model families (workload forecast,
  latency, recovery-time, TWRES baseline), fitted on the driver; no JVM.
- ``phoebe_spark.streaming`` — Structured Streaming equivalents of the
  reference's monitored jobs (windowed keyed aggregation, watermarks).

Everything is DataFrame-first: operators are functions
``DataFrame -> DataFrame`` that Catalyst can optimize end-to-end.
"""

from phoebe_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
