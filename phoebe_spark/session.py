"""SparkSession factory with scale-oriented defaults.

Tuned for the driver's local[32] harness but with settings that carry to a
real cluster: AQE on (runtime re-planning, skew-join handling, partition
coalescing), Arrow for any pandas exchange, UTC session time zone so epoch
arithmetic is stable, and shuffle partitions sized to the core count.

The session sets no checkpoint dir: the package freezes intermediate
results with ``localCheckpoint`` (executor block storage, nothing on
disk) and runs no iterative MLlib fit, so a reliable checkpoint dir would
only leave a temp dir behind per session. A caller that runs such a fit
(an MLlib GBT with ``checkpointInterval``) sets its own with
``spark.sparkContext.setCheckpointDir``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "phoebe-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    parts = str(shuffle_partitions or max(int(cpus), 8))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime partition coalescing + skew-join splitting. At 100 TB
        # these replace hand-tuned shuffle.partitions per query.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", parts)
        # Epoch-seconds arithmetic must not depend on the host TZ.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every pandas_udf / applyInPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Python workers start in the JVM's working directory; a handler that
        # references package code must import phoebe_spark from anywhere.
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        .config("spark.driver.memory", os.environ.get("PHOEBE_DRIVER_MEM", "8g"))
    )
    return builder.getOrCreate()
