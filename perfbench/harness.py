"""Session set-up for the benchmark runner.

The engine's session keeps its own settings (heap size included); only
paths, the UI, the event log and the JIT compiler threads' lifetime are set
here. Everything the benchmark writes (Spark local dirs, checkpoints, drain
staging dirs, the event log, generated inputs) stays under one work
directory inside the checkout: ``TMPDIR``, ``java.io.tmpdir`` and
``spark.local.dir`` all point there before the JVM starts.
"""

from __future__ import annotations

import gc
import os
import shlex
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def configure(work_dir: str, event_log_dir: str | None = None) -> None:
    """Point every temp path at ``work_dir`` and pass launch confs to the JVM.

    Must run before the first SparkSession is created.
    """
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    confs = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = event_log_dir
        confs["spark.eventLog.compress"] = "false"
    # -XX:-UsePerfData: no hsperfdata file under the host's /tmp.
    # -XX:-UseDynamicNumberOfCompilerThreads: the JIT compiler threads live
    # for the whole run, so procstat can leave their CPU time out.
    args = [
        f"--driver-java-options=-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        " -XX:-UseDynamicNumberOfCompilerThreads"
    ]
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


def boot():
    """Start the engine's session; returns ``(spark, seconds)``."""
    from phoebe_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("phoebe-perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def shutdown(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def release_session_state(spark) -> None:
    """``bench.py``'s release between entries: unpersist every persistent
    RDD, clear the cache and run both garbage collectors."""
    jsc = spark.sparkContext._jsc.sc()
    it = jsc.getPersistentRDDs().iterator()
    while it.hasNext():
        it.next()._2().unpersist(False)
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.sc().getPersistentRDDs().size())
