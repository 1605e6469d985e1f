"""One harness for the registry's streaming drains.

A drain runs a Structured Streaming query to completion over staged input
(``trigger(availableNow=True)``) and reads back the final result, so the
streaming form of an operator can be held to the same oracle as its batch
form. Every drain in :mod:`phoebe_spark.queries` runs and cleans up through
these functions; the query logic, including any unusual staging or
``readStream``, stays with the caller:

- :func:`scratch` owns the work dir. ``return out.localCheckpoint(eager=True)``
  inside the ``with`` materializes the result JVM-side before the dir (and
  the sink the result reads) is removed.
- :func:`stage_slices` and :func:`stage_files` lay input out one file per
  micro-batch: with ``maxFilesPerTrigger=1`` the file source replays files
  in mtime order, so each gets an increasing fixed mtime.
- :func:`run` starts the query on a foreachBatch sink, waits at most
  :data:`DRAIN_TIMEOUT_S` and raises ``TimeoutError`` rather than let a
  partial result be read.
- :func:`latest` keeps each key's newest emitted state row.

State partitions: the state store fixes its partition count from
``spark.sql.shuffle.partitions`` when a query first runs (as Flink fixes
its key groups), and every micro-batch pays one state-store load and
commit per partition, plus one Python worker per partition for an
``applyInPandasWithState`` fold, whether or not the partition holds a
key. So :func:`run` drains with 1 partition and restores the previous
value afterwards; the count changes task bucketing, never results. Only
a Python fold over thousands of raw keys passes more: there the per-key
handler work outweighs the per-partition cost and spreads over cores
(q179, q229 and q246 pass 8). On the 25 registry drains at sf0.1 on 4
vCPUs, width 1 used less CPU on every drain and those three were slower
in wall time at 1 than at 8.

The override is set on the caller's session, not on ``spark.newSession()``:
``StreamingQueryManager`` is per session, so a stream started on a child
session would escape the caller's ``spark.streams`` (its listeners, and
anything that stops its active queries).
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import tempfile
from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DRAIN_TIMEOUT_S = 300


@contextlib.contextmanager
def scratch(prefix: str) -> Iterator[str]:
    """A fresh temp dir for one drain, removed on exit (also on error)."""
    work = tempfile.mkdtemp(prefix=prefix)
    try:
        yield work
    finally:
        shutil.rmtree(work, ignore_errors=True)


def stage_files(pattern: str, src_dir: str) -> None:
    """Move the files matching ``pattern``, in sorted path order, into
    ``src_dir`` as one micro-batch each (increasing fixed mtimes). For
    staging done in one write: a ``partitionBy`` directory per slice
    (single-digit slice values sort correctly) or one part file per
    range partition."""
    os.makedirs(src_dir, exist_ok=True)
    for i, part in enumerate(sorted(glob.glob(pattern)), start=1):
        dst = f"{src_dir}/{i:03d}.parquet"
        os.replace(part, dst)
        os.utime(dst, (1_000_000_000 + 10 * i, 1_000_000_000 + 10 * i))


def stage_slices(frames: Iterable[DataFrame], src_dir: str) -> None:
    """Write each frame as one parquet file into ``src_dir``, in order, so
    ``maxFilesPerTrigger=1`` replays one frame per micro-batch."""
    stage = f"{src_dir}.stage"
    for i, frame in enumerate(frames, start=1):
        frame.coalesce(1).write.parquet(f"{stage}/{i:03d}")
    stage_files(f"{stage}/*/part-*.parquet", src_dir)


def run(
    result: DataFrame,
    work: str,
    *,
    output_mode: str,
    sink: Callable[[DataFrame, int], None] | None = None,
    state_partitions: int = 1,
) -> str | None:
    """Drain the streaming frame ``result`` (availableNow, checkpoint under
    ``work``) and return once every staged file is processed.

    With no ``sink``, each micro-batch is written as parquet under ``work``
    (overwrite in ``complete`` mode, append otherwise) and that path is
    returned; a callable ``sink`` is the foreachBatch function itself.
    ``state_partitions`` is the shuffle width while the query runs."""
    path = None
    if sink is None:
        path = f"{work}/out"
        mode = "overwrite" if output_mode == "complete" else "append"

        def sink(bdf: DataFrame, _bid: int) -> None:
            bdf.write.mode(mode).parquet(path)

    spark = result.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            result.writeStream.outputMode(output_mode)
            .foreachBatch(sink)
            .option("checkpointLocation", f"{work}/ck")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            q.stop()
            raise TimeoutError(
                f"{os.path.basename(work)}: drain did not finish within "
                f"{DRAIN_TIMEOUT_S} s; refusing to read a partial result"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return path


def latest(states: DataFrame, key: str = "key", order: str = "n") -> DataFrame:
    """The newest row per ``key`` (largest ``order``) of a drained state
    history: update mode re-emits a key's full state on every change, so
    its last emission is its final state."""
    w = Window.partitionBy(key).orderBy(F.col(order).desc())
    return states.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")
