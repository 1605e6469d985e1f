"""One harness for the registry's streaming drains.

A drain runs a Structured Streaming query to completion over staged input
(``trigger(availableNow=True)``) and returns the final result as a frozen
DataFrame, so the streaming form of an operator can be held to the same
oracle as its batch form. Every drain in :mod:`phoebe_spark.queries` stages,
replays, runs and cleans up through these functions; the query modules hold
only the staging projection and the operator:

- :func:`scratch` owns the work dir and removes it on exit.
- :func:`stage` owns the micro-batch layout: one write job, then one file
  per value of an integer slice column, in ascending numeric order with
  increasing fixed mtimes. :func:`stage_slices` stages a list of frames
  the same way, an empty frame as a schema-only micro-batch, and refuses
  slices whose schemas differ: every file is replayed with one schema.
- :func:`replay` is the one way to read staged input back as a stream:
  one file per micro-batch, in mtime order, with the schema Spark wrote
  into the first staged file's parquet footer (its exact types: a
  ``decimal(18,4)`` or an ``int`` comes back as itself, never as a
  hand-written approximation).
- :func:`run` drains the query on a foreachBatch sink, waits at most
  :data:`DRAIN_TIMEOUT_S` and raises ``TimeoutError`` rather than return a
  partial result. With no ``sink`` it freezes each micro-batch in memory
  (``localCheckpoint``) and returns the result: the last batch in
  ``complete`` mode, the union of every batch in ``append`` and
  ``update`` mode. The frozen frame reads no file, so it outlives the
  ``scratch`` dir and needs no freezing of its own.
- :func:`latest` keeps each key's newest emitted state row.

State partitions: the state store fixes its partition count from
``spark.sql.shuffle.partitions`` when a query first runs (as Flink fixes
its key groups), and every micro-batch pays one state-store load and
commit per partition, plus one Python worker per partition for an
``applyInPandasWithState`` fold, whether or not the partition holds a
key. So :func:`run` starts the stream with 1 partition; the count
changes task bucketing, never results. Only a Python fold over thousands
of raw keys passes more: there the per-key handler work outweighs the
per-partition cost and spreads over cores (q179, q229 and q246 pass 8).
On the 25 registry drains at sf0.1 on 4 vCPUs, width 1 used less CPU on
every drain and those three were slower in wall time at 1 than at 8.

The override is set on the caller's session, not on ``spark.newSession()``:
``StreamingQueryManager`` is per session, so a stream started on a child
session would escape the caller's ``spark.streams`` (its listeners, and
anything that stops its active queries). ``start()`` clones the session
the batches run on, so the caller's value is restored as soon as it
returns, and the result is rebound to the caller's session: other work
there never plans with the drain's width.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import shutil
import tempfile
from collections.abc import Callable, Iterable, Iterator

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

DRAIN_TIMEOUT_S = 300
# the footer key under which Spark's parquet writer stores the row schema
SPARK_ROW_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


@contextlib.contextmanager
def scratch(prefix: str) -> Iterator[str]:
    """A fresh temp dir for one drain, removed on exit (also on error)."""
    work = tempfile.mkdtemp(prefix=prefix)
    try:
        yield work
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _write(frame: DataFrame, slice_col: str, stage_dir: str) -> dict[int, str]:
    """Write ``frame`` in one job; return each ``slice_col`` value's file."""
    frame.coalesce(1).write.partitionBy(slice_col).parquet(stage_dir)
    files = {}
    for part_dir in glob.glob(f"{stage_dir}/{slice_col}=*"):
        (files[int(part_dir.rsplit("=", 1)[1])],) = glob.glob(f"{part_dir}/part-*.parquet")
    return files


def _move(files: Iterable[str], src_dir: str) -> None:
    """Move ``files`` into ``src_dir`` as one micro-batch each, in order,
    and remove the staging dir they came from."""
    os.makedirs(src_dir, exist_ok=True)
    for i, part in enumerate(files, start=1):
        dst = f"{src_dir}/{i:03d}.parquet"
        os.replace(part, dst)
        os.utime(dst, (1_000_000_000 + 10 * i, 1_000_000_000 + 10 * i))
    shutil.rmtree(f"{src_dir}.stage")


def stage(frame: DataFrame, slice_col: str, src_dir: str) -> None:
    """Stage ``frame`` into ``src_dir`` in one write, one micro-batch per
    value of the integer ``slice_col`` in ascending order, without that
    column and with each slice's rows in ``frame``'s order. A value with no
    rows is no micro-batch."""
    files = _write(frame, slice_col, f"{src_dir}.stage")
    _move((files[v] for v in sorted(files)), src_dir)


def stage_slices(frames: Iterable[DataFrame], src_dir: str) -> None:
    """Stage each frame as one micro-batch into ``src_dir``, in order, in
    one write. Raises ``ValueError`` for no slices, or naming the first
    slice whose schema differs from the first slice's."""
    frames = list(frames)
    if not frames:
        raise ValueError("no slices to stage")
    first = frames[0].schema.simpleString()
    for i, frame in enumerate(frames[1:], start=2):
        if (shape := frame.schema.simpleString()) != first:
            raise ValueError(f"slice {i} is {shape}, but slice 1 is {first}")
    tagged = (frame.withColumn("_slice", F.lit(i)) for i, frame in enumerate(frames, start=1))
    files = _write(functools.reduce(DataFrame.union, tagged), "_slice", f"{src_dir}.stage")
    order = range(1, len(frames) + 1)
    if len(files) < len(frames):
        # partitionBy writes no file for an empty slice; a write of no rows
        # leaves one schema-only file, copied for each empty slice
        frames[0].limit(0).write.parquet(empty_dir := f"{src_dir}.stage/empty")
        (empty,) = glob.glob(f"{empty_dir}/part-*.parquet")
        files |= {i: shutil.copy(empty, f"{empty_dir}/{i}") for i in order if i not in files}
    _move((files[i] for i in order), src_dir)


def replay(spark: SparkSession, src_dir: str) -> DataFrame:
    """The files staged in ``src_dir`` as a stream of one file per
    micro-batch, typed by the schema in the first file's footer."""
    files = sorted(glob.glob(f"{src_dir}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no staged parquet files in {src_dir}")
    footer = pq.read_metadata(files[0]).metadata[SPARK_ROW_SCHEMA_KEY]
    schema = StructType.fromJson(json.loads(footer))
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_dir)


def _unpersist(frozen: DataFrame) -> None:
    """Drop the blocks of a ``localCheckpoint``-ed frame."""
    frozen._jdf.logicalPlan().rdd().unpersist(False)


def run(
    result: DataFrame,
    work: str,
    *,
    output_mode: str,
    sink: Callable[[DataFrame, int], None] | None = None,
    state_partitions: int = 1,
) -> DataFrame | None:
    """Drain the streaming frame ``result`` (availableNow, checkpoint under
    ``work``) and return once every staged file is processed.

    With no ``sink``, each micro-batch is frozen in memory and the drained
    result is returned on the caller's session: the last batch in
    ``complete`` mode (each batch replaces the one before), the union of
    every batch otherwise. A callable ``sink`` is the foreachBatch
    function itself, and ``None`` is returned. ``state_partitions`` is the
    shuffle width the stream's own session runs with."""
    spark = result.sparkSession
    batches: list[DataFrame] | None = None
    if sink is None:
        batches = []

        def sink(bdf: DataFrame, _bid: int) -> None:
            if output_mode == "complete" and batches:
                _unpersist(batches.pop())
            batches.append(bdf.localCheckpoint(eager=True))

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
    finally:
        # start() has cloned the session the batches run on
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    try:
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            q.stop()
            raise TimeoutError(
                f"{os.path.basename(work)}: drain did not finish within "
                f"{DRAIN_TIMEOUT_S} s; refusing to read a partial result"
            )
    except BaseException:
        for frozen in batches or ():
            _unpersist(frozen)
        raise
    if batches is None:
        return None
    drained = functools.reduce(DataFrame.union, batches)
    # the batches belong to the stream's session clone; rebind the plan
    jds = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, drained._jdf.logicalPlan()
    )
    return DataFrame(jds, spark)


def latest(states: DataFrame, key: str = "key", order: str = "n") -> DataFrame:
    """The newest row per ``key`` (largest ``order``) of a drained state
    history: update mode re-emits a key's full state on every change, so
    its last emission is its final state."""
    w = Window.partitionBy(key).orderBy(F.col(order).desc())
    return states.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")
