"""The streaming dedup gate (``stateful.streaming_dedup_gate``, append
output), e2e: the first occurrence of a fingerprint wins within and across
micro-batches, and the seen fingerprints survive a checkpointed
stop-and-restart."""

from __future__ import annotations

import time

from phoebe_spark.streaming import drain
from phoebe_spark.streaming.stateful import streaming_dedup_gate

DEDUP_BATCHES_SCHEMA = "fp STRING, doc_id STRING, event_time STRING"


def test_streaming_dedup_gate_first_occurrence_wins(spark):
    t0 = "2026-01-01 00:00:0{}"
    batches = [
        [("A", "doc1", t0.format(1)), ("B", "doc2", t0.format(2)),
         ("A", "doc1b", t0.format(3))],  # within-batch dup of A
        [("A", "doc3", t0.format(4)), ("C", "doc4", t0.format(5))],
        [("B", "doc5", t0.format(6)), ("C", "doc6", t0.format(7)),
         ("D", "doc7", t0.format(8))],
    ]
    with drain.scratch("t_dedup_gate_") as work:
        src = f"{work}/src"
        drain.stage_slices(
            [spark.createDataFrame(rows, DEDUP_BATCHES_SCHEMA) for rows in batches], src
        )
        out = drain.run(
            streaming_dedup_gate(drain.replay(spark, src)), work, output_mode="append"
        )
        rows = out.collect()

    # exactly one survivor per fingerprint, and it is the earliest occurrence
    assert len(rows) == 4
    assert {r["fp"]: r["doc_id"] for r in rows} == {
        "A": "doc1", "B": "doc2", "C": "doc4", "D": "doc7"
    }


def test_streaming_dedup_gate_checkpoint_restart(spark, tmp_path):
    """The seen-fingerprint state must survive a checkpointed
    stop-and-restart: a fingerprint passed before the stop must NOT be
    re-emitted when a copy arrives after the restart (the exactly-once
    survivor contract an ingest gate exists for)."""
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    out_dir = str(tmp_path / "out")
    schema = DEDUP_BATCHES_SCHEMA
    batches = [
        [("A", "doc1", "2026-01-01 00:00:01"), ("B", "doc2", "2026-01-01 00:00:02")],
        [("A", "doc3", "2026-01-01 00:00:03"), ("C", "doc4", "2026-01-01 00:00:04")],
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        out = streaming_dedup_gate(stream)
        # memory sink cannot recover from a checkpoint; foreachBatch can
        q = (
            out.writeStream.outputMode("append")
            .foreachBatch(lambda bdf, _bid: bdf.write.mode("append").parquet(out_dir))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        time.sleep(0.2)

    survivors = {r["fp"]: r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert survivors == {"A": "doc1", "B": "doc2", "C": "doc4"}
    # exactly once: no fp appears twice across the whole output
    assert spark.read.parquet(out_dir).count() == 3
