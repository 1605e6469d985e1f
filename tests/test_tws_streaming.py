"""Streaming dedup gate and idle-session finalizer (applyInPandasWithState), e2e.

The e2e tests drive a multi-batch file stream (maxFilesPerTrigger=1,
files written with mtime spacing so replay order is deterministic).
"""

from __future__ import annotations

import time

from phoebe_spark.streaming.jobs import run_to_sink
from phoebe_spark.streaming.stateful import idle_session_finalizer, streaming_dedup_gate


def _write_batches(spark, src: str, batches):
    """Write each batch as one parquet file, spaced so file mtime order ==
    batch order (the file source replays in mtime order)."""
    for rows, schema in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)



def _wait_for(spark, q, sql, pred, timeout_s=120):
    """Poll the memory sink until `pred(rows)` holds, then stop the query.
    With ProcessingTimeTimeout state, the engine keeps triggering
    micro-batches to fire timers, so an availableNow run never
    self-terminates — condition-polling is the deterministic wait."""
    import time as _t

    deadline = _t.time() + timeout_s
    while _t.time() < deadline:
        rows = spark.sql(sql).collect()
        if pred(rows):
            q.stop()
            return rows
        _t.sleep(0.5)
    q.stop()
    raise AssertionError(f"condition not reached within {timeout_s}s: {sql}")

DEDUP_BATCHES_SCHEMA = "fp STRING, doc_id STRING, event_time STRING"


def _dedup_batches():
    t0 = "2026-01-01 00:00:0{}"
    return [
        ([("A", "doc1", t0.format(1)), ("B", "doc2", t0.format(2)),
          ("A", "doc1b", t0.format(3))], DEDUP_BATCHES_SCHEMA),  # within-batch dup of A
        ([("A", "doc3", t0.format(4)), ("C", "doc4", t0.format(5))], DEDUP_BATCHES_SCHEMA),
        ([("B", "doc5", t0.format(6)), ("C", "doc6", t0.format(7)),
          ("D", "doc7", t0.format(8))], DEDUP_BATCHES_SCHEMA),
    ]


def test_streaming_dedup_gate_first_occurrence_wins(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batches(spark, src, _dedup_batches())
    stream = (
        spark.readStream.schema(DEDUP_BATCHES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_dedup_gate(stream, ttl_ms=3_600_000)
    q = run_to_sink(out, str(tmp_path / "ck"), output_mode="append", queryName="dedup_q")
    rows = _wait_for(spark, q, "SELECT * FROM dedup_q", lambda rs: len(rs) >= 4)

    got = {r["fp"]: r["doc_id"] for r in rows}
    # exactly one survivor per fingerprint, and it is the earliest occurrence
    assert got == {"A": "doc1", "B": "doc2", "C": "doc4", "D": "doc7"}


def test_streaming_dedup_gate_ttl_readmits(spark, tmp_path):
    """After ttl_ms of processing-time silence the fingerprint is
    forgotten and the next copy passes again (sliding-recency dedup)."""
    src = str(tmp_path / "src")
    schema = DEDUP_BATCHES_SCHEMA
    _write_batches(
        spark,
        src,
        [
            ([("A", "doc1", "2026-01-01 00:00:01")], schema),
            ([("_pad1", "p1", "2026-01-01 00:00:02")], schema),  # ticks batches while A idles
            ([("_pad2", "p2", "2026-01-01 00:00:03")], schema),
            ([("A", "doc9", "2026-01-01 00:00:04")], schema),    # past TTL: re-admitted
        ],
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = streaming_dedup_gate(stream, ttl_ms=100)
    q = run_to_sink(out, str(tmp_path / "ck"), output_mode="append", queryName="dedup_ttl_q")
    rows = _wait_for(
        spark, q,
        "SELECT * FROM dedup_ttl_q WHERE fp = 'A' ORDER BY first_seen_ms",
        lambda rs: len(rs) >= 2,
    )
    got = [r["doc_id"] for r in rows]
    assert got == ["doc1", "doc9"]


def test_idle_session_finalizer_closes_on_silence(spark, tmp_path):
    src = str(tmp_path / "src")
    schema = "key STRING, value DOUBLE"
    _write_batches(
        spark,
        src,
        [
            ([("k1", 1.0), ("k1", 2.0), ("k2", 10.0)], schema),
            ([("k2", 20.0), ("k2", 30.0)], schema),      # extends k2, k1 idle
            ([("_nudge", 0.0)], schema),                  # drives expiry batches
            ([("_nudge2", 0.0)], schema),
        ],
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = idle_session_finalizer(stream, gap_ms=100)
    q = run_to_sink(out, str(tmp_path / "ck"), output_mode="append", queryName="sess_q")
    all_rows = _wait_for(
        spark, q, "SELECT * FROM sess_q",
        lambda rs: sum(r["n_events"] for r in rs if r["key"] == "k1") >= 2
        and sum(r["n_events"] for r in rs if r["key"] == "k2") >= 3,
    )
    rows = [r for r in all_rows if not r["key"].startswith("_nudge")]
    by_key: dict[str, tuple[int, float]] = {}
    for r in rows:
        n, tot = by_key.get(r["key"], (0, 0.0))
        by_key[r["key"]] = (n + r["n_events"], tot + r["total_value"])
        assert r["closed"]
    # every real key's sessions eventually close and cover all its events
    # exactly once (a key may close in one merged session or several,
    # depending on micro-batch timing vs the idle gap — totals must agree)
    assert by_key["k1"] == (2, 3.0)
    assert by_key["k2"] == (3, 60.0)


def test_streaming_dedup_gate_checkpoint_restart(spark, tmp_path):
    """The seen-fingerprint state must survive a checkpointed
    stop-and-restart: a fingerprint passed before the stop must NOT be
    re-emitted when a copy arrives after the restart (the exactly-once
    survivor contract an ingest gate exists for). ttl_ms=None so the
    availableNow runs self-terminate (no armed timeouts)."""
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
        out = streaming_dedup_gate(stream, ttl_ms=None)
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
