"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference's control loop keeps per-job running state (cached workload,
last-learned timestamp, EWMA-smoothed rates) across evaluation intervals.
In Structured Streaming that state lives in the state store, keyed by
group, surviving micro-batches and checkpoint restarts — the pattern the
brief names for "custom stateful operators".

``keyed_ewma`` maintains a per-key exponentially-weighted moving average of
the value column (the streaming analogue of the reference's smoothed
workload rate): each micro-batch folds its rows (in event-time order) into
the carried EWMA and emits one row per key per batch with the updated
state. State size is O(keys), bounded and checkpointed.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EWMA_OUTPUT_SCHEMA = "key STRING, ewma DOUBLE, n_obs LONG, last_ts TIMESTAMP"
EWMA_STATE_SCHEMA = "ewma DOUBLE, n_obs LONG"


def keyed_ewma(
    stream: DataFrame,
    alpha: float = 0.3,
    key_col: str = "key",
    ts_col: str = "event_time",
    value_col: str = "value",
) -> DataFrame:
    """Per-key streaming EWMA with explicit state.

    adjust=False recursion (matching the reference's pandas ``ewm``):
    ``ewma_t = alpha * x_t + (1 - alpha) * ewma_{t-1}``, folded across
    batches through the state store."""

    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ewma, n = state.get
        else:
            ewma, n = None, 0
        last_ts = None
        # pdfs is an ITERATOR of Arrow chunks (a >maxRecordsPerBatch group
        # arrives split): the EWMA recursion is order-sensitive, so sort
        # the whole batch once — a per-chunk sort would fold values in
        # chunk order, not event-time order (same fix as keyed_cusum).
        frames = list(pdfs) if pdfs is not None else []
        batch = pd.concat(frames) if frames else pd.DataFrame()
        if len(batch):
            batch = batch.sort_values(ts_col)
            for v, ts in zip(batch[value_col], batch[ts_col]):
                ewma = float(v) if ewma is None else alpha * float(v) + (1 - alpha) * ewma
                n += 1
                last_ts = ts
        state.update((ewma, n))
        yield pd.DataFrame(
            {"key": [str(key[0])], "ewma": [ewma], "n_obs": [n], "last_ts": [last_ts]}
        )

    return (
        # key normalized to string so any upstream key type (long campaign
        # ids, string event types) flows through one output schema
        stream.select(F.col(key_col).cast("string").alias(key_col), ts_col, value_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            _update,
            outputStructType=EWMA_OUTPUT_SCHEMA,
            stateStructType=EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


CUSUM_OUTPUT_SCHEMA = "key STRING, stat DOUBLE, alarm BOOLEAN, n_obs LONG"
CUSUM_STATE_SCHEMA = "stat DOUBLE, n_obs LONG"


def keyed_cusum(
    stream: DataFrame,
    k: float,
    h: float,
    key_col: str = "key",
    ts_col: str = "event_time",
    value_col: str = "value",
) -> DataFrame:
    """Per-key STREAMING CUSUM drift detector — the live form of
    :func:`phoebe_spark.timeseries.anomaly.cusum`. Each micro-batch folds
    its rows (event-time order) through ``s = max(0, s + x - k)`` carried
    in the state store, and emits one row per key per batch with the
    updated statistic and whether it crosses the ``h`` alarm line — the
    continuous regime-change monitor the reference's control loop polls
    between evaluation intervals.

    State is two scalars per key (O(keys), checkpointed, rescale-safe);
    the batch CUSUM runs the same recursion as a prefix-sum window plan,
    so alert thresholds tuned offline transfer unchanged."""

    def _update(key, pdfs, state: GroupState):
        if state.exists:
            s, n = state.get
        else:
            s, n = 0.0, 0
        # pdfs is an ITERATOR of Arrow chunks of one key's micro-batch
        # (a >maxRecordsPerBatch group arrives split): the CUSUM recursion
        # is order-sensitive, so sort the whole batch once — a per-chunk
        # sort would fold values in chunk order, not event-time order.
        frames = list(pdfs) if pdfs is not None else []
        batch = pd.concat(frames) if frames else pd.DataFrame()
        if len(batch):
            batch = batch.sort_values(ts_col)
            for v in batch[value_col]:
                s = max(0.0, s + float(v) - k)
                n += 1
        state.update((s, n))
        yield pd.DataFrame(
            {"key": [str(key[0])], "stat": [s], "alarm": [s > h], "n_obs": [n]}
        )

    return (
        stream.select(F.col(key_col).cast("string").alias(key_col), ts_col, value_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            _update,
            outputStructType=CUSUM_OUTPUT_SCHEMA,
            stateStructType=CUSUM_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


HH_OUTPUT_SCHEMA = "key STRING, item STRING, count_lb LONG, n_total LONG"
HH_STATE_SCHEMA = "items ARRAY<STRING>, counts ARRAY<LONG>, n_total LONG"


def mg_update(counters: dict, n_total: int, items, k: int) -> tuple[dict, int]:
    """One Misra-Gries fold over ``items`` (pure function, extracted so
    the summary algebra is unit/property-testable without a streaming
    engine). Invariants (Misra & Gries 1982): at most ``k`` counters;
    every counter is a lower bound on the item's true count; the
    undercount is at most ``n_total / (k + 1)`` (each decrement event
    retires k+1 occurrences), so any item with true frequency above that
    is guaranteed tracked."""
    for x in items:
        x = str(x)
        n_total += 1
        if x in counters:
            counters[x] += 1
        elif len(counters) < k:
            counters[x] = 1
        else:
            # decrement-all: the O(1)-amortized dict form
            counters = {i: c - 1 for i, c in counters.items() if c > 1}
    return counters, n_total


def keyed_heavy_hitters(
    stream: DataFrame,
    k: int = 16,
    key_col: str = "key",
    item_col: str = "item",
) -> DataFrame:
    """Per-key STREAMING heavy hitters via Misra-Gries summaries (Misra &
    Gries 1982, "Finding repeated elements" — public): each key carries at
    most ``k`` (item, counter) pairs in the state store; every item whose
    true frequency exceeds ``n_total / k`` is guaranteed tracked, and each
    reported counter is a lower bound within ``n_total / k`` of the true
    count. The streaming analogue of the batch top-k census (q79/q110)
    when the item domain is unbounded and a full groupBy state would grow
    without limit — O(k) state per key, checkpointed, rescale-safe.

    Emits the current summary (one row per tracked item) each micro-batch
    in update mode; downstream can filter ``count_lb >= n_total * phi``
    for a support threshold phi > 1/k.
    """

    def _update(key, pdfs, state: GroupState):
        if state.exists:
            items, counts, n_total = state.get
            counters = dict(zip(list(items), list(counts)))
        else:
            counters, n_total = {}, 0
        for pdf in pdfs:
            counters, n_total = mg_update(counters, n_total, pdf[item_col], k)
        items = sorted(counters)
        state.update((items, [int(counters[i]) for i in items], int(n_total)))
        out = sorted(counters.items(), key=lambda ic: (-ic[1], ic[0]))
        yield pd.DataFrame(
            {
                "key": [str(key[0])] * len(out),
                "item": [i for i, _ in out],
                "count_lb": [c for _, c in out],
                "n_total": [n_total] * len(out),
            }
        )

    return (
        stream.select(
            F.col(key_col).cast("string").alias(key_col),
            F.col(item_col).cast("string").alias(item_col),
        )
        .groupBy(key_col)
        .applyInPandasWithState(
            _update,
            outputStructType=HH_OUTPUT_SCHEMA,
            stateStructType=HH_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


DEDUP_GATE_OUTPUT_SCHEMA = "fp STRING, doc_id STRING, first_seen_ms LONG"
DEDUP_GATE_STATE_SCHEMA = "doc_id STRING, first_seen_ms LONG"


def streaming_dedup_gate(
    stream: DataFrame,
    fp_col: str = "fp",
    id_col: str = "doc_id",
    ts_col: str = "event_time",
    ttl_ms: int | None = None,
) -> DataFrame:
    """STREAMING exact-dedup gate over a fingerprint column — the live
    form of the batch fingerprint dedup (q08) and the incremental-merge
    dedup (q102): the first document carrying each fingerprint survives,
    every later copy (same micro-batch or any later one) is dropped at
    ingest. Append output: downstream sees ONLY survivors, so the gate
    composes with any batch sink.

    ``ttl_ms`` bounds state by age — ``ttl_ms`` of processing time after
    the fingerprint's FIRST occurrence it is forgotten and the next copy
    passes again (first-seen TTL: later duplicates do NOT extend the
    window, so "dedup within N days of first occurrence", not
    last-seen). An unbounded fingerprint domain cannot keep state
    forever; first-seen keeps the hot path write-free for duplicates.
    State is one (doc_id, ts) pair per live fingerprint, checkpointed and rescale-safe; within a micro-batch ties
    break on (event time, doc_id), deterministically.

    Trigger note: with ``ttl_ms`` set, armed processing-time timeouts keep
    the engine triggering (possibly empty) micro-batches to fire them, so
    an ``availableNow`` run will NOT self-terminate — use a continuous
    trigger in production, and stop on a sink condition in drain-style
    jobs. With ``ttl_ms=None`` the query drains and stops normally."""
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout if ttl_ms else GroupStateTimeout.NoTimeout
    )

    def _update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            # TTL expired: forget the fingerprint; the next copy re-enters
            state.remove()
            return
        frames = list(pdfs)
        batch = pd.concat(frames) if frames else pd.DataFrame()
        if state.exists or not len(batch):
            return  # already gated (TTL, if any, keeps running from first-seen)
        first = batch.sort_values(["ts_ms", "doc_id"]).iloc[0]
        state.update((str(first["doc_id"]), int(first["ts_ms"])))
        if ttl_ms:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(
            {
                "fp": [str(key[0])],
                "doc_id": [str(first["doc_id"])],
                "first_seen_ms": [int(first["ts_ms"])],
            }
        )

    rows = stream.select(
        F.col(fp_col).cast("string").alias("fp"),
        F.col(id_col).cast("string").alias("doc_id"),
        F.expr(f"unix_millis(cast({ts_col} AS TIMESTAMP))").alias("ts_ms"),
    )
    return rows.groupBy("fp").applyInPandasWithState(
        _update,
        outputStructType=DEDUP_GATE_OUTPUT_SCHEMA,
        stateStructType=DEDUP_GATE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


SESSION_FINAL_OUTPUT_SCHEMA = "key STRING, n_events LONG, total_value DOUBLE, closed BOOLEAN"
SESSION_FINAL_STATE_SCHEMA = "n LONG, total DOUBLE"


def idle_session_finalizer(
    stream: DataFrame,
    gap_ms: int,
    key_col: str = "key",
    value_col: str = "value",
) -> DataFrame:
    """Per-key session aggregate emitted ONLY once the key has been idle
    for ``gap_ms`` of processing time — the timeout-driven counterpart of
    watermark-closed event-time sessionization (q46): use this form when
    the trigger is feed SILENCE (a source going quiet, a crawler
    finishing a host) rather than event-time gaps inside the data.
    Every batch that touches a key re-arms its timeout; the timeout
    firing emits the session row exactly once (append mode) and clears
    state. State is two scalars per ACTIVE key only.

    Trigger note: timeout firing needs the engine to keep triggering
    micro-batches, so an ``availableNow`` run will NOT self-terminate
    while keys are active — use a continuous trigger in production, and
    stop on a sink condition in drain-style jobs."""

    def _update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "key": [str(key[0])],
                    "n_events": [int(n)],
                    "total_value": [float(total)],
                    "closed": [True],
                }
            )
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((int(n), float(total)))
        state.setTimeoutDuration(gap_ms)

    rows = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).cast("double").alias(value_col),
    )
    return rows.groupBy("key").applyInPandasWithState(
        _update,
        outputStructType=SESSION_FINAL_OUTPUT_SCHEMA,
        stateStructType=SESSION_FINAL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


QUOTA_GATE_OUTPUT_SCHEMA = "key STRING, seq_id STRING, ord LONG, value DOUBLE"
QUOTA_GATE_STATE_SCHEMA = "admitted LONG"
QUOTA_GATE_SHARD_STATE_SCHEMA = "ks ARRAY<STRING>, us ARRAY<LONG>"


def keyed_quota_gate(
    stream: DataFrame,
    quota: int,
    key_col: str = "key",
    id_col: str = "id",
    ord_col: str = "ord_ms",
    value_col: str = "value",
    shards: int | None = None,
) -> DataFrame:
    """Per-key admission QUOTA at ingest: the first ``quota`` rows of each
    key (in arrival order; within a micro-batch ties break on
    ``(ord_col, id_col)``) pass, everything after is dropped — the
    per-source document cap a training-data intake enforces so one feed
    cannot flood the mix, and the per-tenant rate cap of a shared
    ingest endpoint. Append output: downstream sees only admitted rows.

    State is ONE counter per key, monotone up to ``quota`` — bounded by
    the key domain regardless of stream length, checkpoint-safe, and
    write-free once a key is saturated (the state stops changing, so
    RocksDB sees no more puts for that key).

    Determinism contract for drain-style certification: if the source
    replays files in a fixed order (sequenced mtimes + one file per
    trigger) and each file holds a disjoint ascending ``ord_col`` range,
    the admitted set equals the batch answer
    ``row_number() OVER (PARTITION BY key ORDER BY ord, id) <= quota``.

    ``shards`` (round-12, guide §4 — cut the per-key Python/state-store
    protocol round-trips when the key domain is SMALL): with ``shards=n``
    the operator groups by ``pmod(xxhash64(key), n)`` and one handler
    invocation folds every key of its shard (a dict of counters carried
    as two parallel state arrays), so a micro-batch performs n state
    get/put protocol exchanges instead of one per distinct key. The
    admitted set is IDENTICAL: the quota fold is key-decomposable and the
    handler applies exactly the per-key rule (sort by (ord, id) within
    key, admit into the key's remaining room), independently of which
    shard a key lands in — measured ~35% off q188's drain at 1500 keys.
    Trade-off, and why per-key stays the default: a shard's state row is
    O(keys/shard) and is rewritten on every batch that touches the shard,
    losing the per-key form's write-free-once-saturated property — size
    ``shards`` so keys/shard stays bounded (hundreds), i.e. the knob
    scales OUT with the key domain, and keep ``shards=None`` (per-key
    RocksDB state) for unbounded key domains.
    """
    if shards is not None:

        def _update_shard(_gkey, pdfs, state: GroupState):
            frames = list(pdfs)
            batch = pd.concat(frames) if frames else pd.DataFrame()
            if not len(batch):
                return
            if state.exists:
                ks, us = state.get
                used = dict(zip(list(ks or []), list(us or [])))
            else:
                used = {}
            batch = batch.sort_values(["ord", "seq_id"])
            outs = []
            for k, grp in batch.groupby("key", sort=False):
                room = quota - used.get(k, 0)
                if room <= 0:
                    continue
                take = grp.head(room)
                used[k] = used.get(k, 0) + len(take)
                outs.append(take)
            state.update(
                (list(used.keys()), [int(v) for v in used.values()])
            )
            if outs:
                o = pd.concat(outs)
                yield pd.DataFrame(
                    {
                        "key": o["key"].astype(str).tolist(),
                        "seq_id": o["seq_id"].astype(str).tolist(),
                        "ord": o["ord"].astype("int64").tolist(),
                        "value": o["value"].astype(float).tolist(),
                    }
                )

        rows = stream.select(
            F.col(key_col).cast("string").alias("key"),
            F.col(id_col).cast("string").alias("seq_id"),
            F.col(ord_col).cast("long").alias("ord"),
            F.col(value_col).cast("double").alias("value"),
            F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(shards)).alias(
                "_shard"
            ),
        )
        return rows.groupBy("_shard").applyInPandasWithState(
            _update_shard,
            outputStructType=QUOTA_GATE_OUTPUT_SCHEMA,
            stateStructType=QUOTA_GATE_SHARD_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    def _update(key, pdfs, state: GroupState):
        if state.hasTimedOut:  # pragma: no cover - no TTL configured
            state.remove()
            return
        frames = list(pdfs)
        batch = pd.concat(frames) if frames else pd.DataFrame()
        if not len(batch):
            return
        used = state.get[0] if state.exists else 0
        room = quota - used
        if room <= 0:
            return
        batch = batch.sort_values(["ord", "seq_id"]).head(room)
        state.update((used + len(batch),))
        yield pd.DataFrame(
            {
                "key": [str(key[0])] * len(batch),
                "seq_id": batch["seq_id"].astype(str).tolist(),
                "ord": batch["ord"].astype("int64").tolist(),
                "value": batch["value"].astype(float).tolist(),
            }
        )

    rows = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(id_col).cast("string").alias("seq_id"),
        F.col(ord_col).cast("long").alias("ord"),
        F.col(value_col).cast("double").alias("value"),
    )
    return rows.groupBy("key").applyInPandasWithState(
        _update,
        outputStructType=QUOTA_GATE_OUTPUT_SCHEMA,
        stateStructType=QUOTA_GATE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_ETT_OUTPUT_SCHEMA = (
    "key STRING, session_start LONG, session_end LONG, n_events LONG"
)
SESSION_ETT_STATE_SCHEMA = "s LONG, e LONG, n LONG"


def session_close_event_time(
    stream: DataFrame,
    gap_ms: int,
    key_col: str = "key",
    time_col: str = "event_time",
) -> DataFrame:
    """Custom sessionization with EVENT-TIME timers
    (``GroupStateTimeout.EventTimeTimeout``): per key, the open session
    (start, end, count) is buffered in state; a session closes and emits
    either when a same-key event more than ``gap_ms`` later arrives
    (in-handler gap split — a single micro-batch may close several), or
    when the WATERMARK passes ``end + gap_ms`` and the timer fires
    (``hasTimedOut`` invocation, state removed). This is the
    applyInPandasWithState twin of the built-in session window (q203)
    with the timer path exercised — and unlike the processing-time
    finalizer (:func:`streaming_session_finalizer`), event-time timers
    fire on watermark advance, so an ``availableNow`` drain terminates
    on its own (the finalization batch fires every expired timer).

    State: three scalars per OPEN session only. Emission is exactly-once
    per closed session (append mode)."""

    def _update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            s, e, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "key": [str(key[0])],
                    "session_start": [int(s)],
                    "session_end": [int(e)],
                    "n_events": [int(n)],
                }
            )
            return
        frames = list(pdfs)
        batch = pd.concat(frames) if frames else pd.DataFrame()
        if not len(batch):
            return
        ts = sorted(int(t.timestamp() * 1000) for t in batch[time_col])
        cur = list(state.get) if state.exists else None
        closed = []
        for t in ts:
            if cur is None:
                cur = [t, t, 1]
            elif t - cur[1] > gap_ms:
                closed.append(tuple(cur))
                cur = [t, t, 1]
            else:
                cur[1] = t
                cur[2] += 1
        state.update((int(cur[0]), int(cur[1]), int(cur[2])))
        state.setTimeoutTimestamp(int(cur[1]) + gap_ms)
        if closed:
            yield pd.DataFrame(
                {
                    "key": [str(key[0])] * len(closed),
                    "session_start": [c[0] for c in closed],
                    "session_end": [c[1] for c in closed],
                    "n_events": [c[2] for c in closed],
                }
            )

    rows = stream.select(
        F.col(key_col).cast("string").alias("key"), F.col(time_col)
    )
    return rows.groupBy("key").applyInPandasWithState(
        _update,
        outputStructType=SESSION_ETT_OUTPUT_SCHEMA,
        stateStructType=SESSION_ETT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


FIRST_MATCH_OUTPUT_SCHEMA = (
    "key STRING, a_time LONG, b_time LONG, lag_ms LONG"
)
FIRST_MATCH_STATE_SCHEMA = "a_times ARRAY<LONG>, b_times ARRAY<LONG>"


def first_match_within(
    stream: DataFrame,
    window_ms: int,
    a_type: str,
    b_type: str,
    key_col: str = "key",
    time_col: str = "event_time",
    type_col: str = "event_type",
) -> DataFrame:
    """Streaming FIRST-MATCH pattern detection (the core CEP primitive,
    'A followed by B within T'): per key, each ``a_type`` event at time
    ``a`` emits exactly one row with the EARLIEST ``b_type`` event in
    ``[a, a + window_ms]`` — or nothing if none arrives. Event-time
    correct under out-of-order arrival: an A is finalized only once the
    WATERMARK has passed ``a + window_ms`` (no earlier B can still
    arrive), using ``getCurrentWatermarkMs`` so one timer firing
    finalizes every eligible A, not just the earliest.

    State per key: the pending A times (deduplicated — identical-time
    As are one logical match, mirroring the batch oracle's GROUP BY)
    and the B times still inside any live window. Both prune against
    the watermark every invocation: A leaves when finalized, B when
    ``wm > b + window_ms`` (no pending or future A can reach back that
    far, since future As carry ``a >= wm``). The re-armed timeout is
    always strictly above the current watermark by construction
    (pending As have ``a + T >= wm``; kept Bs have ``b + T >= wm``).

    Scale: state is O(live window occupancy) per key, watermark-bounded;
    emission is exactly-once append (an A is emitted in the single
    invocation that finalizes it, then leaves state).
    """

    def _update(key, pdfs, state: GroupState):
        wm = state.getCurrentWatermarkMs()
        if state.exists:
            sa, sb = state.get
            a_times = list(sa or [])
            b_times = list(sb or [])
        else:
            a_times, b_times = [], []
        if not state.hasTimedOut:
            frames = list(pdfs)
            batch = pd.concat(frames) if frames else pd.DataFrame()
            if len(batch):
                for t, et in zip(batch[time_col], batch[type_col]):
                    tm = int(t.timestamp() * 1000)
                    if et == a_type:
                        a_times.append(tm)
                    elif et == b_type:
                        b_times.append(tm)
        out = []
        keep_a = []
        for a in sorted(set(a_times)):
            if a + window_ms < wm:
                cand = [b for b in b_times if a <= b <= a + window_ms]
                if cand:
                    out.append((a, min(cand)))
            else:
                keep_a.append(a)
        keep_b = sorted({b for b in b_times if b + window_ms >= wm})
        if not keep_a and not keep_b:
            state.remove()
        else:
            state.update((keep_a, keep_b))
            if keep_a:
                nxt = min(a + window_ms for a in keep_a) + 1
            else:
                nxt = max(keep_b) + window_ms + 1
            state.setTimeoutTimestamp(int(nxt))
        if out:
            yield pd.DataFrame(
                {
                    "key": [str(key[0])] * len(out),
                    "a_time": [a for a, _ in out],
                    "b_time": [b for _, b in out],
                    "lag_ms": [b - a for a, b in out],
                }
            )

    rows = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(time_col),
        F.col(type_col),
    )
    return rows.groupBy("key").applyInPandasWithState(
        _update,
        outputStructType=FIRST_MATCH_OUTPUT_SCHEMA,
        stateStructType=FIRST_MATCH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


HOLT_OUTPUT_SCHEMA = "key STRING, n LONG, level DOUBLE, trend DOUBLE"
HOLT_STATE_SCHEMA = "x1 DOUBLE, l DOUBLE, b DOUBLE, n LONG"


def streaming_holt(
    stream: DataFrame,
    alpha: float,
    gamma: float,
    key_col: str = "key",
    seq_col: str = "d",
    value_col: str = "c",
) -> DataFrame:
    """Holt's linear exponential smoothing as a STREAMING stateful
    operator: per key, the (level, trend) recursion folds across
    micro-batches exactly as the batch array fold does — seed on the
    first two observations (l=x1, b=x2-x1, then the t=2 step consumes
    x2), every later row one step. Rows are applied in ``seq_col`` order
    within each invocation; cross-batch order comes from the source (the
    drain stages sequence-ordered files). Emits the post-batch state per
    key in update mode — the drain keeps each key's max-n row, which
    after availableNow equals the full-series smooth.

    State: four scalars per key, O(keys) total — a million series cost a
    million tiny rows, not a million folds' worth of history.
    """

    def _update(key, pdfs, state: GroupState):
        frames = list(pdfs)
        batch = pd.concat(frames) if frames else pd.DataFrame()
        if not len(batch):
            return
        if state.exists:
            x1, l, b, n = state.get
        else:
            x1, l, b, n = 0.0, 0.0, 0.0, 0
        batch = batch.sort_values(seq_col)
        for x in batch[value_col]:
            x = float(x)
            if n == 0:
                x1 = x
            elif n == 1:
                l = x1
                b = x - x1
                nl = alpha * x + (1 - alpha) * (l + b)
                nb = gamma * (nl - l) + (1 - gamma) * b
                l, b = nl, nb
            else:
                nl = alpha * x + (1 - alpha) * (l + b)
                nb = gamma * (nl - l) + (1 - gamma) * b
                l, b = nl, nb
            n += 1
        state.update((float(x1), float(l), float(b), int(n)))
        yield pd.DataFrame(
            {
                "key": [str(key[0])],
                "n": [int(n)],
                "level": [float(l)],
                "trend": [float(b)],
            }
        )

    rows = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(seq_col),
        F.col(value_col),
    )
    return rows.groupBy("key").applyInPandasWithState(
        _update,
        outputStructType=HOLT_OUTPUT_SCHEMA,
        stateStructType=HOLT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CROSTON_OUTPUT_SCHEMA = "key STRING, n LONG, nd LONG, z DOUBLE, p DOUBLE"
CROSTON_STATE_SCHEMA = "z DOUBLE, p DOUBLE, q DOUBLE, st LONG, nd DOUBLE, idx DOUBLE"


def streaming_croston(
    stream: DataFrame,
    alpha: float = 0.2,
    key_col: str = "key",
    seq_col: str = "d",
    value_col: str = "c",
) -> DataFrame:
    """Croston's intermittent-demand smoothing (Croston 1972) as a
    STREAMING stateful operator: per key, the (size-EWMA, interval-EWMA,
    periods-since-demand) recursion folds across micro-batches exactly
    as the q495 batch array fold does — seed on the first demand (z =
    its size, p = its 1-based position), demand rows update both EWMAs
    and reset the counter, zero rows only increment it. Rows are applied
    in ``seq_col`` order within each invocation; cross-batch order comes
    from the source (the drain stages sequence-ordered files). Emits the
    post-batch state per key in update mode — the drain keeps each key's
    max-n row, which after availableNow equals the full-series state.

    State: six scalars per key, O(keys) total — a million intermittent
    SKUs cost a million tiny rows; each micro-batch does O(new rows)
    work with no history re-read (the incremental form of the reference
    workload-forecast refresh loop, applied to sparse demand).
    """

    def _update(key, pdfs, state: GroupState):
        frames = list(pdfs)
        batch = pd.concat(frames) if frames else pd.DataFrame()
        if not len(batch):
            return
        if state.exists:
            z, p, q, st, nd, idx = state.get
        else:
            z, p, q, st, nd, idx = 0.0, 0.0, 0.0, 0, 0.0, 0.0
        batch = batch.sort_values(seq_col)
        for x in batch[value_col]:
            x = float(x)
            idx += 1.0
            if not st:
                if x > 0:
                    z, p, q, st = x, idx, 1.0, 1
                    nd += 1.0
            else:
                if x > 0:
                    z = alpha * x + (1 - alpha) * z
                    p = alpha * q + (1 - alpha) * p
                    q = 1.0
                    nd += 1.0
                else:
                    q += 1.0
        state.update((float(z), float(p), float(q), int(st), float(nd), float(idx)))
        yield pd.DataFrame(
            {
                "key": [str(key[0])],
                "n": [int(idx)],
                "nd": [int(nd)],
                "z": [float(z)],
                "p": [float(p)],
            }
        )

    rows = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(seq_col),
        F.col(value_col),
    )
    return rows.groupBy("key").applyInPandasWithState(
        _update,
        outputStructType=CROSTON_OUTPUT_SCHEMA,
        stateStructType=CROSTON_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


BURN_OUTPUT_SCHEMA = (
    "hr LONG, n LONG, errs LONG, burn_short DOUBLE, burn_long DOUBLE, page INT"
)
BURN_STATE_SCHEMA = "hrs ARRAY<LONG>, ns ARRAY<LONG>, errs ARRAY<LONG>"


def streaming_burn_rate(
    stream: DataFrame,
    budget: float = 0.2,
    window: int = 6,
    short_thr: float = 1.5,
    long_thr: float = 1.1,
) -> DataFrame:
    """Multi-window SLO burn-rate alerting as a STREAMING stateful
    operator — the q276 batch computation (1 h burn AND trailing-6 h
    burn, page only when both exceed their thresholds) with the trailing
    window carried in the state store instead of a RANGE frame. Per
    hourly aggregate row (hr, n, errs), in hr order: append to the
    carried ring, evict entries older than hr-(window-1) BY VALUE (RANGE
    semantics — missing hours shorten the window, exactly like the batch
    frame), emit the hour's burn rates and page flag.

    The division arithmetic is identical to the batch form (integer sums,
    one divide), so a drain of this operator hash-matches q276's DuckDB
    oracle digit-for-digit — batch window and streaming state are two
    execution forms of one operator.

    State: at most `window` (hr, n, errs) triples per key — O(1) per
    SLO stream, checkpoint-safe, TTL-free because eviction is by the
    monotone hour value.
    """

    def _update(key, pdfs, state: GroupState):
        frames = list(pdfs)
        batch = pd.concat(frames) if frames else pd.DataFrame()
        if not len(batch):
            return
        if state.exists:
            hrs, ns, errs = (list(v) for v in state.get)
        else:
            hrs, ns, errs = [], [], []
        out = []
        for row in batch.sort_values("hr").itertuples(index=False):
            hr, n, er = int(row.hr), int(row.n), int(row.errs)
            if n <= 0:
                continue  # empty hour: no traffic, no burn signal
            if hrs and hr <= hrs[-1]:
                continue  # late/out-of-order hour OR an exact same-hour
                # replay (the common at-least-once artifact): the ring
                # eviction below assumes strictly-monotone hours, and a
                # replayed hour would double-count n/errs in the trailing
                # window — drop both (documented policy)
            hrs.append(hr)
            ns.append(n)
            errs.append(er)
            while hrs and hrs[0] < hr - (window - 1):
                hrs.pop(0)
                ns.pop(0)
                errs.pop(0)
            bs = (er * 1.0 / n) / budget
            bl = (sum(errs) * 1.0 / sum(ns)) / budget
            out.append(
                (hr, n, er, bs, bl, 1 if (bs > short_thr and bl > long_thr) else 0)
            )
        state.update((hrs, ns, errs))
        yield pd.DataFrame(
            out, columns=["hr", "n", "errs", "burn_short", "burn_long", "page"]
        )

    rows = stream.select(
        F.lit("slo").alias("key"), F.col("hr"), F.col("n"), F.col("errs")
    )
    return rows.groupBy("key").applyInPandasWithState(
        _update,
        outputStructType=BURN_OUTPUT_SCHEMA,
        stateStructType=BURN_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_sprt(
    stream: DataFrame,
    d_threshold: int = 15,
    key_col: str = "key",
    seq_col: str = "i",
    x_col: str = "x",
) -> DataFrame:
    """Wald SPRT as a STREAMING stateful operator: per key, the integer
    random walk folds across micro-batches — n observations, s successes,
    and the FIRST index where |2s - n| >= d_threshold freezes the
    decision (+1 upper boundary, -1 lower); later rows only advance the
    totals. Rows are applied in ``seq_col`` order within each invocation;
    cross-batch order comes from the source (the drain stages
    sequence-ordered files). Emits the post-batch state per key in update
    mode — the drain keeps each key's max-n row. Because the walk and the
    boundary test are pure integers, the streamed decision is exactly the
    batch q303 answer, micro-batch boundaries invisible.

    State: five integers per key — a thousand concurrent experiments cost
    five thousand ints, and saturated (decided) keys do O(rows) integer
    adds with no further branching.
    """

    def _update(key, pdfs, state: GroupState):
        frames = list(pdfs)
        batch = pd.concat(frames) if frames else pd.DataFrame()
        if not len(batch):
            return
        if state.exists:
            n, s, decision, n_obs, d_stop = state.get
        else:
            n, s, decision, n_obs, d_stop = 0, 0, 0, 0, 0
        batch = batch.sort_values(seq_col)
        for x in batch[x_col]:
            n += 1
            s += int(x)
            if decision == 0:
                d = 2 * s - n
                if abs(d) >= d_threshold:
                    decision = 1 if d > 0 else -1
                    n_obs = n
                    d_stop = d
        state.update((int(n), int(s), int(decision), int(n_obs), int(d_stop)))
        yield pd.DataFrame(
            {
                "key": [str(key[0])],
                "n": [int(n)],
                "decision": [int(decision)],
                "n_obs": [int(n_obs if decision != 0 else n)],
                "d_stop": [int(d_stop)],
            }
        )

    rows = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(seq_col),
        F.col(x_col),
    )
    return rows.groupBy("key").applyInPandasWithState(
        _update,
        outputStructType="key STRING, n LONG, decision INT, n_obs LONG, d_stop LONG",
        stateStructType="n LONG, s LONG, decision INT, n_obs LONG, d_stop LONG",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


PH_OUTPUT_SCHEMA = (
    "key STRING, n LONG, mean DOUBLE, u DOUBLE, min_u DOUBLE, alarm LONG"
)
PH_STATE_SCHEMA = "t LONG, mean DOUBLE, u DOUBLE, minu DOUBLE, alarm LONG"


def streaming_page_hinkley(
    stream: DataFrame,
    delta: float,
    lam: float,
    key_col: str = "key",
    seq_col: str = "d",
    value_col: str = "c",
) -> DataFrame:
    """Page-Hinkley mean-shift detector (Page 1954, Hinkley 1971) as a
    STREAMING stateful operator: per key, the running-mean cumulative
    deviation U_t and its running minimum fold across micro-batches in
    exactly the batch array fold's float-op order —
    mean_t = mean + (x - mean)/t, U_t = U + x - mean_t - delta,
    alarm at the FIRST t where U_t - min(U) > lambda. Rows apply in
    ``seq_col`` order within a batch; cross-batch order comes from the
    staged source. Emits the post-batch state per key in update mode —
    the drain keeps each key's max-n row.

    State: five scalars per key, O(keys) total — drift monitoring over
    an unbounded metric stream at O(1) memory per series.
    """

    def _update(key, pdfs, state: GroupState):
        frames = list(pdfs)
        batch = pd.concat(frames) if frames else pd.DataFrame()
        if not len(batch):
            return
        if state.exists:
            t, mean, u, minu, alarm = state.get
        else:
            t, mean, u, minu, alarm = 0, 0.0, 0.0, 0.0, 0
        batch = batch.sort_values(seq_col)
        for x in batch[value_col]:
            x = float(x)
            t += 1
            mean = mean + (x - mean) / t
            u = u + x - mean - delta
            minu = min(minu, u)
            if alarm == 0 and u - minu > lam:
                alarm = t
        state.update((int(t), float(mean), float(u), float(minu), int(alarm)))
        yield pd.DataFrame(
            {
                "key": [str(key[0])],
                "n": [int(t)],
                "mean": [float(mean)],
                "u": [float(u)],
                "min_u": [float(minu)],
                "alarm": [int(alarm)],
            }
        )

    rows = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(seq_col),
        F.col(value_col),
    )
    return rows.groupBy("key").applyInPandasWithState(
        _update,
        outputStructType=PH_OUTPUT_SCHEMA,
        stateStructType=PH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


PSI_OUTPUT_SCHEMA = (
    "key STRING, n LONG, c0 ARRAY<LONG>, c1 ARRAY<LONG>"
)
PSI_STATE_SCHEMA = "c0 ARRAY<LONG>, c1 ARRAY<LONG>, n LONG"


def streaming_bin_counts(
    stream: DataFrame,
    n_bins: int = 10,
    key_col: str = "key",
    bin_col: str = "bin",
    arm_col: str = "arm",
    cnt_col: str = "cnt",
) -> DataFrame:
    """Per-key streaming (bin x arm) count accumulator — the state behind
    a continuously-updated Population Stability Index: each micro-batch
    ADDS its per-bin counts into two fixed-width count vectors carried in
    the state store. Unlike the order-sensitive drains (Holt, CUSUM,
    Page-Hinkley), this state is COMMUTATIVE — arrival order and batch
    boundaries provably cannot change the final vectors, which is exactly
    the property the drain certifies against the batch oracle.

    State: 2 x n_bins longs per key, O(keys) total, TTL-free.
    """

    def _update(key, pdfs, state: GroupState):
        frames = list(pdfs)
        batch = pd.concat(frames) if frames else pd.DataFrame()
        if not len(batch):
            return
        if state.exists:
            c0, c1, n = state.get
            c0, c1 = list(c0), list(c1)
        else:
            c0, c1, n = [0] * n_bins, [0] * n_bins, 0
        for row in batch.itertuples(index=False):
            b, arm, c = int(getattr(row, bin_col)), int(getattr(row, arm_col)), int(
                getattr(row, cnt_col)
            )
            if not 0 <= b < n_bins:
                continue  # out-of-domain bin: drop loudly-typed garbage
            if arm not in (0, 1):
                continue  # unknown arm: mirror the bin guard instead of
                # silently folding garbage into c1/n and skewing the PSI
            if arm == 0:
                c0[b] += c
            else:
                c1[b] += c
            n += c
        state.update((c0, c1, int(n)))
        yield pd.DataFrame(
            {
                "key": [str(key[0])],
                "n": [int(n)],
                "c0": [c0],
                "c1": [c1],
            }
        )

    rows = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(bin_col),
        F.col(arm_col),
        F.col(cnt_col),
    )
    return rows.groupBy("key").applyInPandasWithState(
        _update,
        outputStructType=PSI_OUTPUT_SCHEMA,
        stateStructType=PSI_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


BOTTOMK_OUTPUT_SCHEMA = "key STRING, n_seen LONG, hs ARRAY<LONG>, ids ARRAY<LONG>"
BOTTOMK_STATE_SCHEMA = "hs ARRAY<LONG>, ids ARRAY<LONG>, n_seen LONG"


def streaming_bottom_k(
    stream: DataFrame,
    k: int = 20,
    key_col: str = "key",
    hash_col: str = "h",
    id_col: str = "id",
) -> DataFrame:
    """Per-key streaming bottom-k-by-hash sample — the KMV-style
    DETERMINISTIC reservoir: keep the k (hash, id) pairs with the
    smallest salted hashes seen so far. Like :func:`streaming_bin_counts`
    this state is COMMUTATIVE (bottom-k of a union is the bottom-k of
    per-batch bottom-ks), so arrival order and micro-batch boundaries
    provably cannot change the drained sample — the mergeability promise
    that makes hash-bottom-k the distributed-sampling primitive (same
    family as the q154 KMV distinct sketch, and the streaming form of
    q65's hash-stratified sampling).

    State: at most k (long, long) pairs + a counter per key, O(k*keys)
    total, TTL-free. Ties break on id so replays are idempotent.
    """

    def _update(key, pdfs, state: GroupState):
        frames = list(pdfs)
        batch = pd.concat(frames) if frames else pd.DataFrame()
        if not len(batch):
            return
        if state.exists:
            hs, ids, n_seen = state.get
            pool = list(zip(hs, ids))
        else:
            pool, n_seen = [], 0
        for row in batch.itertuples(index=False):
            pool.append((int(getattr(row, hash_col)), int(getattr(row, id_col))))
            n_seen += 1
        pool = sorted(set(pool))[:k]
        hs = [h for h, _ in pool]
        ids = [i for _, i in pool]
        state.update((hs, ids, int(n_seen)))
        yield pd.DataFrame(
            {
                "key": [str(key[0])],
                "n_seen": [int(n_seen)],
                "hs": [hs],
                "ids": [ids],
            }
        )

    rows = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(hash_col).cast("long").alias(hash_col),
        F.col(id_col).cast("long").alias(id_col),
    )
    return rows.groupBy("key").applyInPandasWithState(
        _update,
        outputStructType=BOTTOMK_OUTPUT_SCHEMA,
        stateStructType=BOTTOMK_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


MOMENTS_OUTPUT_SCHEMA = "key STRING, n LONG, s1 LONG, s2 LONG"
MOMENTS_STATE_SCHEMA = "n LONG, s1 LONG, s2 LONG"


def streaming_moments(
    stream: DataFrame,
    key_col: str = "key",
    n_col: str = "n",
    s1_col: str = "s1",
    s2_col: str = "s2",
) -> DataFrame:
    """Per-key streaming integer moment accumulator (count, sum, sum of
    squares) — the exact-arithmetic form of Welford/Chan parallel
    variance: because the state is three BIGINT sums of an
    integer-quantized measure, the merge is COMMUTATIVE AND EXACT (no
    float accumulation order anywhere), so arrival order, micro-batch
    boundaries, and restart replays provably cannot change the drained
    mean/variance by even an ulp. Each micro-batch is expected
    PRE-REDUCED to one (key, n, s1, s2) row per key (a map-side
    aggregate), so per-batch state traffic is one row per key no matter
    the batch size.

    State: three longs per key, O(keys) total, TTL-free."""

    def _update(key, pdfs, state: GroupState):
        frames = list(pdfs)
        batch = pd.concat(frames) if frames else pd.DataFrame()
        if not len(batch):
            return
        if state.exists:
            n, s1, s2 = state.get
        else:
            n, s1, s2 = 0, 0, 0
        n += int(batch[n_col].sum())
        s1 += int(batch[s1_col].sum())
        s2 += int(batch[s2_col].sum())
        state.update((int(n), int(s1), int(s2)))
        yield pd.DataFrame(
            {"key": [str(key[0])], "n": [int(n)], "s1": [int(s1)], "s2": [int(s2)]}
        )

    rows = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(n_col).cast("long").alias(n_col),
        F.col(s1_col).cast("long").alias(s1_col),
        F.col(s2_col).cast("long").alias(s2_col),
    )
    return rows.groupBy("key").applyInPandasWithState(
        _update,
        outputStructType=MOMENTS_OUTPUT_SCHEMA,
        stateStructType=MOMENTS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


HLL_OUTPUT_SCHEMA = "key STRING, n_batches LONG, regs ARRAY<LONG>, nonzero LONG"
HLL_STATE_SCHEMA = "regs ARRAY<LONG>, n_batches LONG"


def streaming_hll(
    stream: DataFrame,
    m: int = 64,
    key_col: str = "key",
    idx_col: str = "idx",
    rank_col: str = "r",
) -> DataFrame:
    """Per-key streaming HyperLogLog register accumulator (q283's
    deterministic p=6 / m=64 sketch carried as streaming state): the
    state is the m-register array and the merge is register-wise MAX —
    commutative, associative, and idempotent, so arrival order,
    micro-batch boundaries, restart replays, and even DUPLICATE
    delivery provably cannot change the drained registers (the
    strongest batch-invariance class of any drain in this registry:
    max-merge absorbs at-least-once delivery, which the additive
    moment/count drains do not). Each micro-batch is expected
    PRE-REDUCED map-side to at most m (key, idx, rank) rows per key, so
    per-batch state traffic is register-bounded no matter the batch
    size.

    State: m longs per key, O(keys * m) total, TTL-free."""

    def _update(key, pdfs, state: GroupState):
        frames = list(pdfs)
        batch = pd.concat(frames) if frames else pd.DataFrame()
        if not len(batch):
            return
        if state.exists:
            regs_t, nb = state.get
            regs = list(regs_t)
        else:
            regs, nb = [0] * m, 0
        for idx, r in zip(batch[idx_col], batch[rank_col]):
            i = int(idx)
            if int(r) > regs[i]:
                regs[i] = int(r)
        nb += 1
        state.update((regs, int(nb)))
        yield pd.DataFrame(
            {
                "key": [str(key[0])],
                "n_batches": [int(nb)],
                "regs": [regs],
                "nonzero": [int(sum(1 for v in regs if v > 0))],
            }
        )

    rows = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(idx_col).cast("long").alias(idx_col),
        F.col(rank_col).cast("long").alias(rank_col),
    )
    return rows.groupBy("key").applyInPandasWithState(
        _update,
        outputStructType=HLL_OUTPUT_SCHEMA,
        stateStructType=HLL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
