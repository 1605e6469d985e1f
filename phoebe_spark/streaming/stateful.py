"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference's control loop keeps per-job running state (cached workload,
last-learned timestamp, EWMA-smoothed rates) across evaluation intervals.
In Structured Streaming that state lives in the state store, keyed by
group, surviving micro-batches and checkpoint restarts — the pattern the
brief names for "custom stateful operators".

:func:`keyed_fold` is the one way to write an update-mode per-key fold:
the operator selects its columns (key first) and supplies a pure
``fold(key, carried, batch) -> (state, frame)``; the harness owns the
state-store protocol (chunk concat, optional sort, read or initialise the
state, store it, emit the frame). Eight operators below are such folds.
The rest need what the harness deliberately leaves out — append output,
event-time timers or sharded keys — and speak ``applyInPandasWithState``
directly.

A fold that is only a sum or a max per key is not written here: its
drain runs a native streaming ``groupBy().agg()`` in complete mode
(q324, q353, q415, q433). The state store then keeps the partial
aggregate in the JVM, so no micro-batch pays a Python worker per state
partition, and an exact integer sum or max comes out bit-identical.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def keyed_fold(
    rows: DataFrame,
    fold: Callable[[Any, tuple, pd.DataFrame], tuple[tuple, pd.DataFrame]],
    init: tuple,
    output_schema: str,
    state_schema: str,
    order: str | None = None,
) -> DataFrame:
    """Group ``rows`` by their first column and run ``fold`` over each
    key's micro-batch with its state carried in the state store (update
    output, ``NoTimeout``).

    Spark hands the handler an iterator of Arrow chunks (a group larger
    than ``spark.sql.execution.arrow.maxRecordsPerBatch`` arrives split),
    so the chunks are concatenated into one frame and, when ``order`` is
    given, sorted by it once: a per-chunk sort would fold an
    order-sensitive recursion in chunk order. ``fold(key, carried, batch)``
    receives the grouping value as is (a null key stays ``None``), the
    carried state tuple or ``init`` the first time the key is seen, and
    returns ``(state, frame)``: the tuple to store and the rows to emit.
    ``fold`` must not mutate ``init`` in place — it is shared by every key.
    Under ``NoTimeout`` the handler only runs for keys with rows, so
    ``batch`` is never empty."""

    def _update(key, pdfs, state: GroupState):
        batch = pd.concat(list(pdfs))
        if order is not None:
            batch = batch.sort_values(order)
        carried, out = fold(key[0], state.get if state.exists else init, batch)
        state.update(carried)
        yield out

    return rows.groupBy(rows.columns[0]).applyInPandasWithState(
        _update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
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

    def _fold(key, carried, batch):
        s, n = carried
        for v in batch[value_col]:
            s = max(0.0, s + float(v) - k)
            n += 1
        return (s, n), pd.DataFrame(
            {"key": [key], "stat": [s], "alarm": [s > h], "n_obs": [n]}
        )

    return keyed_fold(
        stream.select(F.col(key_col).cast("string").alias(key_col), ts_col, value_col),
        _fold,
        (0.0, 0),
        CUSUM_OUTPUT_SCHEMA,
        CUSUM_STATE_SCHEMA,
        order=ts_col,
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

    def _fold(key, carried, batch):
        items, counts, n_total = carried
        counters, n_total = mg_update(dict(zip(items, counts)), n_total, batch[item_col], k)
        items = sorted(counters)
        out = sorted(counters.items(), key=lambda ic: (-ic[1], ic[0]))
        return (items, [int(counters[i]) for i in items], int(n_total)), pd.DataFrame(
            {
                "key": [key] * len(out),
                "item": [i for i, _ in out],
                "count_lb": [c for _, c in out],
                "n_total": [n_total] * len(out),
            }
        )

    return keyed_fold(
        stream.select(
            F.col(key_col).cast("string").alias(key_col),
            F.col(item_col).cast("string").alias(item_col),
        ),
        _fold,
        ((), (), 0),
        HH_OUTPUT_SCHEMA,
        HH_STATE_SCHEMA,
    )


DEDUP_GATE_OUTPUT_SCHEMA = "fp STRING, doc_id STRING, first_seen_ms LONG"
DEDUP_GATE_STATE_SCHEMA = "doc_id STRING, first_seen_ms LONG"


def streaming_dedup_gate(
    stream: DataFrame,
    fp_col: str = "fp",
    id_col: str = "doc_id",
    ts_col: str = "event_time",
) -> DataFrame:
    """STREAMING exact-dedup gate over a fingerprint column — the live
    form of the batch fingerprint dedup (q08) and the incremental-merge
    dedup (q102): the first document carrying each fingerprint survives,
    every later copy (same micro-batch or any later one) is dropped at
    ingest. Append output: downstream sees ONLY survivors, so the gate
    composes with any batch sink.

    State is one (doc_id, ts) pair per seen fingerprint, checkpointed and
    rescale-safe; within a micro-batch ties break on (event time,
    doc_id), deterministically. Under ``NoTimeout`` the handler only runs
    for fingerprints with rows, and an ``availableNow`` drain stops once
    its input is read."""

    def _update(key, pdfs, state: GroupState):
        batch = pd.concat(list(pdfs))
        if state.exists:
            return  # already gated
        first = batch.sort_values(["ts_ms", "doc_id"]).iloc[0]
        state.update((str(first["doc_id"]), int(first["ts_ms"])))
        yield pd.DataFrame(
            {
                "fp": [key[0]],
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
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


QUOTA_GATE_OUTPUT_SCHEMA = "key STRING, seq_id STRING, ord LONG, value DOUBLE"
QUOTA_GATE_SHARD_STATE_SCHEMA = "ks ARRAY<STRING>, us ARRAY<LONG>"
QUOTA_GATE_SHARDS = 8


def keyed_quota_gate(
    stream: DataFrame,
    quota: int,
    key_col: str = "key",
    id_col: str = "id",
    ord_col: str = "ord_ms",
    value_col: str = "value",
) -> DataFrame:
    """Per-key admission QUOTA at ingest: the first ``quota`` rows of each
    key (in arrival order; within a micro-batch ties break on
    ``(ord_col, id_col)``) pass, everything after is dropped — the
    per-source document cap a training-data intake enforces so one feed
    cannot flood the mix, and the per-tenant rate cap of a shared
    ingest endpoint. Append output: downstream sees only admitted rows.

    Determinism contract for drain-style certification: if the source
    replays files in a fixed order (sequenced mtimes + one file per
    trigger) and each file holds a disjoint ascending ``ord_col`` range,
    the admitted set equals the batch answer
    ``row_number() OVER (PARTITION BY key ORDER BY ord, id) <= quota``.
    A null key is a key like any other: its rows get their own quota and
    leave with the key still null, in both forms.

    State is sharded: keys hash into :data:`QUOTA_GATE_SHARDS` shards
    (``pmod(xxhash64(key), n)``) and one handler call folds every key of
    its shard, carrying a dict of per-key counters as two parallel state
    arrays. So a micro-batch makes one state get/put per shard instead
    of one per distinct key (~35% off q188's drain at 1500 keys). The admitted set is the per-key one: the quota fold is
    key-decomposable, and each key gets the per-key rule (sort by (ord,
    id), admit into the key's remaining room) whatever shard it lands
    in. A shard's state row holds O(keys/shard) counters and is
    rewritten on every batch that touches the shard, so the key domain
    must stay bounded (hundreds of keys per shard).
    """

    def _update(_shard, pdfs, state: GroupState):
        batch = pd.concat(list(pdfs))
        if state.exists:
            ks, us = state.get
            used = dict(zip(list(ks or []), list(us or [])))
        else:
            used = {}
        batch = batch.sort_values(["ord", "seq_id"])
        outs = []
        # dropna=False: a null key is a key like any other; it is read
        # back from the rows (None), not from the group label (NaN), so
        # it matches its None entry in the carried state
        for _, grp in batch.groupby("key", sort=False, dropna=False):
            k = grp["key"].iloc[0]
            room = quota - used.get(k, 0)
            if room <= 0:
                continue
            take = grp.head(room)
            used[k] = used.get(k, 0) + len(take)
            outs.append(take)
        state.update((list(used.keys()), [int(v) for v in used.values()]))
        if outs:
            o = pd.concat(outs)
            yield pd.DataFrame(
                {
                    "key": o["key"].tolist(),
                    "seq_id": o["seq_id"].astype(str).tolist(),
                    "ord": o["ord"].astype("int64").tolist(),
                    "value": o["value"].astype(float).tolist(),
                }
            )

    key = F.col(key_col).cast("string")
    rows = stream.select(
        key.alias("key"),
        F.col(id_col).cast("string").alias("seq_id"),
        F.col(ord_col).cast("long").alias("ord"),
        F.col(value_col).cast("double").alias("value"),
        F.pmod(F.xxhash64(key), F.lit(QUOTA_GATE_SHARDS)).alias("_shard"),
    )
    return rows.groupBy("_shard").applyInPandasWithState(
        _update,
        outputStructType=QUOTA_GATE_OUTPUT_SCHEMA,
        stateStructType=QUOTA_GATE_SHARD_STATE_SCHEMA,
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
    with the timer path exercised. Event-time timers fire on watermark
    advance, so an ``availableNow`` drain terminates on its own (the
    finalization batch fires every expired timer).

    State: three scalars per OPEN session only. Emission is exactly-once
    per closed session (append mode)."""

    def _update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            s, e, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "key": [key[0]],
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
                    "key": [key[0]] * len(closed),
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
                    "key": [key[0]] * len(out),
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

    def _fold(key, carried, batch):
        x1, l, b, n = carried
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
        return (float(x1), float(l), float(b), int(n)), pd.DataFrame(
            {
                "key": [key],
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
    return keyed_fold(
        rows, _fold, (0.0, 0.0, 0.0, 0), HOLT_OUTPUT_SCHEMA, HOLT_STATE_SCHEMA, order=seq_col
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

    def _fold(key, carried, batch):
        z, p, q, st, nd, idx = carried
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
        return (float(z), float(p), float(q), int(st), float(nd), float(idx)), pd.DataFrame(
            {
                "key": [key],
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
    return keyed_fold(
        rows,
        _fold,
        (0.0, 0.0, 0.0, 0, 0.0, 0.0),
        CROSTON_OUTPUT_SCHEMA,
        CROSTON_STATE_SCHEMA,
        order=seq_col,
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

    def _fold(_key, carried, batch):
        hrs, ns, errs = (list(v) for v in carried)
        out = []
        for row in batch.itertuples(index=False):
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
        return (hrs, ns, errs), pd.DataFrame(
            out, columns=["hr", "n", "errs", "burn_short", "burn_long", "page"]
        )

    rows = stream.select(
        F.lit("slo").alias("key"), F.col("hr"), F.col("n"), F.col("errs")
    )
    return keyed_fold(
        rows, _fold, ((), (), ()), BURN_OUTPUT_SCHEMA, BURN_STATE_SCHEMA, order="hr"
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

    def _fold(key, carried, batch):
        n, s, decision, n_obs, d_stop = carried
        for x in batch[x_col]:
            n += 1
            s += int(x)
            if decision == 0:
                d = 2 * s - n
                if abs(d) >= d_threshold:
                    decision = 1 if d > 0 else -1
                    n_obs = n
                    d_stop = d
        return (int(n), int(s), int(decision), int(n_obs), int(d_stop)), pd.DataFrame(
            {
                "key": [key],
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
    return keyed_fold(
        rows,
        _fold,
        (0, 0, 0, 0, 0),
        "key STRING, n LONG, decision INT, n_obs LONG, d_stop LONG",
        "n LONG, s LONG, decision INT, n_obs LONG, d_stop LONG",
        order=seq_col,
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

    def _fold(key, carried, batch):
        t, mean, u, minu, alarm = carried
        for x in batch[value_col]:
            x = float(x)
            t += 1
            mean = mean + (x - mean) / t
            u = u + x - mean - delta
            minu = min(minu, u)
            if alarm == 0 and u - minu > lam:
                alarm = t
        return (int(t), float(mean), float(u), float(minu), int(alarm)), pd.DataFrame(
            {
                "key": [key],
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
    return keyed_fold(
        rows, _fold, (0, 0.0, 0.0, 0.0, 0), PH_OUTPUT_SCHEMA, PH_STATE_SCHEMA, order=seq_col
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
    smallest salted hashes seen so far. This state is COMMUTATIVE
    (bottom-k of a union is the bottom-k of
    per-batch bottom-ks), so arrival order and micro-batch boundaries
    provably cannot change the drained sample — the mergeability promise
    that makes hash-bottom-k the distributed-sampling primitive (same
    family as the q154 KMV distinct sketch, and the streaming form of
    q65's hash-stratified sampling).

    State: at most k (long, long) pairs + a counter per key, O(k*keys)
    total, TTL-free. Ties break on id so replays are idempotent.
    """

    def _fold(key, carried, batch):
        hs, ids, n_seen = carried
        pool = list(zip(hs, ids))
        for row in batch.itertuples(index=False):
            pool.append((int(getattr(row, hash_col)), int(getattr(row, id_col))))
            n_seen += 1
        pool = sorted(set(pool))[:k]
        hs = [h for h, _ in pool]
        ids = [i for _, i in pool]
        return (hs, ids, int(n_seen)), pd.DataFrame(
            {
                "key": [key],
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
    return keyed_fold(rows, _fold, ((), (), 0), BOTTOMK_OUTPUT_SCHEMA, BOTTOMK_STATE_SCHEMA)
