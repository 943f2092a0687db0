"""Custom stateful streaming operator via applyInPandasWithState.

The reference's only stateful surface is the (skeleton) KV-store semantics
— a linearizable string->string map with Get/Put/Append (reference
src/models/kv.go:40-54, never implemented). The closest Spark-native analog
is a keyed state table maintained by a stateful streaming operator; this
module implements a running per-key aggregate (count + sum + last value)
with Arrow-batched state updates — the building block for custom
sessionization, CDC-style upserts, or append-semantics state.

Scale notes: state lives in the state store keyed by the grouping column —
partitioned across executors by key hash, checkpointed per micro-batch.
Timeouts (GroupStateTimeout) are how production variants expire idle keys;
omitted here to keep the operator deterministic for tests.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from map_reduce_go_spark.streaming.windows import SESSION_GAP_SEC

RUNNING_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

_STATE_SCHEMA = "n LONG, total DOUBLE"


def _update_running(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (event_type,) = key
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"event_type": [event_type], "n_events": [n], "total_value": [total]}
    )


def running_totals(events: DataFrame) -> DataFrame:
    """Streaming running (count, sum) per event_type, emitted every
    micro-batch — state persists across batches."""
    return events.groupBy("event_type").applyInPandasWithState(
        _update_running,
        outputStructType=RUNNING_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# The same operator on the Spark 4 StatefulProcessor API
# (transformWithStateInPandas) — the successor to applyInPandasWithState:
# named state variables on a handle (multiple per processor), explicit
# init/close lifecycle, timers, and TTL support. Requires the RocksDB
# state store provider (set in the test/session conf) AND the protobuf
# runtime: TWS's Python<->JVM state protocol is protobuf-serialized
# (pyspark.sql.streaming.proto.StateMessage_pb2), and this container
# ships no google.protobuf — so, like the multimodal codec seam, the
# operator is real code behind an explicit environment gate; the test
# skips (does not fake a pass) when protobuf is absent.
# --------------------------------------------------------------------------

try:  # the StatefulProcessor API landed in Spark 4.0
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    _HAS_TWS = True
except ImportError:  # pragma: no cover - older Spark
    StatefulProcessor = object  # type: ignore[assignment,misc]
    _HAS_TWS = False


def tws_runtime_available() -> bool:
    """True when transformWithStateInPandas can actually execute here:
    API present AND the protobuf runtime its state protocol needs."""
    if not _HAS_TWS:
        return False
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False

_TWS_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)


class _RunningTotalsProcessor(StatefulProcessor):
    """Keyed running (count, sum) with a single named ValueState — the
    minimal TWS processor, value-equivalent to _update_running above."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._state = handle.getValueState("running", _TWS_STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues):
        n, total = self._state.get() if self._state.exists() else (0, 0.0)
        for pdf in rows:
            n += len(pdf)
            total += float(pdf["value"].sum())
        self._state.update((n, float(total)))
        yield pd.DataFrame(
            {"event_type": [key[0]], "n_events": [n], "total_value": [float(total)]}
        )

    def close(self) -> None:
        pass


def running_totals_tws(events: DataFrame) -> DataFrame:
    """running_totals on the transformWithStateInPandas API. State scale
    contract is identical (one row per key in the keyed store); what the
    newer API adds at 100 TB is operational: several named state variables
    per processor, event/processing-time timers for key expiry, and state
    TTL — the pieces custom sessionization/CDC operators otherwise
    hand-roll."""
    if not _HAS_TWS:  # pragma: no cover - older Spark
        raise NotImplementedError("transformWithStateInPandas requires Spark >= 4.0")
    return events.groupBy("event_type").transformWithStateInPandas(
        statefulProcessor=_RunningTotalsProcessor(),
        outputStructType=RUNNING_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


# --------------------------------------------------------------------------
# Event-time sessionization on the StatefulProcessor API: ListState buffer
# + event-time TIMERS — the TWS features (named states, timers, watermark
# expiry) that applyInPandasWithState cannot express.
# --------------------------------------------------------------------------

SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_epoch", LongType()),
        StructField("session_end_epoch", LongType()),
        StructField("n_events", LongType()),
    ]
)

_TS_BUFFER_SCHEMA = StructType([StructField("ts_ms", LongType())])

SESSION_GAP_MS = SESSION_GAP_SEC * 1000


class _SessionTimerProcessor(StatefulProcessor):
    """Per-user session builder: buffer event times in a ListState, keep a
    timer registered at (max seen ts + gap); when the WATERMARK passes it
    the timer fires, the buffered times are sorted and split at >= gap
    boundaries (the events_sessionize rule), the closed sessions are
    emitted, and the state is cleared — watermark-driven state EXPIRY,
    the piece session_window() implements internally and this processor
    makes explicit. Buffering whole per-key histories is the
    bounded-lateness formulation (state ~ events inside one watermark
    horizon); an incremental-merge variant trades that for out-of-order
    merge logic, same API."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._handle = handle
        self._buf = handle.getListState("ts_buffer", _TS_BUFFER_SCHEMA)

    def handleInputRows(self, key, rows, timerValues):
        # Late-data guard: TWS does NOT filter input rows behind the
        # event-time watermark (verified empirically — a row 240 days
        # late still reaches the processor), so without this a straggler
        # would be buffered, its already-expired timer would fire on the
        # next batch, and a phantom single-event "session" would be
        # emitted for a time range the watermark sealed long ago. Drop
        # at the operator, the contract built-in stateful ops enforce.
        wm = timerValues.getCurrentWatermarkInMs()
        mx = None
        for pdf in rows:
            if len(pdf):
                ms = [
                    int(m)
                    for m in (pdf["ts"].astype("int64") // 1_000_000).tolist()
                    if m >= wm
                ]
                if not ms:
                    continue
                self._buf.appendList([(m,) for m in ms])
                m = max(ms)
                mx = m if mx is None else max(mx, m)
        if mx is not None:
            # One timer per batch at the newest event + gap. Earlier
            # batches' timers may still exist — when a stale one fires
            # first it closes every session the CURRENT watermark proves
            # finished (and the final timer sweeps the rest), so extra
            # timers cost duplicate no-op wakeups, never wrong output.
            self._handle.registerTimer(mx + SESSION_GAP_MS)
        return iter([])

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        times = sorted(t[0] for t in self._buf.get())
        if not times:
            return
        wm = timerValues.getCurrentWatermarkInMs()
        sessions = []
        start = prev = times[0]
        n = 1
        for t in times[1:]:
            if t - prev >= SESSION_GAP_MS:
                sessions.append((start, prev, n))
                start, n = t, 0
            prev = t
            n += 1
        sessions.append((start, prev, n))
        # Emit only sessions the watermark has sealed (no event can still
        # arrive within gap of their end); keep the rest buffered.
        closed = [s for s in sessions if s[1] + SESSION_GAP_MS <= wm]
        still_open = [s for s in sessions if s[1] + SESSION_GAP_MS > wm]
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])] * len(closed),
                    "session_start_epoch": [s // 1000 for s, _e, _n in closed],
                    "session_end_epoch": [e // 1000 for _s, e, _n in closed],
                    "n_events": [n for _s, _e, n in closed],
                }
            )
        if still_open:
            self._buf.clear()
            remaining = [
                (t,)
                for s, e, _n in still_open
                for t in times
                if s <= t <= e
            ]
            self._buf.appendList(remaining)
        else:
            self._buf.clear()

    def close(self) -> None:
        pass


def sessionize_tws(events: DataFrame, watermark_delay: str = "60 days") -> DataFrame:
    """Event-time session windows per user on transformWithStateInPandas
    (ListState + event-time timers). The generous default watermark delay
    makes the operator lossless for the test fixtures (no event is ever
    late); production picks the delay that bounds buffered state."""
    if not _HAS_TWS:  # pragma: no cover - older Spark
        raise NotImplementedError("transformWithStateInPandas requires Spark >= 4.0")
    return (
        events.select("user_id", "ts")
        .withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_SessionTimerProcessor(),
            outputStructType=SESSION_OUT_SCHEMA,
            outputMode="Append",
            timeMode="EventTime",
        )
    )


# --------------------------------------------------------------------------
# Online CUSUM drift detector (Page's sequential test) on the
# StatefulProcessor API — the STREAMING sibling of the batch
# cusum_daily_changepoint (plans/mleval.py): that one locates a level
# shift offline over the whole series; this one raises alarms as data
# arrives, the production drift-monitor loop.
# --------------------------------------------------------------------------

CUSUM_OUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_seen", LongType()),
        StructField("s_hi", LongType()),
        StructField("s_lo", LongType()),
        StructField("n_alarms", LongType()),
    ]
)

_CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("s_hi", LongType()),
        StructField("s_lo", LongType()),
        StructField("alarms", LongType()),
    ]
)

#: Values enter the detector as exact integer micro-units so the state
#: trajectory is engine- and replay-exact (no float accumulation).
CUSUM_MICRO = 1_000_000


class _OnlineCusumProcessor(StatefulProcessor):
    """Per-key two-sided CUSUM: S⁺ ← max(0, S⁺ + (v − μ₀ − k)),
    S⁻ ← max(0, S⁻ + (μ₀ − k − v)); alarm and restart when either side
    crosses h (Page's test with the standard post-alarm reset). All
    arithmetic is exact integers in micro-units, so a Python replay of
    the same value sequence reproduces the state trajectory bit-for-bit.

    Ordering contract: a sequential detector is order-DEFINED, not just
    order-sensitive — rows are sorted by (ts, event_id) within each
    micro-batch, and cross-batch order is the source's arrival order
    (the real-time contract a monitor runs under). State is four ints
    per key regardless of stream length."""

    def __init__(self, mu0_micro: int, slack_micro: int, h_micro: int):
        self._mu0 = mu0_micro
        self._k = slack_micro
        self._h = h_micro

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._state = handle.getValueState("cusum", _CUSUM_STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues):
        n, s_hi, s_lo, alarms = (
            self._state.get() if self._state.exists() else (0, 0, 0, 0)
        )
        frames = [pdf for pdf in rows if len(pdf)]
        if frames:
            pdf = pd.concat(frames).sort_values(["ts", "event_id"])
            for v in pdf["value"].tolist():
                vi = int(round(float(v) * CUSUM_MICRO))
                s_hi = max(0, s_hi + vi - self._mu0 - self._k)
                s_lo = max(0, s_lo + self._mu0 - self._k - vi)
                n += 1
                if s_hi > self._h or s_lo > self._h:
                    alarms += 1
                    s_hi = s_lo = 0
        self._state.update((n, s_hi, s_lo, alarms))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_seen": [n],
                "s_hi": [s_hi],
                "s_lo": [s_lo],
                "n_alarms": [alarms],
            }
        )

    def close(self) -> None:
        pass


def online_cusum_tws(
    events: DataFrame, mu0: float, slack: float, threshold: float
) -> DataFrame:
    """Streaming per-event_type CUSUM drift alarms over the ``value``
    column. ``mu0`` is the in-control mean, ``slack`` the allowance k
    (half the smallest shift worth detecting), ``threshold`` the alarm
    level h — all converted once to exact integer micro-units.

    100 TB story: state is four integers per key (compare the batch
    sibling's bounded day-rollup); each micro-batch does one in-memory
    sort of its own rows per key. The detector never buffers history, so
    a month-long stream costs the same state as a minute-long one."""
    if not _HAS_TWS:  # pragma: no cover - older Spark
        raise NotImplementedError("transformWithStateInPandas requires Spark >= 4.0")
    return events.groupBy("event_type").transformWithStateInPandas(
        statefulProcessor=_OnlineCusumProcessor(
            int(round(mu0 * CUSUM_MICRO)),
            int(round(slack * CUSUM_MICRO)),
            int(round(threshold * CUSUM_MICRO)),
        ),
        outputStructType=CUSUM_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
