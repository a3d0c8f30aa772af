"""Structured Streaming twins of the event operators (SURVEY.md §2.D).

Each twin applies the SAME column logic as the batch operator in
``operators/eventops.py`` on a ``readStream`` source, with watermarks
bounding state. The batch operator is the correctness oracle: a
Trigger.AvailableNow run over a static directory must produce the batch
result (asserted in tests/test_streaming.py).

State-bounding choices for 100 TB streams:
- window agg: 2h watermark on 1h tumbling windows → ≤3 open windows
  per key in the store at any time.
- dedup: dropDuplicatesWithinWatermark keys only live inside the
  watermark horizon.
- sessionize: custom stateful operator with event-time timers; state
  per user is O(1) (open session bounds only).

Custom-stateful API choice: ``transformWithStateInPandas`` (the
Spark-4 arbitrary-state API — typed state variables, timers, RocksDB
column families) is the DEFAULT path for every custom stateful twin
(sessionize, rate limit, scd2 attribution, running totals). The
deprecated-lineage ``applyInPandasWithState`` forms are kept behind
``impl="legacy"`` (or ``SPARK_GRAFT_STATEFUL_IMPL=legacy``) for hosts
whose Python workers lack a protobuf runtime — which the dispatcher
sniffs automatically, so the public names work everywhere.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from oil_wells_data_wrangling_spark.functions.exact import dsum
from oil_wells_data_wrangling_spark.sources.readers import normalize_event_ts


def half_up_cents(values) -> "Any":
    """Vectorized HALF_UP cents matching Spark's ``round(v * 100.0)``
    exactly on every double. NOT ``floor(|x|+0.5)``: adding 0.5 can
    carry a value just below a .5 boundary over it
    (0.49999999999999994 + 0.5 == 1.0 in fp, but Spark rounds it to
    0). ``|x| - floor(|x|)`` is EXACT for doubles (Sterbenz for
    |x|>=1, trivial below), so comparing that fraction against 0.5
    reproduces BigDecimal HALF_UP: shortest-repr (what
    BigDecimal.valueOf sees) and the exact binary value can never
    straddle a representable k+0.5 boundary, because any double other
    than the boundary itself is at least one ulp away while its repr
    round-trips within half an ulp."""
    import numpy as np

    x = np.asarray(values, dtype="float64") * 100.0
    ax = np.abs(x)
    fl = np.floor(ax)
    return (np.sign(x) * (fl + (ax - fl >= 0.5))).astype("int64")


def read_event_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream over an events parquet directory, ``ts``
    normalized by the SAME ``normalize_event_ts`` as the batch reader.

    File-source streams require an explicit schema; we take it from a
    static footer read of the directory (one driver-side metadata read —
    no data scan), so whatever encoding is on disk (legacy int64-nanos or
    current ``timestamp[us]``/NTZ) flows into the shared normalizer
    instead of a hard-coded raw schema."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    raw_schema = spark.read.parquet(source_dir).schema
    raw = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    return normalize_event_ts(raw)


def stream_window_agg(events: DataFrame) -> DataFrame:
    """Streaming twin of events_window_agg: watermark + tumbling window."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 6).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_dedup(events: DataFrame) -> DataFrame:
    """Streaming twin of events_dedup: exactly-once collapse of
    at-least-once delivery, state bounded by the watermark."""
    return events.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_attribution(events: DataFrame) -> DataFrame:
    """Stream-stream interval self-join: attribute each purchase to the
    same user's clicks in the preceding 30 minutes — the canonical
    attribution join. Both sides carry watermarks and the join has an
    event-time range constraint, so Spark can expire join state: a
    click is held at most watermark + 30 minutes, never forever."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND purchase_ts > click_ts "
            "AND purchase_ts <= click_ts + interval 30 minutes"
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "value",
    )


def stream_enrich(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static join; the static dimension broadcasts per micro-batch
    (the hint presumes the dim fits executor memory — drop it for
    dimensions that outgrow broadcast size; see events_enrich)."""
    dim = customer.select("c_custkey", "c_mktsegment")
    return events.join(
        F.broadcast(dim), F.col("user_id") == F.col("c_custkey"), "left"
    ).select("event_id", "user_id", "c_mktsegment")


_SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)
_SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
    ]
)

_GAP_US = 1_800_000_000  # 30 minutes


def _session_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Custom stateful sessionizer: emits a session row whenever a >30min
    gap (or event-time timeout) closes it. State = open session bounds."""
    (user_id,) = key
    if state.hasTimedOut:
        start_us, last_us, n = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "session_start": [pd.Timestamp(start_us, unit="us")],
                "session_end": [pd.Timestamp(last_us, unit="us")],
                "n_events": [n],
            }
        )
        return

    ts_us: list[int] = []
    for pdf in pdfs:
        ts_us.extend(int(v.value // 1000) for v in pd.to_datetime(pdf["ts"]))
    ts_us.sort()

    out = []
    if state.exists:
        start_us, last_us, n = state.get
    else:
        start_us, last_us, n = None, None, 0

    for us in ts_us:
        if start_us is None:
            start_us, last_us, n = us, us, 1
        elif us - last_us > _GAP_US:
            out.append((start_us, last_us, n))
            start_us, last_us, n = us, us, 1
        else:
            # max(): a late-but-in-allowance event from a later
            # microbatch (us < last_us) extends the open session's
            # count but must never move session_end (and therefore the
            # idle timer) backwards.
            last_us, n = max(last_us, us), n + 1

    state.update((start_us, last_us, n))
    state.setTimeoutTimestamp(last_us // 1000 + _GAP_US // 1000)
    if out:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out),
                "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in out],
                "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in out],
                "n_events": [n for _, _, n in out],
            }
        )


# ------------------------------------------------ stateful-impl dispatch

_STATEFUL_IMPL_ENV = "SPARK_GRAFT_STATEFUL_IMPL"
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def _pick_stateful_impl(impl: str | None) -> str:
    """Resolve which custom-stateful API a public twin should build on:
    explicit argument, then $SPARK_GRAFT_STATEFUL_IMPL, then 'tws' when
    the driver can import protobuf (the TWS worker protocol needs it on
    workers too — ``compat.ensure_protobuf`` run before the session
    starts covers both), else 'legacy'."""
    if impl is None:
        impl = os.environ.get(_STATEFUL_IMPL_ENV) or None
    if impl is not None:
        if impl not in ("tws", "legacy"):
            raise ValueError(f"impl must be 'tws' or 'legacy', got {impl!r}")
        return impl
    try:
        import google.protobuf  # noqa: F401

        return "tws"
    except ImportError:
        return "legacy"


def _require_rocksdb(events: DataFrame) -> None:
    """transformWithState needs per-state-variable column families,
    which only the RocksDB provider supports — select it for the
    session unless a RocksDB provider is already configured. (Session
    conf is read at query START, so setting it at plan-build time is
    effective; the HDFS-backed default provider cannot run TWS at
    all, so this is a requirement, not a tuning preference.)"""
    spark = events.sparkSession
    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        current = spark.conf.get(key)
    except Exception:
        current = None
    if not current or "RocksDB" not in current:
        spark.conf.set(key, _ROCKSDB_PROVIDER)


def stream_sessionize_legacy(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """applyInPandasWithState form of the sessionizer: per-user
    open-session state, event-time timeout closes idle sessions. Kept
    for hosts without a worker protobuf runtime; same emission contract
    as ``stream_sessionize_tws``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=_SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_sessionize(
    events: DataFrame, watermark: str = "2 hours", impl: str | None = None
) -> DataFrame:
    """Streaming twin of events_sessionize — per-user open-session
    state, idle sessions closed by event-time timers. Builds on
    ``transformWithStateInPandas`` by default (RocksDB provider is
    selected automatically); pass ``impl='legacy'`` or set
    ``SPARK_GRAFT_STATEFUL_IMPL=legacy`` for the
    applyInPandasWithState form."""
    if _pick_stateful_impl(impl) == "tws":
        _require_rocksdb(events)
        return stream_sessionize_tws(events, watermark)
    return stream_sessionize_legacy(events, watermark)


# ---------------------------------------------------- transformWithState twin

class _RunningTotals:
    """StatefulProcessor: per-user running event count + exact value sum.

    Value state is (n, scaled-int64 sum) — the same scaled-int
    determinism contract as functions/exact.dsum, so totals are
    bit-identical to the batch aggregate regardless of micro-batch
    boundaries. Emits the updated totals each time the key appears; the
    latest emission (max n) is the final answer."""

    def init(self, handle) -> None:
        from pyspark.sql.types import LongType, StructField, StructType

        schema = StructType(
            [StructField("n", LongType()), StructField("sv", LongType())]
        )
        self._state = handle.getValueState("totals", schema)

    def handleInputRows(self, key, rows, timerValues):
        import numpy as np
        import pandas as pd

        n, sv = (self._state.get() or (0, 0)) if self._state.exists() else (0, 0)
        for pdf in rows:
            n += len(pdf)
            # HALF_UP (away from zero), matching Spark's ROUND and the
            # batch twin's dsum contract — pandas/numpy round() is
            # half-to-even and would diverge on exact .5 values, and
            # floor(|v|+0.5) would carry values just below a .5
            # boundary over it (see half_up_cents)
            sv += int(
                half_up_cents(pdf["value"].astype("float64").to_numpy()).sum()
            )
        self._state.update((n, sv))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sv": [sv]}
        )

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        return iter(())

    def close(self) -> None:
        pass


def stream_running_totals(events: DataFrame) -> DataFrame:
    """Streaming per-user running totals via transformWithStateInPandas
    (the Spark 4 arbitrary-state API: typed value state, timers, eviction
    — the successor to applyInPandasWithState). Update-mode emission of
    the running (count, scaled-int sum) per user; state is two int64s
    per key regardless of event volume.

    Runtime requirement: the operator's Python worker protocol needs
    ``protobuf``; in environments without it (this container) the twin
    is exercised only by its import-gated test — the same
    optional-dependency contract as the OCR/PDF/PIL paths."""
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("sv", LongType()),
        ]
    )
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_RunningTotals(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )


class _SessionizerTWS:
    """StatefulProcessor twin of ``_session_fn`` on the Spark-4
    arbitrary-state API, exercising its EVENT-TIME TIMERS: sessions
    close either when a successor event arrives past the 30-min gap
    (emitted from ``handleInputRows``) or when the watermark passes
    last_event + gap with no successor (``handleExpiredTimer`` fires,
    emits the open session, clears state). One value-state tuple and at
    most one registered timer per user — state is three int64s per key
    regardless of event volume, and the timer bookkeeping (delete old,
    register new) keeps the per-key timer count at one, so the state
    store never accumulates stale timers."""

    def init(self, handle) -> None:
        from pyspark.sql.types import LongType, StructField, StructType

        self._handle = handle
        schema = StructType(
            [
                StructField("start_us", LongType()),
                StructField("last_us", LongType()),
                StructField("n", LongType()),
                StructField("timer_ms", LongType()),
            ]
        )
        self._state = handle.getValueState("open_session", schema)

    @staticmethod
    def _row(user_id, start_us: int, last_us: int, n: int) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [user_id],
                "session_start": [pd.Timestamp(start_us, unit="us")],
                "session_end": [pd.Timestamp(last_us, unit="us")],
                "n_events": [n],
            }
        )

    def handleInputRows(self, key, rows, timerValues):
        (user_id,) = key
        ts_us: list[int] = []
        for pdf in rows:
            ts_us.extend(int(v.value // 1000) for v in pd.to_datetime(pdf["ts"]))
        if not ts_us:
            return
        ts_us.sort()

        if self._state.exists():
            start_us, last_us, n, timer_ms = self._state.get()
        else:
            start_us, last_us, n, timer_ms = None, None, 0, None

        for us in ts_us:
            if start_us is None:
                start_us, last_us, n = us, us, 1
            elif us - last_us > _GAP_US:
                yield self._row(user_id, start_us, last_us, n)
                start_us, last_us, n = us, us, 1
            else:
                # max(): see _session_fn — cross-microbatch events that
                # are late but inside the watermark allowance must not
                # shrink the session or regress its idle timer.
                last_us, n = max(last_us, us), n + 1

        new_timer_ms = last_us // 1000 + _GAP_US // 1000
        if timer_ms is not None and timer_ms != new_timer_ms:
            self._handle.deleteTimer(timer_ms)
        if timer_ms != new_timer_ms:
            self._handle.registerTimer(new_timer_ms)
        self._state.update((start_us, last_us, n, new_timer_ms))

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        (user_id,) = key
        if self._state.exists():
            start_us, last_us, n, _timer_ms = self._state.get()
            self._state.clear()
            yield self._row(user_id, start_us, last_us, n)

    def close(self) -> None:
        pass


def stream_sessionize_tws(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming sessionization on ``transformWithStateInPandas`` —
    the same contract as ``stream_sessionize`` (append-mode emission of
    closed sessions, event-time timeout for idle ones) on the
    forward-compat state API. Needs the RocksDB state store provider
    (per-variable column families) and a protobuf runtime
    (``compat.ensure_protobuf``).

    ``watermark`` is the late-data allowance; a session's idle timer
    fires only once the watermark passes last_event + gap, so a delay
    much larger than the 30-min gap means timer closures lag by that
    delay. An in-allowance event that would extend the session always
    beats the timer (the watermark trails it by this same allowance),
    and out-of-order arrivals within the allowance only ever extend the
    open session (``last_us = max(...)``) — they can add to the count
    but never shrink the session or pull its timer earlier."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_SessionizerTWS(),
            outputStructType=_SESSION_OUT_SCHEMA,
            outputMode="Append",
            timeMode="EventTime",
        )
    )


def stream_events_window_counts(events: DataFrame) -> DataFrame:
    """Streaming half of the events_topk twin: watermark + tumbling
    (window, event_type) counts — the stateful part Structured
    Streaming runs incrementally. Rank windows aren't supported on an
    unterminated stream, so the per-window top-k finish is applied to
    each complete-mode emission via ``rank_topk`` (identical expression
    to the batch operator's rank stage)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events"
        )
    )


def rank_topk(counts: DataFrame, k: int = 3) -> DataFrame:
    """Per-window rank<=k finish shared by the streaming twin's sink
    side and equal to operators/eventops.py::events_topk's rank stage."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("window_start", "rank", "event_type", "n_events")
    )


# ------------------------------------------------------- rate-limit throttle

_THROTTLE_N = 3  # matches operators/eventops.py::events_rate_limit

_THROTTLE_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("minute", TimestampType()),
        StructField("event_id", LongType()),
        StructField("kept", BooleanType()),
    ]
)
_THROTTLE_STATE_SCHEMA = StructType([StructField("n_seen", LongType())])


def _throttle_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """First-N-per-(user,minute) throttle: state is ONE counter per key.

    On event-time timeout (watermark passed the minute) the counter is
    dropped — the store never holds more than the watermark horizon's
    worth of (user, minute) keys."""
    user_id, minute = key
    if state.hasTimedOut:
        state.remove()
        return

    n_seen = state.get[0] if state.exists else 0
    ids: list[tuple[int, int]] = []
    for pdf in pdfs:
        sub = pdf.sort_values(["ts", "event_id"])
        ids.extend((int(e), int(pd.to_datetime(t).value)) for e, t in
                   zip(sub["event_id"], sub["ts"]))
    kept = []
    for eid, _ in ids:
        n_seen += 1
        kept.append(n_seen <= _THROTTLE_N)
    state.update((n_seen,))
    # purge the counter two minutes after this minute's close
    state.setTimeoutTimestamp(
        int(pd.Timestamp(minute).value // 1_000_000) + 120_000
    )
    if ids:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(ids),
                "minute": [minute] * len(ids),
                "event_id": [eid for eid, _ in ids],
                "kept": kept,
            }
        )


def stream_rate_limit_legacy(events: DataFrame) -> DataFrame:
    """applyInPandasWithState form of the rate limiter: per-(user,
    minute) counter state with event-time purge. Per-event keep
    decisions depend on arrival order inside a minute (the batch twin
    re-ranks by (ts, event_id)), but the per-key KEPT COUNT —
    min(n, N) — is arrival-order invariant, which is what the equality
    test asserts after rolling the stream output up to users."""
    return (
        events.withWatermark("ts", "2 hours")
        .withColumn("minute", F.date_trunc("minute", F.col("ts")))
        .groupBy("user_id", "minute")
        .applyInPandasWithState(
            _throttle_fn,
            outputStructType=_THROTTLE_OUT_SCHEMA,
            stateStructType=_THROTTLE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


class _ThrottleTWS:
    """transformWithState twin of ``_throttle_fn``: one int64 counter
    per (user, minute) key, EVICTED by an event-time timer two minutes
    after the minute closes — the timer surface doing what
    ``setTimeoutTimestamp`` does on the applyInPandasWithState path,
    so the store never holds more than the watermark horizon's worth
    of keys. Expiry emits nothing (eviction is bookkeeping, not
    output), which is the other half of the timer contract the
    sessionizer twin doesn't cover."""

    def init(self, handle) -> None:
        from pyspark.sql.types import LongType, StructField, StructType

        self._handle = handle
        self._state = handle.getValueState(
            "n_seen", StructType([StructField("n_seen", LongType())])
        )

    def handleInputRows(self, key, rows, timerValues):
        user_id, minute = key
        n_seen = self._state.get()[0] if self._state.exists() else 0
        ids: list[int] = []
        for pdf in rows:
            sub = pdf.sort_values(["ts", "event_id"])
            ids.extend(int(e) for e in sub["event_id"])
        kept = []
        for _ in ids:
            n_seen += 1
            kept.append(n_seen <= _THROTTLE_N)
        self._state.update((n_seen,))
        expiry = int(pd.Timestamp(minute).value // 1_000_000) + 120_000
        if expiry not in set(self._handle.listTimers()):
            self._handle.registerTimer(expiry)
        if ids:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(ids),
                    "minute": [minute] * len(ids),
                    "event_id": ids,
                    "kept": kept,
                }
            )

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        self._state.clear()
        return iter(())

    def close(self) -> None:
        pass


def stream_rate_limit_tws(events: DataFrame) -> DataFrame:
    """Streaming rate limiter on ``transformWithStateInPandas`` — the
    same per-(user, minute) first-N contract as the legacy form, with
    state eviction driven by event-time timers instead of
    ``GroupStateTimeout``. Needs the RocksDB provider and a protobuf
    runtime (``compat.ensure_protobuf``)."""
    return (
        events.withWatermark("ts", "2 hours")
        .withColumn("minute", F.date_trunc("minute", F.col("ts")))
        .groupBy("user_id", "minute")
        .transformWithStateInPandas(
            statefulProcessor=_ThrottleTWS(),
            outputStructType=_THROTTLE_OUT_SCHEMA,
            outputMode="Append",
            timeMode="EventTime",
        )
    )


def stream_rate_limit(events: DataFrame, impl: str | None = None) -> DataFrame:
    """Streaming twin of events_rate_limit: first-N-per-(user, minute)
    keep/drop decisions with timer-evicted counter state. TWS by
    default; ``impl='legacy'`` for the applyInPandasWithState form."""
    if _pick_stateful_impl(impl) == "tws":
        _require_rocksdb(events)
        return stream_rate_limit_tws(events)
    return stream_rate_limit_legacy(events)


# ------------------------------------------------------- scd2 attribution

_SCD2_ATTR_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("status", StringType()),
        StructField("value", DoubleType()),
    ]
)
_SCD2_ATTR_STATE_SCHEMA = StructType([StructField("status", StringType())])


def _scd2_attr_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Running-status attribution: state is the user's CURRENT status —
    one short string per user, the live form of the SCD2 'is_current'
    row. Rows are processed in (ts, event_id) order within the batch;
    a purchase emits the status in force at that point, any other
    event updates it."""
    (user_id,) = key
    status = state.get[0] if state.exists else None
    out_ids: list[int] = []
    out_status: list[str] = []
    out_value: list[float] = []
    for pdf in pdfs:
        for row in pdf.sort_values(["ts", "event_id"]).itertuples():
            if row.event_type == "purchase":
                out_ids.append(int(row.event_id))
                out_status.append(status if status is not None else "none")
                # None -> NaN keeps the batch twin's null-skip contract
                # (dsum drops non-finite addends) instead of raising
                out_value.append(
                    float(row.value) if row.value is not None else float("nan")
                )
            else:
                status = row.event_type
    if status is not None:
        state.update((status,))
    if out_ids:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out_ids),
                "event_id": out_ids,
                "status": out_status,
                "value": out_value,
            }
        )


def stream_scd2_attribution_legacy(events: DataFrame) -> DataFrame:
    """applyInPandasWithState form of the running-status attributor —
    same state (one short string per user) and emission contract as
    ``stream_scd2_attribution_tws``."""
    return events.groupBy("user_id").applyInPandasWithState(
        _scd2_attr_fn,
        outputStructType=_SCD2_ATTR_OUT_SCHEMA,
        stateStructType=_SCD2_ATTR_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


class _Scd2AttrTWS:
    """StatefulProcessor twin of ``_scd2_attr_fn``: value state is the
    user's CURRENT status string (the live form of the SCD2
    'is_current' row); purchases emit the status in force at that
    point, any other event updates it. Rows are processed in
    (ts, event_id) order within the batch, matching the legacy form.

    No timers: the state IS the live dimension (bounded by |users|,
    ~bytes each) — expiring it would mis-attribute a returning user's
    purchases to 'none' where the batch operator, and the business
    meaning, keep the last known status."""

    def init(self, handle) -> None:
        from pyspark.sql.types import StringType, StructField, StructType

        self._state = handle.getValueState(
            "status", StructType([StructField("status", StringType())])
        )

    def handleInputRows(self, key, rows, timerValues):
        (user_id,) = key
        status = self._state.get()[0] if self._state.exists() else None
        out_ids: list[int] = []
        out_status: list[str] = []
        out_value: list[float] = []
        for pdf in rows:
            for row in pdf.sort_values(["ts", "event_id"]).itertuples():
                if row.event_type == "purchase":
                    out_ids.append(int(row.event_id))
                    out_status.append(status if status is not None else "none")
                    # None -> NaN keeps the batch twin's null-skip
                    # contract (dsum drops non-finite addends)
                    out_value.append(
                        float(row.value)
                        if row.value is not None
                        else float("nan")
                    )
                else:
                    status = row.event_type
        if status is not None:
            self._state.update((status,))
        if out_ids:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out_ids),
                    "event_id": out_ids,
                    "status": out_status,
                    "value": out_value,
                }
            )

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        return iter(())

    def close(self) -> None:
        pass


def stream_scd2_attribution_tws(events: DataFrame) -> DataFrame:
    """Running-status attribution on ``transformWithStateInPandas``.
    Needs the RocksDB provider and a protobuf runtime
    (``compat.ensure_protobuf``)."""
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_Scd2AttrTWS(),
        outputStructType=_SCD2_ATTR_OUT_SCHEMA,
        outputMode="Append",
        timeMode="None",
    )


def stream_scd2_attribution(
    events: DataFrame, impl: str | None = None
) -> DataFrame:
    """Streaming twin of the batch ``scd2_attribution`` operator: the
    state store holds each user's current status (ONE row per user —
    exactly the state a feature store keeps for point-in-time-correct
    serving), and purchases are attributed on arrival. With a
    time-ordered feed the per-purchase output equals the batch
    operator's running-window attribution row for row; the equality
    test rolls both up per (status). At 100 TB of *events* the state
    is still only per-user, the same cardinality every stateful-user
    operator here carries. TWS by default; ``impl='legacy'`` for the
    applyInPandasWithState form."""
    if _pick_stateful_impl(impl) == "tws":
        _require_rocksdb(events)
        return stream_scd2_attribution_tws(events)
    return stream_scd2_attribution_legacy(events)


# ------------------------------------------------------ windowed top-k (TWS)

class _TopKTWS:
    """Per-window top-k with FINAL emission — the transformWithState
    answer to complete-mode re-ranking: state is the (event_type →
    count) MAP for each open window (cardinality = event types, not
    events), an event-time timer registered at the window's close +
    the watermark allowance fires exactly once, emits the ranked
    top-k rows for that window, and clears the map. Downstream sinks
    receive each window's result ONCE, final — no retraction handling,
    no unbounded complete-mode state."""

    def __init__(self, fire_after_close_ms: int = 2 * 3600 * 1000) -> None:
        self._fire_after_close_ms = fire_after_close_ms

    def init(self, handle) -> None:
        self._handle = handle
        self._counts = handle.getMapState(
            "counts", "event_type string", "n bigint"
        )
        self._timer = handle.getValueState("timer", "t bigint")

    def handleInputRows(self, key, rows, timerValues):
        for pdf in rows:
            for et, n in pdf["event_type"].value_counts().items():
                cur = (
                    self._counts.getValue((et,))[0]
                    if self._counts.containsKey((et,))
                    else 0
                )
                self._counts.updateValue((et,), (cur + int(n),))
        if not self._timer.exists():
            # window close (start + 1h) + the configured allowance, epoch ms
            (window_start,) = key
            close_ms = int(pd.Timestamp(window_start).value // 1_000_000)
            fire_ms = close_ms + 3600 * 1000 + self._fire_after_close_ms
            self._handle.registerTimer(fire_ms)
            self._timer.update((fire_ms,))
        return iter(())

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        (window_start,) = key
        pairs = sorted(
            ((k[0], self._counts.getValue(k)[0]) for k in self._counts.keys()),
            key=lambda p: (-p[1], p[0]),
        )[:_STREAM_TOPK_K]
        self._counts.clear()
        self._timer.clear()
        if pairs:
            yield pd.DataFrame(
                {
                    "window_start": [window_start] * len(pairs),
                    "rank": list(range(1, len(pairs) + 1)),
                    "event_type": [p[0] for p in pairs],
                    "n_events": [p[1] for p in pairs],
                }
            )

    def close(self) -> None:
        pass


_STREAM_TOPK_K = 3  # matches operators/eventops.py::_TOPK_K

_TOPK_OUT_SCHEMA = StructType(
    [
        StructField("window_start", TimestampType()),
        StructField("rank", IntegerType()),
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
    ]
)


def stream_topk_tws(
    events: DataFrame,
    watermark: str = "2 hours",
    fire_after_close_ms: int = 2 * 3600 * 1000,
) -> DataFrame:
    """Streaming per-hour top-k event types with FINAL once-per-window
    emission via transformWithStateInPandas (RocksDB provider
    required): ``stream_events_window_counts`` + ``rank_topk`` re-rank
    every emission in complete mode; this twin instead holds one
    (type → count) map per OPEN window and lets the window's timer
    publish the sealed ranking exactly once. State is bounded by
    (open windows × event types); events stream through without
    accumulating."""
    _require_rocksdb(events)
    keyed = (
        events.withWatermark("ts", watermark)
        .select(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .groupBy("window_start")
    )
    return keyed.transformWithStateInPandas(
        statefulProcessor=_TopKTWS(fire_after_close_ms),
        outputStructType=_TOPK_OUT_SCHEMA,
        outputMode="Append",
        timeMode="EventTime",
    )


# ------------------------------------------------- windowed CMS sketch (TWS)

class _CmsTWS:
    """Per-hour Count-Min sketch with FINAL emission: state is the
    sparse (d, bucket) → count MAP for each open window (≤ depth×width
    cells regardless of event volume — the fixed-size-summary property
    that makes the sketch the right streaming aggregate for unbounded
    key domains), an event-time timer seals the window once and
    publishes its cells. Downstream stores one sealed sketch per hour
    and answers heavy-hitter queries by cell-wise min/merge — the
    streaming half of the batch ``events_cms_topk`` operator, same
    md5-derived hash rows, so sealed cells are bit-equal to a batch
    build over the same hour."""

    def __init__(self, fire_after_close_ms: int = 2 * 3600 * 1000) -> None:
        self._fire_after_close_ms = fire_after_close_ms

    def init(self, handle) -> None:
        self._handle = handle
        self._cells = handle.getMapState(
            "cells", "d int, bucket bigint", "n bigint"
        )
        self._timer = handle.getValueState("timer", "t bigint")

    @staticmethod
    def _bucket(d: int, user_id: int) -> int:
        import hashlib

        h = hashlib.md5(f"cms{d}_{user_id}".encode()).hexdigest()
        return int(h[:8], 16) % _STREAM_CMS_W

    def handleInputRows(self, key, rows, timerValues):
        for pdf in rows:
            for d in range(_STREAM_CMS_D):
                buckets = pdf["user_id"].map(
                    lambda u, _d=d: self._bucket(_d, int(u))
                )
                for b, n in buckets.value_counts().items():
                    mk = (d, int(b))
                    cur = (
                        self._cells.getValue(mk)[0]
                        if self._cells.containsKey(mk)
                        else 0
                    )
                    self._cells.updateValue(mk, (cur + int(n),))
        if not self._timer.exists():
            (window_start,) = key
            close_ms = int(pd.Timestamp(window_start).value // 1_000_000)
            fire_ms = close_ms + 3600 * 1000 + self._fire_after_close_ms
            self._handle.registerTimer(fire_ms)
            self._timer.update((fire_ms,))
        return iter(())

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        (window_start,) = key
        cells = sorted(
            ((k[0], k[1], self._cells.getValue(k)[0]) for k in self._cells.keys())
        )
        self._cells.clear()
        self._timer.clear()
        if cells:
            yield pd.DataFrame(
                {
                    "window_start": [window_start] * len(cells),
                    "d": [c[0] for c in cells],
                    "bucket": [c[1] for c in cells],
                    "n": [c[2] for c in cells],
                }
            )

    def close(self) -> None:
        pass


# match operators/eventops.py::_CMS_D/_CMS_W so sealed streaming cells
# are bit-equal to a batch sketch over the same hour
_STREAM_CMS_D = 4
_STREAM_CMS_W = 1024

_CMS_OUT_SCHEMA = StructType(
    [
        StructField("window_start", TimestampType()),
        StructField("d", IntegerType()),
        StructField("bucket", LongType()),
        StructField("n", LongType()),
    ]
)


def stream_cms_tws(
    events: DataFrame,
    watermark: str = "2 hours",
    fire_after_close_ms: int = 2 * 3600 * 1000,
) -> DataFrame:
    """Streaming per-hour Count-Min sketch, sealed and published once
    per window via transformWithStateInPandas (RocksDB provider
    required). The emitted (window_start, d, bucket, n) rows ARE the
    mergeable sketch: cell-wise sum unions hours into days, min over
    the d rows answers point queries — the streaming counterpart of
    ``events_cms_topk``'s batch build and ``hll_persist_incremental``'s
    persisted-aggregate pattern. State per open window is bounded by
    the sketch dimensions (≤ 4×1024 cells), never by event volume."""
    _require_rocksdb(events)
    keyed = (
        events.withWatermark("ts", watermark)
        .select(
            F.date_trunc("hour", "ts").alias("window_start"), "user_id"
        )
        .groupBy("window_start")
    )
    return keyed.transformWithStateInPandas(
        statefulProcessor=_CmsTWS(fire_after_close_ms),
        outputStructType=_CMS_OUT_SCHEMA,
        outputMode="Append",
        timeMode="EventTime",
    )


# -------------------------------------------- windowed HLL registers (TWS)

class _HllTWS:
    """Per-hour HyperLogLog registers with FINAL emission: state is the
    sparse bucket → max-rho MAP for each open window (≤ 256 registers
    at ANY event volume), sealed once by the window's event-time timer.
    Emitted rows are the same (bucket, r) registers the batch
    ``hll_register_sketch`` computes — bit-equal, because rho is pure
    integer arithmetic on the same md5-derived hash — so hours merge
    downstream by per-bucket MAX exactly as the batch docstring
    promises."""

    def __init__(self, fire_after_close_ms: int = 2 * 3600 * 1000) -> None:
        self._fire_after_close_ms = fire_after_close_ms

    def init(self, handle) -> None:
        self._handle = handle
        self._regs = handle.getMapState("regs", "bucket bigint", "r bigint")
        self._timer = handle.getValueState("timer", "t bigint")

    @staticmethod
    def _bucket_rho(user_id: int) -> tuple[int, int]:
        import hashlib

        h32 = int(
            hashlib.md5(f"hll_{user_id}".encode()).hexdigest()[:8], 16
        )
        bucket, sfx = h32 >> _STREAM_HLL_SUFFIX_BITS, h32 & (
            (1 << _STREAM_HLL_SUFFIX_BITS) - 1
        )
        rho = (
            _STREAM_HLL_SUFFIX_BITS + 1
            if sfx == 0
            else _STREAM_HLL_SUFFIX_BITS - (sfx.bit_length() - 1)
        )
        return bucket, rho

    def handleInputRows(self, key, rows, timerValues):
        for pdf in rows:
            for u in pdf["user_id"]:
                bucket, rho = self._bucket_rho(int(u))
                mk = (bucket,)
                cur = (
                    self._regs.getValue(mk)[0]
                    if self._regs.containsKey(mk)
                    else 0
                )
                if rho > cur:
                    self._regs.updateValue(mk, (rho,))
        if not self._timer.exists():
            (window_start,) = key
            close_ms = int(pd.Timestamp(window_start).value // 1_000_000)
            fire_ms = close_ms + 3600 * 1000 + self._fire_after_close_ms
            self._handle.registerTimer(fire_ms)
            self._timer.update((fire_ms,))
        return iter(())

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        (window_start,) = key
        regs = sorted(
            (k[0], self._regs.getValue(k)[0]) for k in self._regs.keys()
        )
        self._regs.clear()
        self._timer.clear()
        if regs:
            yield pd.DataFrame(
                {
                    "window_start": [window_start] * len(regs),
                    "bucket": [g[0] for g in regs],
                    "r": [g[1] for g in regs],
                }
            )

    def close(self) -> None:
        pass


# match operators/eventops.py::hll_register_sketch exactly
_STREAM_HLL_SUFFIX_BITS = 24

_HLL_OUT_SCHEMA = StructType(
    [
        StructField("window_start", TimestampType()),
        StructField("bucket", LongType()),
        StructField("r", LongType()),
    ]
)


def stream_hll_tws(
    events: DataFrame,
    watermark: str = "2 hours",
    fire_after_close_ms: int = 2 * 3600 * 1000,
) -> DataFrame:
    """Streaming per-hour HLL registers, sealed and published once per
    window via transformWithStateInPandas (RocksDB provider required) —
    the distinct-count member of the sealed-sketch family
    (stream_cms_tws is the counting member). State per open window is
    ≤ 256 (bucket, rho) entries regardless of event volume; emitted
    registers are bit-equal to ``hll_register_sketch``'s batch rows for
    the same hour and merge downstream by per-bucket MAX."""
    _require_rocksdb(events)
    keyed = (
        events.withWatermark("ts", watermark)
        .select(
            F.date_trunc("hour", "ts").alias("window_start"), "user_id"
        )
        .groupBy("window_start")
    )
    return keyed.transformWithStateInPandas(
        statefulProcessor=_HllTWS(fire_after_close_ms),
        outputStructType=_HLL_OUT_SCHEMA,
        outputMode="Append",
        timeMode="EventTime",
    )


# ----------------------------------------- windowed log-histogram (TWS)

class _LogHistTWS:
    """Per-hour DDSketch-style log histogram with FINAL emission: state
    is the sparse bucket → (count, min_cents, max_cents) MAP for each
    open window (≤ ~100 buckets at any event volume), sealed once by
    the window's event-time timer. Sealed cells are bit-equal to the
    batch ``log_histogram_sketch`` rows for the same hour — same
    integer cents, same signed floor-log2 bucket — completing the
    sealed-sketch family: counting (stream_cms_tws), distinct
    (stream_hll_tws), quantile (this)."""

    def __init__(self, fire_after_close_ms: int = 2 * 3600 * 1000) -> None:
        self._fire_after_close_ms = fire_after_close_ms

    def init(self, handle) -> None:
        self._handle = handle
        self._cells = handle.getMapState(
            "cells", "bucket bigint", "n bigint, mn bigint, mx bigint"
        )
        self._timer = handle.getValueState("timer", "t bigint")

    @staticmethod
    def _bucket(cents: int) -> int:
        if cents == 0:
            return 0
        mag = cents if cents > 0 else -cents
        b = 1 + (mag.bit_length() - 1)
        return b if cents > 0 else -b

    def handleInputRows(self, key, rows, timerValues):
        import numpy as np

        for pdf in rows:
            # Spark's round() is HALF_UP (away from zero); pandas
            # .round() is banker's — half_up_cents reproduces
            # BigDecimal HALF_UP exactly (see its docstring for why
            # floor(|x|+0.5) would not)
            cents_arr = half_up_cents(pdf["value"].to_numpy(dtype="float64"))
            for c in cents_arr:
                c = int(c)
                mk = (self._bucket(c),)
                if self._cells.containsKey(mk):
                    n, mn, mx = self._cells.getValue(mk)
                    self._cells.updateValue(
                        mk, (n + 1, min(mn, c), max(mx, c))
                    )
                else:
                    self._cells.updateValue(mk, (1, c, c))
        if not self._timer.exists():
            (window_start,) = key
            close_ms = int(pd.Timestamp(window_start).value // 1_000_000)
            fire_ms = close_ms + 3600 * 1000 + self._fire_after_close_ms
            self._handle.registerTimer(fire_ms)
            self._timer.update((fire_ms,))
        return iter(())

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        (window_start,) = key
        cells = sorted(
            (k[0], *self._cells.getValue(k)) for k in self._cells.keys()
        )
        self._cells.clear()
        self._timer.clear()
        if cells:
            yield pd.DataFrame(
                {
                    "window_start": [window_start] * len(cells),
                    "bucket": [c[0] for c in cells],
                    "n": [c[1] for c in cells],
                    "min_cents": [c[2] for c in cells],
                    "max_cents": [c[3] for c in cells],
                }
            )

    def close(self) -> None:
        pass


_LOGH_OUT_SCHEMA = StructType(
    [
        StructField("window_start", TimestampType()),
        StructField("bucket", LongType()),
        StructField("n", LongType()),
        StructField("min_cents", LongType()),
        StructField("max_cents", LongType()),
    ]
)


def stream_log_histogram_tws(
    events: DataFrame,
    watermark: str = "2 hours",
    fire_after_close_ms: int = 2 * 3600 * 1000,
) -> DataFrame:
    """Streaming per-hour log-bucketed value histogram, sealed once per
    window via transformWithStateInPandas (RocksDB provider required).
    The third member of the sealed-sketch family; sealed cells merge
    downstream by (SUM n, MIN min, MAX max) per bucket and are
    test-proven bit-equal to the batch ``log_histogram_sketch``."""
    _require_rocksdb(events)
    keyed = (
        events.withWatermark("ts", watermark)
        .select(F.date_trunc("hour", "ts").alias("window_start"), "value")
        .groupBy("window_start")
    )
    return keyed.transformWithStateInPandas(
        statefulProcessor=_LogHistTWS(fire_after_close_ms),
        outputStructType=_LOGH_OUT_SCHEMA,
        outputMode="Append",
        timeMode="EventTime",
    )


# --------------------------------------------------------------- as-of stream

_ASOF_OUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("last_click_value", DoubleType()),
    ]
)
_ASOF_STATE_SCHEMA = StructType(
    [StructField("has_cv", LongType()), StructField("cv", DoubleType())]
)


def _asof_emit(
    pdfs: Iterator[pd.DataFrame],
    user_id,
    prior: float | None,
) -> tuple[pd.DataFrame, float | None]:
    """Shared core of both as-of impls: sort the batch's rows by
    (ts, event_id), forward-fill click values starting from the prior
    state, return (emission frame, new state)."""
    parts = [p for p in pdfs if len(p)]
    if not parts:
        return pd.DataFrame(), prior
    pdf = pd.concat(parts).sort_values(
        ["ts", "event_id"], kind="mergesort"
    )
    clicks = pdf["value"].where(pdf["event_type"] == "click")
    filled = clicks.ffill()
    if prior is not None:
        filled = filled.fillna(prior)
    last_clicks = clicks.dropna()
    new = float(last_clicks.iloc[-1]) if len(last_clicks) else prior
    out = pd.DataFrame(
        {
            "event_id": pdf["event_id"].to_numpy(),
            "user_id": user_id,
            "event_type": pdf["event_type"].to_numpy(),
            "last_click_value": filled.to_numpy(),
        }
    )
    return out, new


def _asof_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState as-of: state = the user's most recent
    click value (two scalars per key, independent of event volume)."""
    (user_id,) = key
    prior = None
    if state.exists:
        has_cv, cv = state.get
        prior = cv if has_cv else None
    out, new = _asof_emit(pdfs, user_id, prior)
    state.update((1 if new is not None else 0, new or 0.0))
    if len(out):
        yield out


class _AsofTWS:
    """StatefulProcessor twin of ``_asof_fn`` on the Spark-4
    arbitrary-state API — same two-scalar value state, same emission."""

    def init(self, handle) -> None:
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StructField,
            StructType,
        )

        self._state = handle.getValueState(
            "asof",
            StructType(
                [
                    StructField("has_cv", LongType()),
                    StructField("cv", DoubleType()),
                ]
            ),
        )

    def handleInputRows(self, key, rows, timerValues):
        prior = None
        if self._state.exists():
            has_cv, cv = self._state.get()
            prior = cv if has_cv else None
        out, new = _asof_emit(rows, key[0], prior)
        self._state.update((1 if new is not None else 0, new or 0.0))
        if len(out):
            yield out

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        return iter(())

    def close(self) -> None:
        pass


def stream_asof_legacy(events: DataFrame) -> DataFrame:
    return (
        events.select("user_id", "event_id", "ts", "event_type", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _asof_fn,
            outputStructType=_ASOF_OUT_SCHEMA,
            stateStructType=_ASOF_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_asof_tws(events: DataFrame) -> DataFrame:
    return (
        events.select("user_id", "event_id", "ts", "event_type", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_AsofTWS(),
            outputStructType=_ASOF_OUT_SCHEMA,
            outputMode="Append",
            timeMode="None",
        )
    )


def stream_asof(events: DataFrame, impl: str | None = None) -> DataFrame:
    """Streaming as-of join — batch ``asof_join``'s per-key
    "most recent click value at-or-before each event" as custom
    stateful streaming. State per user is TWO scalars (has_cv, cv) no
    matter how many events flow — the as-of operator's whole history
    compresses into the latest match candidate, which is what makes it
    streamable at all.

    Ordering contract, stated honestly: rows are ordered (ts,
    event_id) WITHIN each micro-batch, and batches must arrive
    time-ordered per key (the CDC/wave delivery shape the registered
    demo ships). Late cross-batch events need watermark-buffered
    reordering upstream — the documented events_sliding_agg caveat
    class. Dual impl like ``stream_sessionize``: tws when the worker
    protobuf runtime exists, legacy applyInPandasWithState
    otherwise."""
    if _pick_stateful_impl(impl) == "tws":
        _require_rocksdb(events)
        return stream_asof_tws(events)
    return stream_asof_legacy(events)
