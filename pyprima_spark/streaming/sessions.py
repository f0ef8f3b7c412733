"""Gap-based sessionization — batch (``session_window``) and custom
stateful streaming (``applyInPandasWithState``).

The batch form is pure built-in Spark: ``F.session_window`` merges
events closer than the gap into one window per key, map-side, before the
single shuffle on (key, window). The streaming form demonstrates the
custom-stateful-operator surface: per-user session state (start, last
ts, count, sum) carried across micro-batches in ``GroupState``.
"""

from __future__ import annotations

from typing import Any, Iterable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SESSION_GAP = "4 hours"
GAP_SECONDS = 4 * 3600
_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"

OUT_SCHEMA = (
    "user_id bigint, session_start string, session_end string, "
    "n_events bigint, total_value double"
)


def sessionize(events: DataFrame, gap: str = SESSION_GAP) -> DataFrame:
    """Per-user sessions: events within ``gap`` of the previous event
    merge; session end is last-event ts + gap (Spark session_window
    semantics, mirrored by the gaps-and-islands oracle)."""
    return (
        events.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(27,6)")), 2).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("sw.start", _TS_FMT).alias("session_start"),
            F.date_format("sw.end", _TS_FMT).alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def _sessionize_group(
    key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: Any
) -> Iterable[pd.DataFrame]:
    """Stateful per-user sessionizer. State tuple: (start_us, last_us,
    n, total) of the open session; closed sessions are emitted as their
    gap is exceeded. The final open session is also emitted each batch —
    exact under the availableNow single-batch harness; a production
    deployment would hold it and emit on ProcessingTimeTimeout instead.
    """
    (user_id,) = key
    rows = pd.concat(list(pdfs)).sort_values("ts")
    ts_us = pd.to_datetime(rows["ts"]).astype("datetime64[us]").astype("int64")
    vals = rows["value"]
    if state.exists:
        start_us, last_us, n, total = state.get
    else:
        start_us = last_us = None
        n, total = 0, 0.0

    out: list[tuple] = []
    gap_us = GAP_SECONDS * 1_000_000
    for t, v in zip(ts_us, vals):
        # >=: session windows are half-open [start, last+gap), so an
        # event at exactly last+gap opens a new session.
        if last_us is not None and t - last_us >= gap_us:
            out.append((start_us, last_us, n, total))
            start_us, n, total = t, 0, 0.0
        if start_us is None:
            start_us = t
        last_us = t
        n += 1
        total += float(v)
    state.update((int(start_us), int(last_us), int(n), float(total)))
    out.append((start_us, last_us, n, total))

    def fmt(us: int) -> str:
        return pd.Timestamp(us, unit="us").strftime("%Y-%m-%d %H:%M:%S.%f")

    yield pd.DataFrame(
        {
            "user_id": [user_id] * len(out),
            "session_start": [fmt(s) for s, _, _, _ in out],
            "session_end": [fmt(l + gap_us) for _, l, _, _ in out],
            "n_events": [n for _, _, n, _ in out],
            "total_value": [round(t, 2) for _, _, _, t in out],
        }
    )


def run_sessions_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful sessionization of the events stream via
    applyInPandasWithState, materialized through a memory sink."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from pyprima_spark.streaming.events import run_to_memory, stream_events

    stream = stream_events(spark, sf_dir)
    out = (
        stream.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group,
            outputStructType=OUT_SCHEMA,
            stateStructType="start_us long, last_us long, n long, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return run_to_memory(out, "update")


def _sessionize_group_timeout(
    key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: Any
) -> Iterable[pd.DataFrame]:
    """Event-time-timeout sessionizer: closed sessions emit as soon as
    their gap is exceeded WITHIN the data; the open session is held in
    state and emitted only when the event-time watermark passes
    last_ts + gap (state.hasTimedOut) — the production shape
    _sessionize_group's docstring promises: no per-batch emission of
    open sessions, bounded state with watermark-driven eviction.
    """
    (user_id,) = key
    gap_us = GAP_SECONDS * 1_000_000

    def fmt(us: int) -> str:
        return pd.Timestamp(us, unit="us").strftime("%Y-%m-%d %H:%M:%S.%f")

    def frame(sessions: list[tuple]) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [user_id] * len(sessions),
                "session_start": [fmt(s) for s, _, _, _ in sessions],
                "session_end": [fmt(l + gap_us) for _, l, _, _ in sessions],
                "n_events": [n for _, _, n, _ in sessions],
                "total_value": [round(t, 2) for _, _, _, t in sessions],
            }
        )

    if state.hasTimedOut:
        start_us, last_us, n, total = state.get
        state.remove()
        yield frame([(start_us, last_us, n, total)])
        return

    rows = pd.concat(list(pdfs)).sort_values("ts")
    ts_us = pd.to_datetime(rows["ts"]).astype("datetime64[us]").astype("int64")
    vals = rows["value"]
    if state.exists:
        start_us, last_us, n, total = state.get
    else:
        start_us = last_us = None
        n, total = 0, 0.0

    closed: list[tuple] = []
    for t, v in zip(ts_us, vals):
        if last_us is not None and t - last_us >= gap_us:
            closed.append((start_us, last_us, n, total))
            start_us, n, total = t, 0, 0.0
        if start_us is None:
            start_us = t
        # Order-aware merge across batches: sort_values only orders
        # WITHIN this micro-batch, so a later batch can deliver an event
        # with t < stored last_us (still above the watermark). Such a
        # late event belongs to the open session (it is within gap of
        # last_us by t < last_us); folding it with min/max instead of
        # assignment keeps last_us monotone — otherwise the session
        # boundary shifts backwards and the timeout timestamp regresses
        # below the watermark.
        start_us = min(start_us, t)
        last_us = t if last_us is None else max(last_us, t)
        n += 1
        total += float(v)
    state.update((int(start_us), int(last_us), int(n), float(total)))
    # Evict when the watermark passes the open session's close edge.
    state.setTimeoutTimestamp((int(last_us) + gap_us) // 1000)
    yield frame(closed)


def run_sessions_stream_timeout(
    spark: SparkSession,
    src_dir: str,
    watermark: str = "1 second",
) -> DataFrame:
    """Stateful sessionization with event-time state eviction over a
    file stream (one micro-batch per file via maxFilesPerTrigger, so
    the watermark advances between batches and timers actually fire)."""
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    from pyprima_spark.streaming.events import run_to_memory

    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    for field in stream.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            stream = stream.withColumn(
                field.name, F.col(field.name).cast(T.TimestampType())
            )
    out = (
        stream.withWatermark("ts", watermark)
        .select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group_timeout,
            outputStructType=OUT_SCHEMA,
            stateStructType="start_us long, last_us long, n long, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return run_to_memory(out, "update")
