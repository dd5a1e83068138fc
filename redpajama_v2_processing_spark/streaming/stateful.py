"""Custom stateful streaming operator: event-time sessionization via
``applyInPandasWithState``.

The batch engine sessionizes with a lag-window (operators/sessionize.py);
on an unbounded stream that needs per-key state: each user's open session
lives in the state store, events extend it, a gap > SESSION_GAP closes it,
and an event-time timeout (watermark-driven) flushes sessions that stop
receiving events. This is the ``applyInPandasWithState`` pattern the
engine uses for any custom stateful operator — Arrow-batched per group,
no per-row Python round trips, state schema is explicit and checkpointed.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..config import SESSION_GAP_MINUTES
from .ingest import _start_parquet_sink

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
SESSION_OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long"
)
# state: open session per user, tracked as epoch-microsecond longs
SESSION_STATE_SCHEMA = "start_us long, last_us long, n long"

_US = 1_000_000


def _session_fn(gap_seconds: int):
    gap_us = gap_seconds * _US

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        user_id = key[0]

        def out(rows: list[tuple[int, int, int]]) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "user_id": pd.array([user_id] * len(rows), dtype="int64"),
                    "session_start": pd.to_datetime(
                        [r[0] for r in rows], unit="us"
                    ),
                    "session_end": pd.to_datetime([r[1] for r in rows], unit="us"),
                    "n_events": pd.array([r[2] for r in rows], dtype="int64"),
                }
            )

        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield out([(start, last, n)])
            return

        ts_us: list[int] = []
        for pdf in pdfs:
            ts_us.extend(int(t.value // 1000) for t in pdf["ts"])
        ts_us.sort()
        if not ts_us and not state.exists:
            return  # empty batch for an unseen key: nothing to track
        start, last, n = state.get if state.exists else (None, None, 0)
        closed: list[tuple[int, int, int]] = []
        for t in ts_us:
            if last is not None and t - last > gap_us:
                closed.append((start, last, n))
                start, n = None, 0
            if start is None:
                start = t
            n += 1
            last = t
        state.update((start, last, n))
        # flush the open session once the watermark passes last event + gap
        state.setTimeoutTimestamp(last // 1000 + gap_us // 1000)  # ms
        if closed:
            yield out(closed)

    return fn


def sessionize_stream(
    events: DataFrame,
    gap_minutes: int = SESSION_GAP_MINUTES,
    watermark: str = "1 second",
) -> DataFrame:
    """Closed sessions per user from a streaming events frame.

    Output rows appear when a session CLOSES — either a same-user event
    arrives past the gap, or the event-time watermark passes
    last_event + gap (state timeout). State per user is three longs.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn(gap_minutes * 60),
            SESSION_OUT_SCHEMA,
            SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_sessions(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    gap_minutes: int = SESSION_GAP_MINUTES,
    max_files_per_trigger: int | None = 1,
    available_now: bool = True,
) -> StreamingQuery:
    """File-stream wrapper: events parquet dir -> closed-session parquet."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    events = reader.parquet(input_dir)
    sessions = sessionize_stream(events, gap_minutes)
    return _start_parquet_sink(sessions, output_dir, checkpoint_dir, available_now)
