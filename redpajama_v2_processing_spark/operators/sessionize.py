"""Event-stream operators over the batch `events` table: tumbling windows
and gap-based sessionization (window functions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import SESSION_GAP_MINUTES


def tumbling_counts(
    events: DataFrame, ts_col: str = "ts", key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Per (hour-window, key): count + engine-exact 4-decimal mean value
    (ann.exact_mean4 — order-independent integer micro-unit sums, so the
    rounded 4th decimal cannot flip across engines/partitionings)."""
    from .ann import exact_mean4

    return (
        events.groupBy(
            F.date_trunc("hour", F.col(ts_col)).alias("window_start"),
            F.col(key_col),
        )
        .agg(
            F.count("*").alias("n_events"),
            exact_mean4(F.col(value_col)).alias("avg_value"),
        )
    )


def sliding_counts(
    events: DataFrame, ts_col: str = "ts", key_col: str = "event_type",
    value_col: str = "value",
    window: str = "1 hour", slide: str = "30 minutes",
) -> DataFrame:
    """Per (sliding-window, key): count + engine-exact mean via Spark's
    NATIVE F.window(ts, size, slide) — each event lands in size/slide
    overlapping windows (epoch-aligned starts), the same operator
    Structured Streaming uses for windowed aggregations, so this plan
    lifts to a stream with a watermark unchanged."""
    from .ann import exact_mean4

    return (
        events.groupBy(F.window(F.col(ts_col), window, slide).alias("w"), F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            exact_mean4(F.col(value_col)).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), key_col, "n_events", "avg_value"
        )
    )


def session_window_counts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = SESSION_GAP_MINUTES,
) -> DataFrame:
    """Per-(user, session) event counts via Spark's NATIVE
    F.session_window — the dynamic-gap session operator (a new session
    starts when an event arrives >= gap after the previous one; the window
    closes at last_event + gap). Batch here; the identical groupBy lifts
    to Structured Streaming with a watermark. Session identity surfaces as
    its start (= min event ts), which is what the gaps-and-islands oracle
    reproduces independently."""
    return (
        events.groupBy(
            F.session_window(F.col(ts_col), f"{gap_minutes} minutes").alias("w"),
            F.col(user_col),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            user_col, F.col("w.start").alias("session_start"), "n_events"
        )
    )


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = SESSION_GAP_MINUTES,
) -> DataFrame:
    """Gap-based sessions (classic gaps-and-islands): a new session starts
    when the previous event of the same user is more than `gap_minutes`
    older. Returns per-user session stats.

    One shuffle (partitionBy user); the cumulative-sum session id is
    computed inside each user partition.
    """
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col).asc(), F.col("event_id").asc())
    gap = F.lit(gap_minutes * 60)
    prev_ts = F.lag(F.col(ts_col)).over(w)
    new_session = F.when(
        prev_ts.isNull()
        | ((F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(prev_ts)) > gap),
        1,
    ).otherwise(0)
    sess = events.withColumn("_new", new_session).withColumn(
        "session_idx", F.sum("_new").over(w)
    )
    return (
        sess.groupBy(user_col)
        .agg(
            F.max("session_idx").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )
