"""Event-time windowed streaming aggregations with watermarks.

Translates the reference's daily batch cadence into proper streaming
primitives (SURVEY.md §2.10's future-phase note): tumbling and session
event-time windows over the event stream, late data bounded by watermark.
State per (window, key) is dropped once the watermark passes the window
end — bounded memory at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_event_counts(stream: DataFrame) -> DataFrame:
    """Per (event_type, window) counts + value sums over 1-hour tumbling
    windows, late data bounded by a 30-minute watermark."""
    return (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_event_stats(stream: DataFrame) -> DataFrame:
    """Per-user session windows (30-minute inactivity gap, 30-minute
    watermark) — counts + value sums.

    The SAME session_window expression as the batch-registered
    `session_window_stats` query (registry_ext3.py), so batch and stream
    share merge semantics by construction. In streaming mode Spark keeps
    one open session per (user, window) in state and emits it when the
    watermark passes session end — bounded state at any scale.
    """
    return (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
