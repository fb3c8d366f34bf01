"""Watermarked stream-stream join: correlate two live event streams on a
key plus an event-time interval, with bounded state.

The reference joins its feeds only at rest (warehouse tables); the
streaming-native equivalent is Structured Streaming's stream-stream inner
join, where BOTH sides buffer rows in state and the join's time-range
condition + watermarks bound how long: a click can only match views at
most one hour older, so once the watermark (30 minutes behind the
latest event) passes a view's ts + 1 hour, its state row is freed.
Without the range condition the state would grow forever — the condition
is what makes the join runnable on an unbounded stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def view_to_click_attribution(
    views: DataFrame,
    clicks: DataFrame,
    how: str = "inner",
) -> DataFrame:
    """Join clicks to the views they follow within one hour for the
    same user — the attribution join (which impression led to this
    click). Works identically on bounded frames (batch parity tests) and
    on streams (state + watermark).

    ``how="left_outer"`` additionally emits unmatched views (impressions
    that never converted) — in streaming mode these rows appear only once
    the watermark proves no matching click can still arrive (view_ts +
    1 hour fully below the watermark), i.e. exactly when the view's
    state row is freed. Unconverted-impression reporting and state expiry
    are the same event.

    Output: user_id, view_ts, click_ts (null when unconverted), lag_us.
    """
    v = (
        views.select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "30 minutes")
    )
    c = (
        clicks.select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "30 minutes")
    )
    joined = v.join(
        c,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (
            F.col("click_ts")
            <= F.col("view_ts") + F.expr("INTERVAL 1 hour")
        ),
        how,
    )
    return joined.select(
        F.col("v_user").alias("user_id"),
        "view_ts",
        "click_ts",
        (
            F.unix_micros("click_ts") - F.unix_micros("view_ts")
        ).alias("lag_us"),
    )
