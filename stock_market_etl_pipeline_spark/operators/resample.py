"""Calendar gap-filling with forward-fill (time-series resampling).

Market series have holes (weekends, halts); downstream features that
assume a dense date axis need gap rows synthesized and carried values
forward. Plan shape: per-key bounds → exploded date sequence → left join
back → `last(ignorenulls)` running window. All of it shares ONE hash
partitioning on the key; the only data growth is the calendar rows
(bounded by days-per-key, not data size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def calendar_fill(df: DataFrame) -> DataFrame:
    """Densify each symbol's date range to every calendar day; forward-fill
    ``close`` from the most recent real row; ``volume`` passes through as
    null on synthesized rows. Adds ``is_gap`` marking synthesized rows.

    Requires one row per (symbol, date) — true for the aggregated tick series
    every caller passes (and for any sane time series).

    Plan (r12 rewrite, guide §2.4): each real row generates itself plus
    its following gap days directly — ``explode(sequence(date,
    lead(date)-1))`` — carrying its own fill values, so the forward fill
    IS the generation and no calendar table exists to join back. The old
    bounds→calendar→left-join→running-last shape scanned the input twice
    (bounds agg + tick agg), paid two hash exchanges, a broadcast build,
    and a second window; this is one scan, one exchange, one window
    (2 scans / 2 Exchange / 2 Window → 1 / 1 / 1; gap_fill_forward
    1.37 s → 0.72 s at sf0.1, plans/r12/gap_fill_forward_{before,after}).
    Rows produced are identical: the per-key range still spans
    [min(date), max(date)] because the last real row has lead=NULL and
    contributes only itself; a gap day's forward-filled value is by
    construction the generating (= most recent real) row's value.
    """
    w = Window.partitionBy("symbol").orderBy("date")
    spanned = df.withColumn(
        "__stop",
        F.coalesce(F.date_sub(F.lead("date").over(w), 1), F.col("date")),
    )
    gen = spanned.select(
        "symbol",
        F.col("date").alias("__real"),
        F.explode(F.sequence(F.col("date"), F.col("__stop"))).alias("date"),
        "close",
        "volume",
    )
    is_real = F.col("date") == F.col("__real")
    return gen.select(
        "symbol",
        "date",
        "close",
        F.when(is_real, F.col("volume")).alias("volume"),
        (~is_real).alias("is_gap"),
    )


def calendar_interpolate(df: DataFrame) -> DataFrame:
    """Densify each symbol's date range and LINEARLY interpolate
    ``close`` across gaps — the time-series repair step where
    forward-fill's step function biases downstream returns/volatility
    (a 3-day gap becomes two zero-returns and one jump; interpolation
    spreads the move). Trailing gaps (no later real row) fall back to
    forward-fill; leading gaps cannot exist (the range starts at the
    key's first real row). Adds ``is_gap``.

    Exactness: with integer cents p (previous real value), q (next),
    gap position k of n days, the interpolated value is the single
    division (p·n + (q−p)·k) / (100·n) — an exact int64 numerator, so
    both engines produce the identical double. Real rows pass through
    untouched. Requires one row per (key, date) with non-null values —
    true for the aggregated tick series the caller passes.

    Plan (r12 rewrite, guide §2.4): same join-free generation as
    :func:`calendar_fill` — each real row explodes into itself plus its
    following gap days and already carries BOTH interpolation anchors
    (its own cents and lead()'s), so the bounds aggregate, the calendar
    left join, and the two direction-fill windows all disappear. (The
    r8 version needed two window passes incl. a desc re-sort on top of
    a two-scan broadcast join; this is one scan, one exchange, one asc
    window. A gap day always has a next anchor by construction — its
    generating row has a successor — so the old trailing-gap
    forward-fill branch is vacuous and dropped.)"""
    w = Window.partitionBy("symbol").orderBy("date")
    cents = F.round(F.col("close") * 100, 0).cast("long")
    spanned = (
        df.select("symbol", "date", "close")
        .withColumns(
            {
                "__pc": cents,
                "__nc": F.lead(cents).over(w),
                "__nd": F.lead("date").over(w),
            }
        )
        .withColumn(
            "__stop",
            F.coalesce(F.date_sub("__nd", 1), F.col("date")),
        )
    )
    gen = spanned.select(
        "symbol",
        F.col("date").alias("__pd"),
        F.explode(F.sequence(F.col("date"), F.col("__stop"))).alias("date"),
        "close",
        "__pc",
        "__nc",
        "__nd",
    )
    is_real = F.col("date") == F.col("__pd")
    k = F.datediff(F.col("date"), F.col("__pd"))
    n = F.datediff(F.col("__nd"), F.col("__pd"))
    interp = (
        F.col("__pc") * n + (F.col("__nc") - F.col("__pc")) * k
    ) / (F.lit(100.0) * n)
    return gen.select(
        "symbol", "date",
        F.when(is_real, F.col("close")).otherwise(interp).alias("close"),
        (~is_real).alias("is_gap"),
    )
