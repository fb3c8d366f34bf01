"""As-of (most-recent-prior) join — the canonical market-data operator.

Spark has no native ASOF JOIN (DuckDB/Pandas do); this implements it as a
union + ordered window, which is the shuffle-optimal formulation:

    tag left/right rows → union → window partitionBy(key).orderBy(time,
    right-first) → last(right_values, ignorenulls=True) → keep left rows

Cost: ONE shuffle on the join key (the window exchange). A naive
range-join (left.time >= right.time, pick max) would be a quadratic
non-equi join; the window formulation is linear after the sort and is the
correct 100 TB plan shape.

The right-side values travel as ONE struct, null on left rows and never
null on right rows, and a single ``last(struct, ignorenulls)`` picks the
matching right row whole: a null inside a right value is returned as the
matched row's null, never filled from an older row.

Right side must be unique per (key, time) — pre-aggregate otherwise, or
the matched value is nondeterministic (or break ties with ``right_order``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    value_cols: list[str],
    strict: bool = False,
    right_order: list[str] | None = None,
) -> DataFrame:
    """For each left row, attach the right row with the greatest
    right_time ≤ left_time (or < if strict) for the same key, as
    ``asof_<col>`` columns.

    Left rows with no prior right row get nulls (left-outer semantics).

    ``right_order`` (column names from ``value_cols``) breaks ties between
    right rows sharing (key, right_time): the LAST row in that ascending
    order wins. With it, a right side that is NOT unique per (key, time)
    needs no pre-aggregation exchange — e.g. ``right_order=["v"]`` picks
    the row with MAX(v) per (key, time), exactly what a ``GROUP BY key,
    time → MAX(v)`` feed would supply, without shuffling and aggregating
    the right side first (guide §2.4: remove shuffles outright). Without
    it, right must be unique per (key, time) or the matched value is
    nondeterministic.
    """
    return _asof(left, right, key, left_time, right_time, value_cols,
                 strict, right_order, forward=False, prefix="asof_")


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    value_cols: list[str],
    strict: bool = False,
    right_order: list[str] | None = None,
) -> DataFrame:
    """Forward as-of: for each left row, the right row with the SMALLEST
    right_time ≥ left_time (or > if strict) for the same key, as
    ``asof_next_<col>`` columns — the next-event lookup (e.g. "the next
    order after this tick").

    ``right_order`` as in asof_join: ascending tie-break among right rows
    sharing (key, right_time), the LAST row in that order wins — in the
    mirrored (t desc) running window the nearest preceding right group is
    the smallest t' ≥ t and its last member is the right_order max, so
    ``right_order=["v"]`` reproduces a MAX(v)-per-(key, time) feed with
    no pre-aggregation exchange.
    """
    return _asof(left, right, key, left_time, right_time, value_cols,
                 strict, right_order, forward=True, prefix="asof_next_")


def _asof(left, right, key, left_time, right_time, value_cols, strict,
          right_order, forward, prefix):
    # The union payload carries each left row's key and time ONCE (__key /
    # __t), not again inside the __left struct — the final projection
    # reconstructs those two columns from the window keys (§2.3: shuffle
    # fewer bytes).
    rest = [c for c in left.columns if c not in (key, left_time)]
    rt = right.select(
        F.col(key).alias("__key"),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__is_left"),
        F.struct(*value_cols).alias("__r"),
    )
    lt = left.select(
        F.col(key).alias("__key"),
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__is_left"),
        F.struct(*rest).alias("__left"),
        F.lit(None).cast(rt.schema["__r"].dataType).alias("__r"),
    )
    unioned = lt.unionByName(rt, allowMissingColumns=True)
    # Backward: right rows sort before left rows at equal time → "≤";
    # strict "<" puts left rows first instead. Forward: "first right row
    # at-or-after" would be FIRST ignore-nulls over a [current, unbounded
    # FOLLOWING] frame, which Spark executes by rescanning current→end per
    # row (O(rows²) per key, the gap_fill_interpolated lesson,
    # operators/resample.py); its exact mirror is the same running LAST
    # over the REVERSED time order, where (t desc, is_left asc) keeps a
    # same-time right row visible from the left row ("≥"). right_order
    # ties only ever compare right rows with each other: __is_left already
    # separates the sides at equal __t.
    t = F.col("__t").desc() if forward else F.col("__t").asc()
    tie = F.col("__is_left").asc() if not strict else F.col("__is_left").desc()
    order = [t, tie] + [F.col("__r")[c].asc() for c in (right_order or [])]
    w = (
        Window.partitionBy("__key")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (unioned.withColumn("__r", F.last("__r", ignorenulls=True).over(w))
           .filter(F.col("__is_left") == 1))
    return out.select(
        *[
            F.col("__key").alias(c) if c == key
            else F.col("__t").alias(c) if c == left_time
            else F.col("__left")[c].alias(c)
            for c in left.columns
        ],
        *[F.col("__r")[c].alias(f"{prefix}{c}") for c in value_cols],
    )
