"""Enrichment: the reference's full derived-column set (C5) as one lazy plan.

Reference ``src/transform.py:45-336``. Every window operator shares ONE
window partitioning and order — ``partitionBy(symbol).orderBy(date)`` — so
Catalyst plans a single Exchange(hashpartitioning(symbol)) + one Sort for
all of: lag-diff, pct-change, ma_5, ma_20, rolling stddev and the exact
per-symbol volume quartiles (A7) (SURVEY.md §4); none at all when the
input already arrives clustered and sorted that way, as ``clean_quotes``
leaves it. The lag sits in one Window node; everything else (and
``observe_suite``'s lag window) collapses into a second.

The approximate quartiles (``quartiles="approx"``) are an aggregate +
broadcast join-back: the quartile table is one row per symbol (tiny at
any scale), so the join adds no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.stock import categorize_volatility, volume_category_expr
from ..schema import ENRICHED_COLUMNS

#: ``approx_percentile`` accuracy of the approximate quartiles: rank error
#: ≤ 1/APPROX_ACCURACY.
APPROX_ACCURACY = 10_000

def enrich(
    df: DataFrame,
    window_partition: tuple[str, ...] = ("symbol",),
    quartile_cols: tuple[str, str, str] | None = None,
    quartiles: str = "exact",
) -> DataFrame:
    """ticks-shaped (symbol,date,open,high,low,close,volume) → enriched table.

    Output columns/order per ENRICHED_COLUMNS (src/transform.py:292-313).

    Built as THREE wide selects (lag layer → window layer → expression
    layer), not a chain of per-feature withColumns: each PySpark
    DataFrame call re-analyzes the whole growing logical tree JVM-side, and
    at ~10 chained calls the analysis overhead was ~0.4 s per query build —
    real time at bench scale, pure waste at any scale. The layering is the
    dependency structure: daily_change_percent (lag) must exist before the
    rolling stddev that consumes it; everything else flattens.

    ``window_partition`` / ``quartile_cols`` exist for the skew-safe
    halo-chunked variant (operators/skewsafe.py): the chunked path windows
    over (symbol, __chunk) and supplies pre-joined per-symbol volume
    quartile columns instead of the whole-partition percentile window.
    Defaults reproduce the standard single-exchange plan unchanged.
    Extra input columns (chunk/halo markers) flow through and come out
    AFTER the ENRICHED_COLUMNS block.

    ``quartiles`` is the executable form of the SCALING.md promise "at
    100 TB switch the exact percentile to mergeable approx_percentile":

    - ``"exact"`` (default): linear-interpolated `percentile` as a
      whole-partition window aggregate — zero extra shuffles, but the
      window buffers each symbol's full partition; correct choice while
      a symbol's history fits one task.
    - ``"approx"``: per-symbol `approx_percentile` via a grouped
      aggregate + broadcast join-back. approx_percentile is MERGEABLE
      (partial-aggregates map-side), so no task ever buffers a whole
      symbol for the quartiles; rank error ≤ 1/APPROX_ACCURACY.
      Bucket-label agreement vs the exact path is asserted within
      tolerance in tests/test_enrich.py; disagreements can only sit in
      the rank-error band around each quartile boundary.
    """
    from ..functions.dateparts import pandas_day_of_week

    w = Window.partitionBy(*window_partition).orderBy("date")
    lag_close = F.lag("close", 1).over(w)
    d = F.col("date")
    rng = F.col("high") - F.col("low")
    lag_layer = df.select(
        "*",
        (F.col("close") - lag_close).alias("daily_change"),
        ((F.col("close") / lag_close - 1) * 100).alias("daily_change_percent"),
        rng.alias("price_range"),
        (rng / F.col("close") * 100).alias("price_range_percent"),
        F.year(d).cast("int").alias("year"),
        F.month(d).cast("int").alias("month"),
        F.quarter(d).cast("int").alias("quarter"),
        pandas_day_of_week(d).cast("int").alias("day_of_week"),
        F.weekofyear(d).cast("int").alias("week_of_year"),
    )
    w2 = Window.partitionBy(*window_partition).orderBy("date")
    window_layer = lag_layer.select(
        "*",
        # pandas: NaN > 0 is False → coalesce nulls to False (SURVEY §7.3)
        F.coalesce(F.col("daily_change") > 0, F.lit(False)).alias("is_positive_day"),
        F.coalesce(F.col("daily_change") < 0, F.lit(False)).alias("is_negative_day"),
        F.avg("close").over(w2.rowsBetween(-4, 0)).alias("ma_5"),
        F.avg("close").over(w2.rowsBetween(-19, 0)).alias("ma_20"),
        F.stddev_samp("daily_change_percent")
        .over(w2.rowsBetween(-19, 0))
        .alias("volatility_indicator"),
    )
    if quartile_cols is None and quartiles == "approx":
        qt = df.groupBy("symbol").agg(
            F.percentile_approx(
                "volume",
                F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
                F.lit(APPROX_ACCURACY),
            ).alias("__qs")
        )
        window_layer = window_layer.join(F.broadcast(qt), "symbol")
        q1, q2, q3 = (F.col("__qs")[i].cast("double") for i in range(3))
    elif quartile_cols is None:
        # ONE percentile window function with an array of percentages,
        # not three: each whole-partition `percentile` call buffers and
        # sorts the partition's volumes independently (three copies of
        # the same buffer, three sorts); the array form shares one buffer
        # and one sort and yields the same linear-interpolated doubles
        # element-wise (guide §1.2 step 2: per-task work). Materialized
        # as a named column FIRST — indexing the window expression three
        # times inline would plan three separate (identical) window
        # functions, since the physical Window node does not dedupe them.
        # Ordered over the whole partition rather than unordered:
        # percentile ignores the order, so the values are the same, and
        # a spec equal to w2's lets Catalyst's CollapseWindow merge it
        # into w2's Window node.
        wp = Window.partitionBy("symbol").orderBy("date").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        window_layer = window_layer.withColumn(
            "__qs",
            F.percentile(
                "volume", F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75))
            ).over(wp),
        )
        q1, q2, q3 = (F.col("__qs")[i] for i in range(3))
    else:
        q1, q2, q3 = (F.col(c) for c in quartile_cols)
    out = window_layer.select(
        "*",
        ((F.col("close") - F.col("ma_5")) / F.col("ma_5") * 100).alias(
            "price_vs_ma5"
        ),
        ((F.col("close") - F.col("ma_20")) / F.col("ma_20") * 100).alias(
            "price_vs_ma20"
        ),
        categorize_volatility(F.col("volatility_indicator")).alias(
            "volatility_category"
        ),
        volume_category_expr(F.col("volume"), q1, q2, q3).alias(
            "volume_category"
        ),
    )
    extras = [
        c for c in out.columns if c not in ENRICHED_COLUMNS and c != "__qs"
    ]
    return out.select(*ENRICHED_COLUMNS, *extras)
