"""Composite analytics pipelines (SURVEY.md §2.9, C1-C4 + A6 + C6).

The reference runs per-symbol Python loops (``src/predictions.py:97-100,
130-131``) because pandas lacks partitioned windows; here every pipeline is
ONE windowed DataFrame plan over all symbols at once — a single shuffle on
``symbol`` serves the window, the groupBy that follows it (partitioning is
reused, no second exchange), and the one-row-per-symbol join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.stock import (
    confidence_expr,
    predicted_change_percent_expr,
    trend_expr,
    trend_strength_expr,
)

#: Symbols with fewer rows get no prediction (src/predictions.py returns
#: None below 20 rows).
MIN_HISTORY = 20
#: Signals are searched for in each symbol's last 10 rows.
LOOKBACK = 10


def _ASC():
    return Window.partitionBy("symbol").orderBy("date")


def predictions(
    enriched: DataFrame, recompute_mas: bool = False
) -> DataFrame:
    """Next-day price prediction per symbol (C1/C2, src/predictions.py:6-110).

    Loop-free translation: latest row via row_number, last-5 stats via a
    grouped aggregate over the rank-filtered slice, then pure expressions.
    Symbols with < MIN_HISTORY rows are dropped (reference returns None).
    Output is sorted by predicted_change_percent desc.

    ``recompute_mas`` opts into the r12 window-tail plan: the caller
    asserts that the input's ma_5/ma_20 ARE the trailing means of its
    close column (true for the enrich() spine), which lets this plan drop
    those full-series window frames and recompute the moving averages
    inside the per-symbol tail — bit-identical at every surviving row.
    Default False preserves the operator contract for hand-built inputs
    whose ma columns need not be consistent with close: provided values
    are consumed as-is.
    """
    # Single-branch plan: the last-5 stats (A10) are TRAILING frame
    # aggregates in the same ASC-ordered window the enrichment already
    # sorted for — evaluated at the last row per symbol. The last row is
    # detected with lead(date) IS NULL (same ordered spec as everything
    # else) instead of rn == count-over-partition: the unordered COUNT
    # window would be a second Window node buffering each whole partition.
    # At the last row row_number == partition size, so the MIN_HISTORY
    # gate is just __rn >= MIN_HISTORY. A desc window would add a second
    # Sort; a groupBy-on-slice + join-back would compute the enrich
    # subtree twice (verified via explain).
    #
    # r12 (guide §2.3 "don't compute what you throw away"): only the LAST
    # row per symbol survives, and every frame it reads fits in the last
    # MIN_HISTORY rows — so the tail is pre-filtered with lead(date, N)
    # IS NULL (an O(1)-per-row offset function in a cheap first window
    # pass, alongside row_number and the daily-change lag the enrichment
    # already computes there) and the five heavy frame aggregates below
    # run over N rows per symbol instead of the whole series. Values those
    # aggregates would produce at non-last rows are truncated-frame
    # garbage, but no such row passes the __is_last filter. ma_5/ma_20 are
    # recomputed from close inside the tail (same expression, same frame,
    # same ASC order → bit-identical doubles for the surviving row);
    # daily_change_percent must come from the TRUE lag, so it rides in
    # from the pre-filter pass.
    if recompute_mas:
        tail_n = max(MIN_HISTORY, 20)  # widest frame below is ma_20's 20 rows
        tail = enriched.select(
            "symbol", "date", "close", "daily_change_percent",
            F.row_number().over(_ASC()).alias("__rn"),
            F.lead("date", tail_n).over(_ASC()).isNull().alias("__in_tail"),
        ).filter(F.col("__in_tail"))
        ranked = tail.withColumns(
            {
                "__ma5": F.avg("close").over(_ASC().rowsBetween(-4, 0)),
                "__ma20": F.avg("close").over(_ASC().rowsBetween(-19, 0)),
                "__is_last": F.lead("date").over(_ASC()).isNull(),
                # Rounded to 6dp at the aggregate boundary: downstream
                # arithmetic then runs on bit-identical doubles in Spark and
                # the DuckDB oracle, so the final 2dp rounding can't straddle
                # (engines' window/agg float summation differs by ~1 ulp
                # otherwise).
                "__avg5": F.round(
                    F.avg("daily_change_percent").over(
                        _ASC().rowsBetween(-4, 0)
                    ),
                    6,
                ),
                "__std5": F.round(
                    F.stddev_samp("daily_change_percent").over(
                        _ASC().rowsBetween(-4, 0)
                    ),
                    6,
                ),
            }
        )
    else:
        ranked = enriched.withColumns(
            {
                "__rn": F.row_number().over(_ASC()),
                "__ma5": F.col("ma_5"),
                "__ma20": F.col("ma_20"),
                "__is_last": F.lead("date").over(_ASC()).isNull(),
                "__avg5": F.round(
                    F.avg("daily_change_percent").over(
                        _ASC().rowsBetween(-4, 0)
                    ),
                    6,
                ),
                "__std5": F.round(
                    F.stddev_samp("daily_change_percent").over(
                        _ASC().rowsBetween(-4, 0)
                    ),
                    6,
                ),
            }
        )
    joined = ranked.filter(
        F.col("__is_last") & (F.col("__rn") >= MIN_HISTORY)
    ).select(
        "symbol",
        F.col("close").alias("current_price"),
        F.round("__ma5", 6).alias("ma_5"),
        F.round("__ma20", 6).alias("ma_20"),
        F.col("date").alias("latest_date"),
        F.col("__avg5").alias("avg_daily_change"),
        F.col("__std5").alias("recent_volatility"),
    )

    # two wide selects, not four withColumns: each extra DataFrame call is
    # a full JVM re-analysis of the tree (see enrich() docstring)
    joined = joined.select(
        "*",
        trend_expr(F.col("ma_5"), F.col("ma_20")).alias("trend"),
        trend_strength_expr(F.col("ma_5"), F.col("ma_20")).alias("trend_strength"),
    )
    pcp = predicted_change_percent_expr(
        F.col("trend"), F.col("trend_strength"), F.col("avg_daily_change")
    )
    joined = joined.select(
        "*",
        pcp.alias("predicted_change_percent"),
        (F.col("current_price") * (1 + pcp / 100)).alias("predicted_price"),
    )
    # 6dp output rounding (not the reference's 2dp display rounding): the
    # derived values live on fine decimal grids (multiples of 5e-4), so
    # exact .xx5 ties at 2dp are common and Spark/DuckDB resolve the same
    # double differently (shortest-decimal half-up vs binary scaling) —
    # first observed at sf0.1. 6dp sits below the grid resolution →
    # tie-free. 2dp is presentation formatting (F13, out of engine scope).
    return joined.select(
        "symbol",
        F.round("current_price", 2).alias("current_price"),
        F.round("predicted_price", 6).alias("predicted_price"),
        F.round(F.col("predicted_price") - F.col("current_price"), 6).alias(
            "predicted_change"
        ),
        F.round("predicted_change_percent", 6).alias("predicted_change_percent"),
        "trend",
        F.round("trend_strength", 6).alias("trend_strength"),
        confidence_expr(F.col("trend_strength"), F.col("recent_volatility")).alias(
            "confidence"
        ),
        F.round("ma_5", 6).alias("ma_5"),
        F.round("ma_20", 6).alias("ma_20"),
        F.round("recent_volatility", 6).alias("recent_volatility"),
        F.date_format(F.date_add("latest_date", 1), "yyyy-MM-dd").alias(
            "prediction_date"
        ),
        F.date_format("latest_date", "yyyy-MM-dd").alias("asof_date"),
    ).orderBy(F.col("predicted_change_percent").desc(), "symbol")


def trading_signals(enriched: DataFrame,
                    max_date_df: DataFrame | None = None,
                    recompute_mas: bool = False) -> DataFrame:
    """MA-crossover BUY/SELL signals (C3, src/predictions.py:113-174).

    Adjacent-row comparison within each symbol's last LOOKBACK rows:
    golden cross = prev ma5 ≤ prev ma20 ∧ ma5 > ma20 (BUY); death cross
    mirrored (SELL). ``days_ago`` is measured from the GLOBAL max date of
    the full input (not per symbol) — a scalar aggregate broadcast-joined
    back (J3).

    ``recompute_mas`` opts into the r12 window-tail plan (see
    predictions()): the caller asserts the input's ma_5/ma_20 ARE the
    trailing means of close (true for the enrich() spine), letting the
    full-series ma frames be dropped and the averages recomputed inside
    the per-symbol context slice — bit-identical at every surviving row.
    Default False consumes the provided ma columns as-is (the operator
    contract for hand-built inputs, pinned by
    tests/test_analytics.py::test_trading_signals_crossover).
    """
    # last-N per symbol expressed against the ASC ordering: a row is within
    # the last N rows iff lead(date, N) runs off the partition end. Same
    # ordered window spec as the signal lags below — no desc re-sort, no
    # unordered COUNT window buffering whole partitions.
    #
    # r12 (guide §2.3, the predictions() tail pattern): the ma_5/ma_20
    # frame aggregates only need to be CORRECT at the last LOOKBACK rows
    # per symbol, and those rows' widest frame (ma_20, 20 rows) reaches
    # back exactly LOOKBACK+19 rows — so the single full-series window
    # pass computes only the two O(1) lead(date, N) tail flags, the
    # context slice is filtered, and the moving averages are recomputed
    # from close inside it (same expression, frame and ASC order →
    # bit-identical doubles at every surviving row). Rows between the
    # context edge and the tail carry truncated-frame garbage but are
    # dropped by the __in_tail filter before any signal logic reads them.
    if recompute_mas:
        ctx_n = LOOKBACK + 19  # oldest kept row's ma_20 frame tail
        last_n = (
            enriched.select(
                "symbol", "date", "close",
                F.lead("date", LOOKBACK).over(_ASC()).isNull().alias(
                    "__in_tail"
                ),
                F.lead("date", ctx_n).over(_ASC()).isNull().alias("__in_ctx"),
            )
            .filter(F.col("__in_ctx"))
            .withColumns(
                {
                    "ma_5": F.avg("close").over(_ASC().rowsBetween(-4, 0)),
                    "ma_20": F.avg("close").over(_ASC().rowsBetween(-19, 0)),
                }
            )
            .filter(F.col("__in_tail"))
            .drop("__in_tail", "__in_ctx")
        )
    else:
        last_n = (
            enriched.withColumn(
                "__in_tail", F.lead("date", LOOKBACK).over(_ASC()).isNull()
            )
            .filter(F.col("__in_tail"))
            .drop("__in_tail")
        )
    prev5 = F.lag("ma_5").over(_ASC())
    prev20 = F.lag("ma_20").over(_ASC())
    flagged = last_n.withColumns(
        {
            "signal": F.when(
                (prev5 <= prev20) & (F.col("ma_5") > F.col("ma_20")), F.lit("BUY")
            ).when(
                (prev5 >= prev20) & (F.col("ma_5") < F.col("ma_20")), F.lit("SELL")
            ),
        }
    ).filter(F.col("signal").isNotNull())
    flagged = flagged.withColumn(
        "signal_type",
        F.when(F.col("signal") == "BUY", F.lit("Golden Cross")).otherwise(
            F.lit("Death Cross")
        ),
    )
    # days_ago needs max(date) over the FULL input; deriving it from
    # `enriched` duplicates the whole enrich subtree in the plan (no CTE
    # reuse across join branches). Callers that know a cheaper equivalent
    # source (e.g. max(l_shipdate) straight off the parquet scan) pass it
    # via max_date_df.
    max_date = (
        max_date_df
        if max_date_df is not None
        else enriched.agg(F.max("date").alias("__max_date"))
    )
    return (
        flagged.crossJoin(F.broadcast(max_date))
        .select(
            "symbol",
            "signal",
            "signal_type",
            "date",
            F.col("close").alias("price"),
            "ma_5",
            "ma_20",
            F.datediff("__max_date", "date").cast("int").alias("days_ago"),
        )
        .orderBy(F.col("date").desc(), "symbol")
    )


def top_movers(enriched: DataFrame, top_n: int = 5, kind: str = "gainers",
               recompute_mas: bool = False) -> DataFrame:
    """Top predicted gainers/losers (C4, src/predictions.py:177-197).

    orderBy+limit plans as TakeOrderedAndProject — no global sort
    materialization at scale.
    """
    preds = predictions(enriched, recompute_mas=recompute_mas)
    key = F.col("predicted_change_percent")
    order = key.desc() if kind == "gainers" else key.asc()
    return preds.orderBy(order, "symbol").limit(top_n)


def performance_summary(enriched: DataFrame) -> DataFrame:
    """Per-symbol performance table (A6, dashboard/app.py:641-667).

    first/latest price via min_by/max_by on date — a plain grouped
    aggregate, no window, no second shuffle after the enrich window
    (same key).
    """
    return (
        enriched.groupBy("symbol")
        .agg(
            F.max_by("close", "date").alias("latest_price"),
            F.avg("close").alias("avg_price"),
            F.min("close").alias("min_price"),
            F.max("close").alias("max_price"),
            F.min_by("close", "date").alias("start_price"),
            F.avg("daily_change_percent").alias("avg_daily_change_pct"),
            (F.sum("volume") / F.lit(1_000_000.0)).alias("total_volume_millions"),
        )
        .withColumn(
            "total_return_pct",
            (F.col("latest_price") - F.col("start_price"))
            / F.col("start_price")
            * 100,
        )
        .orderBy("symbol")
    )


def db_summary(enriched: DataFrame) -> DataFrame:
    """Database-summary aggregates (C6, src/load.py:291-381) as ONE pass.

    The reference issues five sequential SQL queries; here a single
    conditional-aggregate scan produces the same numbers (the avg columns
    keep the reference's ``WHERE close IS NOT NULL`` guard, A4).
    """
    not_null = F.col("close").isNotNull()
    close_cents = F.round(F.col("close") * 100, 0).cast("long")
    return enriched.agg(
        F.count(F.lit(1)).alias("total_records"),
        F.countDistinct("symbol").alias("unique_symbols"),
        F.min("date").alias("earliest_date"),
        F.max("date").alias("latest_date"),
        # exact money average (NOTES rule 10): Σcents/(100·n), not float AVG
        (
            F.sum(F.when(not_null, close_cents))
            / (F.lit(100.0) * F.count("close"))
        ).alias("avg_close"),
        F.avg(F.when(not_null, F.col("volume"))).alias("avg_volume"),
        F.avg(F.when(not_null, F.col("daily_change_percent"))).alias(
            "avg_daily_change_percent"
        ),
    )
