"""Skew-safe enrich: halo-chunked windows for hot symbols.

The enrich spine windows over ``partitionBy(symbol)`` — correct and
single-exchange, but ONE task per symbol: a hot key holding 50% of rows
(SURVEY §4 notes listing-age skew) pins half the corpus on one task at
100 TB. Salting can't fix ordered windows (a rolling frame needs its
predecessors), so this module splits each hot symbol's series into
CONTIGUOUS chunks and duplicates a small "halo" of trailing rows into the
next chunk, making every window frame locally complete:

1. **Global row numbers without a global sort.** Per-(symbol, month)
   counts (combinable groupBy — skew-safe) → prefix-sum offsets over the
   tiny per-month table → local row_number within (symbol, month) + offset.
   No task ever sorts more than one month of one symbol.
2. **Even chunks.** ``chunk = rn div chunk_size`` with
   ``chunk_size = max(ceil(count / n_chunks), 2·halo)`` — guaranteed
   ≥ halo rows per non-last chunk; cold symbols fall into one chunk and
   take the plain path shape automatically.
3. **Halo.** The last ``LOOKBACK + 1`` rows of every non-last chunk are
   duplicated into the following chunk. The +1 covers the two-level
   dependency lag → rolling-stddev: the first halo row's daily_change is
   wrong (no predecessor), but only frames of OTHER halo rows can reach
   it — every main row's 19-row frame starts at halo position ≥ 1.
   Main-row results are therefore EXACTLY equal to the unchunked plan's
   (asserted row-for-row in tests/test_skew_io.py).
4. **Whole-partition percentile → grouped aggregate + broadcast
   join-back.** The volume-quartile window needs the full symbol
   partition, so the chunked path computes per-symbol quartiles with a
   groupBy (buffering ONE column, not whole sorted rows; at 100 TB switch
   the exact percentile to mergeable approx_percentile with documented
   tolerance).

Cost: one extra shuffle (the rn join) + halo duplication
(n_chunks · (LOOKBACK+1) rows per hot symbol — negligible). Win: the max
task for the window stage drops from |hot symbol| to ~|hot symbol| /
n_chunks. Use when a key exceeds what one executor core should hold;
the plain ``enrich`` stays the default (one exchange, zero joins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..schema import ENRICHED_COLUMNS
from .enrich import APPROX_ACCURACY, enrich

#: The deepest window frame the enrich spine uses: 19 preceding rows for
#: ma_20 / the rolling stddev.
LOOKBACK = 19


def with_global_row_numbers(df: DataFrame) -> DataFrame:
    """0-based row number ``__rn`` per symbol in date order, plus the
    symbol's total row count ``__cnt`` — WITHOUT sorting any whole symbol
    partition on one task.

    Requires dates unique per symbol (ticks are one row per
    (symbol, date)). Largest single sort is one (symbol, month) slice.
    """
    mcol = F.trunc(F.col("date"), "month")
    counts = df.groupBy(F.col("symbol"), mcol.alias("__m")).agg(
        F.count(F.lit(1)).alias("__c")
    )
    wo = Window.partitionBy("symbol").orderBy("__m")
    offsets = counts.select(
        "symbol",
        "__m",
        (F.sum("__c").over(wo) - F.col("__c")).alias("__off"),
        F.sum("__c").over(
            Window.partitionBy("symbol").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__cnt"),
    )
    wl = Window.partitionBy("symbol", "__m").orderBy("date")
    return (
        df.withColumn("__m", mcol)
        .join(offsets, ["symbol", "__m"])
        .withColumn("__rn", F.col("__off") + F.row_number().over(wl) - 1)
        .drop("__m", "__off")
    )


def enrich_skew_safe(
    df: DataFrame, n_chunks: int = 8, quartiles: str = "exact",
) -> DataFrame:
    """Drop-in replacement for ``enrich(df)`` that bounds the largest
    window task at ~1/n_chunks of the hottest symbol. Output is
    row-for-row EXACTLY equal to ``enrich(df)`` (same values, same
    types); only the physical partitioning differs.

    ``quartiles="approx"`` swaps the grouped exact percentile (which
    still buffers each symbol's full volume column in the aggregation
    buffer) for mergeable ``approx_percentile`` — the full 100 TB
    configuration: chunked windows bound the ordered-frame tasks AND no
    aggregation path buffers a whole hot key (see enrich()'s docstring
    for the tolerance contract).
    """
    halo = LOOKBACK + 1
    rn_df = with_global_row_numbers(df)
    chunk_size = F.greatest(
        F.ceil(F.col("__cnt") / F.lit(n_chunks)), F.lit(2 * halo)
    )
    last_idx = F.floor((F.col("__cnt") - 1) / chunk_size)
    base = rn_df.withColumn("__chunk", F.floor(F.col("__rn") / chunk_size))
    main = base.withColumn("__halo", F.lit(0))
    halo_rows = (
        base.filter(
            (F.col("__rn") % chunk_size >= chunk_size - F.lit(halo))
            & (F.col("__chunk") < last_idx)
        )
        .withColumn("__chunk", F.col("__chunk") + 1)
        .withColumn("__halo", F.lit(1))
    )
    unioned = main.unionByName(halo_rows).drop("__rn", "__cnt")

    if quartiles == "approx":
        qt = df.groupBy("symbol").agg(
            F.percentile_approx(
                "volume",
                F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
                F.lit(APPROX_ACCURACY),
            ).alias("__qs")
        )
        qt = qt.select(
            "symbol",
            F.col("__qs")[0].cast("double").alias("__q1"),
            F.col("__qs")[1].cast("double").alias("__q2"),
            F.col("__qs")[2].cast("double").alias("__q3"),
        )
    else:
        qt = df.groupBy("symbol").agg(
            F.percentile("volume", 0.25).alias("__q1"),
            F.percentile("volume", 0.50).alias("__q2"),
            F.percentile("volume", 0.75).alias("__q3"),
        )
    # EXPLICIT repartition, not ENSURE_REQUIREMENTS: hash(symbol) upstream
    # SATISFIES ClusteredDistribution(symbol, __chunk) — a subset clustering
    # is always sufficient — so if any plan change (e.g. AQE broadcasting
    # the rn join) leaves the stream hash(symbol)-partitioned, Catalyst
    # elides the finer exchange and the hot symbol silently lands back on
    # ONE window task. A user repartition is a hard requirement Spark keeps.
    prepared = (
        unioned.join(F.broadcast(qt), "symbol")
        .repartition("symbol", "__chunk")
    )
    out = enrich(
        prepared,
        window_partition=("symbol", "__chunk"),
        quartile_cols=("__q1", "__q2", "__q3"),
    )
    return out.filter(F.col("__halo") == 0).select(*ENRICHED_COLUMNS)
