"""Cleaning stage: rename → cast → null-drop → logic filters → keep-last dedup.

Mirrors reference ``src/transform.py:112-204`` (P1-P7, O6 in SURVEY.md §2.2/§2.6)
as one narrow stage + one filter stage — no shuffle until the dedup. The
rows are hash-partitioned by ``symbol`` alone right before the dedup: that
one exchange satisfies the dedup window's (symbol, date) clustering, and
its sort on (symbol, date, extracted_at DESC) satisfies the (symbol ORDER BY
date) windows downstream, so ``enrich`` and ``observe_suite`` add neither
an exchange nor a sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Alpha-Vantage raw keys → canonical names (reference src/transform.py:112-123).
RAW_RENAME_MAP = {
    "1. open": "open",
    "2. high": "high",
    "3. low": "low",
    "4. close": "close",
    "5. volume": "volume",
}

CRITICAL_COLUMNS = ["open", "high", "low", "close", "volume", "date", "symbol"]


def ohlc_consistency_predicate(df: DataFrame) -> Column:
    """Rows to KEEP: high ≥ low, high ≥ open, high ≥ close, low ≤ open, low ≤ close.

    Reference removes the violating rows (src/transform.py:174-184).
    """
    c = F.col
    return ~(
        (c("high") < c("low"))
        | (c("high") < c("open"))
        | (c("high") < c("close"))
        | (c("low") > c("open"))
        | (c("low") > c("close"))
    )


def positive_price_predicate(df: DataFrame) -> Column:
    """Rows to KEEP: all prices > 0 and volume ≥ 0 (src/transform.py:187-197)."""
    c = F.col
    return (
        (c("open") > 0) & (c("high") > 0) & (c("low") > 0)
        & (c("close") > 0) & (c("volume") >= 0)
    )


def typed_quotes(raw: DataFrame) -> DataFrame:
    """Raw string-typed quote rows (RAW_QUOTE_SCHEMA) renamed to canonical
    names and cast to their types; the other columns pass through.

    Cast-with-null-on-error matches pandas ``to_numeric(errors='coerce')``
    (src/transform.py:133-136): Spark's cast of an invalid string is null,
    and ``clean_quotes``' null-drop then removes the row. On rows already
    typed this is a no-op: the optimizer drops same-type casts.
    """
    df = raw
    renames = {k: v for k, v in RAW_RENAME_MAP.items() if k in df.columns}
    if renames:
        df = df.withColumnsRenamed(renames)
    # try_cast, not cast: Spark 4 runs in ANSI mode where a malformed string
    # cast THROWS; pandas to_numeric(errors='coerce') semantics need
    # null-on-error, which try_cast provides.
    return df.withColumns(
        {
            "date": F.to_date("date"),
            "open": F.col("open").try_cast("double"),
            "high": F.col("high").try_cast("double"),
            "low": F.col("low").try_cast("double"),
            "close": F.col("close").try_cast("double"),
            "volume": F.col("volume").try_cast("bigint"),
        }
    )


def clean_quotes(raw: DataFrame) -> DataFrame:
    """Full cleaning pass over quote rows, raw (RAW_QUOTE_SCHEMA) or
    already passed through :func:`typed_quotes`.

    The optimizer pushes the filters below through ``typed_quotes``'
    casting projection into the scan, where each predicate casts its
    column again. A caller that observes metrics on ``typed_quotes(raw)``
    stops that push (``pipeline.run_pipeline`` does), so every raw field
    is cast once.
    """
    df = typed_quotes(raw).na.drop(subset=CRITICAL_COLUMNS)
    df = df.filter(ohlc_consistency_predicate(df))
    df = df.filter(positive_price_predicate(df))
    # hash(symbol), not the dedup's own hash(symbol, date): see the module
    # docstring. No partition count, so AQE coalesces it, in batch jobs and
    # in stream micro-batches alike (streaming/drive.py).
    return dedup_keep_last(
        df.repartition("symbol"), keys=["symbol", "date"], order_by=["extracted_at"]
    )


def dedup_keep_last(df: DataFrame, keys: list[str],
                    order_by: list[str]) -> DataFrame:
    """Keep-LAST dedup: per ``keys``, the row that sorts last by
    ``order_by``.

    pandas ``drop_duplicates(keep='last')`` keeps the last occurrence in
    input order (reference src/transform.py:199-204). Spark has no stable
    input order after a shuffle, so the winner must be picked by explicit
    ordering columns (SURVEY.md §7.2) — plain ``dropDuplicates`` would be
    an arbitrary-winner dedup.

    Scale note: row_number over (keys) is a single hash-shuffle on the
    keys (none if the input is already clustered on a subset of them, as
    in ``clean_quotes``). No global sort. AQE splits skewed JOIN
    partitions only, never a window's: a hot key stays on one task. The
    windows that need a bound on that use ``operators/skewsafe.py``.
    """
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_by])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
