"""Synthetic OHLCV generator (SURVEY.md §2.1 S13).

The reference generates random-walk sample data when the DB is down
(``dashboard/app.py:45-92``, 5 symbols × 100 days, gaussian noise). This
version is fully deterministic — pseudo-randomness comes from the same
md5→60-bit-integer primitive as the dedup operators (functions/text.py),
so the generator is reproducible across engines and runs, and even
oracle-checkable in DuckDB.

Plan shape: range(symbols) × sequence(dates) exploded → per-row hash
uniforms → windowed cumulative sum for the walk. No driver-side loops, no
rand() (nondeterministic under retry); scales to any (symbols × days)
without skew (uniform keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import md5_hash60

TWO_60 = float(1 << 60)

# The reference's sample set: 5 symbols × 100 days from a 150.0 base.
N_SYMBOLS = 5
N_DAYS = 100
BASE_PRICE = 150.0
START_DATE = "2024-01-01"
SEED = "s13"


def _uniform(seed: str, *cols) -> F.Column:
    """Deterministic U[0,1) from md5 of seed + column values."""
    return md5_hash60(F.concat_ws("|", F.lit(seed), *cols)) / F.lit(TWO_60)


def synthetic_quotes(spark: SparkSession) -> DataFrame:
    """symbol × date grid with a deterministic hash-driven random walk."""
    symbols = spark.range(N_SYMBOLS).select(F.col("id").alias("symbol"))
    days = F.explode(
        F.sequence(
            F.to_date(F.lit(START_DATE)),
            F.date_add(F.to_date(F.lit(START_DATE)), N_DAYS - 1),
        )
    ).alias("date")
    grid = symbols.select("symbol", days)
    sym = F.col("symbol").cast("string")
    day = F.col("date").cast("string")
    stepped = grid.withColumns(
        {
            # ±1 daily step and an intraday spread, both hash-derived
            "step": (_uniform(SEED + ":step", sym, day) - 0.5) * 2.0,
            "spread": _uniform(SEED + ":spread", sym, day) * 2.0,
            "u_vol": _uniform(SEED + ":vol", sym, day),
        }
    )
    w = Window.partitionBy("symbol").orderBy("date").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    walk = stepped.withColumn(
        "close",
        F.round(
            F.lit(BASE_PRICE) + F.col("symbol") * 10 + F.sum("step").over(w), 6
        ),
    )
    return walk.select(
        "symbol",
        "date",
        F.round(F.col("close") - F.col("step"), 6).alias("open"),
        F.round(F.col("close") + F.col("spread"), 6).alias("high"),
        F.round(F.col("close") - F.col("spread") - 0.5, 6).alias("low"),
        "close",
        (F.lit(1_000_000) + F.floor(F.col("u_vol") * 1_000_000))
        .cast("bigint")
        .alias("volume"),
    )


# DuckDB twin (same hash, same walk) for the oracle check.
SYNTHETIC_QUOTES_SQL = """
WITH grid AS (
    SELECT s.range AS symbol, CAST(d.gs AS DATE) AS date
    FROM range({n_symbols}) s,
         UNNEST(generate_series(DATE '{start}',
                DATE '{start}' + {last_off}, INTERVAL 1 DAY)) AS d(gs)
),
stepped AS (
    SELECT symbol, date,
        (('0x' || substr(md5('{seed}:step' || '|' || symbol || '|' ||
            strftime(date, '%Y-%m-%d')), 1, 15))::BIGINT
            / {two60} - 0.5) * 2.0 AS step,
        ('0x' || substr(md5('{seed}:spread' || '|' || symbol || '|' ||
            strftime(date, '%Y-%m-%d')), 1, 15))::BIGINT
            / {two60} * 2.0 AS spread,
        ('0x' || substr(md5('{seed}:vol' || '|' || symbol || '|' ||
            strftime(date, '%Y-%m-%d')), 1, 15))::BIGINT
            / {two60} AS u_vol
    FROM grid
),
walk AS (
    SELECT *, ROUND({base} + symbol * 10 + SUM(step) OVER (
        PARTITION BY symbol ORDER BY date
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS close
    FROM stepped
)
SELECT symbol, date,
       ROUND(close - step, 6)          AS open,
       ROUND(close + spread, 6)        AS high,
       ROUND(close - spread - 0.5, 6)  AS low,
       close,
       CAST(1000000 + FLOOR(u_vol * 1000000) AS BIGINT) AS volume
FROM walk
"""


def synthetic_quotes_oracle() -> str:
    return SYNTHETIC_QUOTES_SQL.format(
        n_symbols=N_SYMBOLS,
        start=START_DATE,
        last_off=N_DAYS - 1,
        seed=SEED,
        two60=f"{TWO_60:.1f}",
        base=BASE_PRICE,
    )
