"""Query registry: every SURVEY.md §2 operator as a (Spark builder, DuckDB
oracle SQL) pair, consumed by ``__spark_entry__.py``.

Builder signature: ``(spark, sf_dir) -> DataFrame``. Column names are
aliased identically on both sides (the driver's compare sorts columns by
name before hashing). Float policy: see oracles.py docstring.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.dateparts import with_date_parts
from .operators.clean import dedup_keep_last
from .operators.enrich import enrich
from .oracles import RANKED_DESC_CTE, WITH_ENRICHED, WITH_TICKS
from .plans.analytics import (
    db_summary,
    performance_summary,
    predictions,
    top_movers,
    trading_signals,
)
from .plans.quality import validation_aggregates
from .sources.tables import load_table
from .sources.ticks import ticks

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            # a silent override would shadow a query while its old oracle
            # row kept passing — fail at import time instead
            raise ValueError(f"duplicate registry query name: {name}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


# Driver-gate sampling history, derived MECHANICALLY from the committed
# CORRECTNESS_r*.json files (the driver's own per-round records) rather
# than a hand-maintained list a typo could silently corrupt (ADVICE r6).
# Maps query name -> latest round number in which the driver's 50-entry
# gate certified it. Names that appear in a CORRECTNESS file but not in
# the registry fail LOUDLY at queries() time unless explicitly retired.
_RETIRED: frozenset[str] = frozenset()  # queries removed after being sampled


def _driver_sample_history() -> dict[str, int]:
    import json
    import re as _re
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    green: dict[str, int] = {}
    failed: dict[str, int] = {}
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        m = _re.search(r"r(\d+)", f.name)
        rnd = int(m.group(1)) if m else 0
        try:
            data = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, rec in data.items():
            # A FAILED gate entry is not a certification (ADVICE r7):
            # a real err, or an explicit hash/rows mismatch, must put
            # the query at the FRONT of the LRU re-gate queue, not the
            # back. The driver's 'no_oracle' marker for rows-only
            # queries is the weaker check SUCCEEDING (spark_rows
            # recorded), not a failure.
            is_failure = isinstance(rec, dict) and (
                (rec.get("err") not in (None, "no_oracle"))
                or rec.get("hash_match") is False
                or rec.get("rows_match") is False
            )
            d = failed if is_failure else green
            d[name] = max(d.get(name, 0), rnd)
    hist: dict[str, int] = {}
    for name in set(green) | set(failed):
        g = green.get(name, 0)
        # a failure NEWER than the last green round = uncertified
        # regression → round 0 sorts first in the backfill tier
        hist[name] = 0 if failed.get(name, 0) > g else g
    return hist


_SAMPLE_HISTORY = _driver_sample_history()
DRIVER_SAMPLED = frozenset(_SAMPLE_HISTORY)

# How many entries the driver's correctness gate samples off the front.
DRIVER_SAMPLE_WINDOW = 50


def queries() -> dict[str, QueryFn]:
    """Registry in driver-gate order: the gate reads the FIRST 50 of
    this dict, so we lead with oracled queries the driver has NEVER
    certified (registration order), so each round the gate covers a
    fresh slice of the registry instead of re-running the same prefix.
    Once the never-sampled debt runs out, the remainder of the window
    backfills with the LEAST-RECENTLY-certified oracled queries
    (oldest round first, name tiebreak) so previously-green queries
    rotate back under the gate and a regression in them stays
    driver-visible. Then the remaining oracled queries, then rows-only
    entries last so the driver's 50-row sample is always 50
    hash-comparable rows."""
    # queries() is the driver's production entry point: a stale history
    # name (rename without retiring) must NOT brick all registered
    # queries at runtime (ADVICE r7). Warn here; the LOUD version of
    # this check lives in tests/test_registry.py::
    # test_driver_sampled_is_derived_from_correctness_files.
    unknown = (set(_SAMPLE_HISTORY) - set(_QUERIES)) - _RETIRED
    if unknown:
        import warnings

        warnings.warn(
            "CORRECTNESS history names missing from registry "
            f"(rename/removal without retiring them): {sorted(unknown)}",
            stacklevel=2,
        )
    # Single source of truth: membership and sort key both come from
    # _SAMPLE_HISTORY (DRIVER_SAMPLED is a frozen convenience view; if
    # the two ever diverge — e.g. a test monkeypatching only one —
    # queries() must not brick on a KeyError).
    fresh = [
        n for n in _QUERIES
        if n in _ORACLES and n not in _SAMPLE_HISTORY
    ]
    lead = fresh[:DRIVER_SAMPLE_WINDOW]
    if len(lead) < DRIVER_SAMPLE_WINDOW:
        resample = sorted(
            (n for n in _QUERIES if n in _ORACLES and n in _SAMPLE_HISTORY),
            key=lambda n: (_SAMPLE_HISTORY.get(n, 0), n),
        )
        lead += resample[: DRIVER_SAMPLE_WINDOW - len(lead)]
    lead_set = set(lead)
    oracled_rest = [
        n for n in _QUERIES if n in _ORACLES and n not in lead_set
    ]
    rows_only = [n for n in _QUERIES if n not in _ORACLES]
    return {n: _QUERIES[n] for n in (*lead, *oracled_rest, *rows_only)}


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


def _enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    return enrich(ticks(spark, sf_dir))


def _r6(c: str):
    return F.round(F.col(c), 6).alias(c)


def cents(col: str):
    """2dp money column → exact integer cents (long). The parquet doubles
    are 2dp values, so ×100 lands within ulps of an integer and the
    round-to-nearest is identical in both engines."""
    return F.round(F.col(col) * 100, 0).cast("long")


def avg_cents(col_name: str):
    """Exact money average: ROUND(Σcents / (100·COUNT(col)), 6).

    The sf1 oracle run (NOTES round 4) showed float AVG over 2dp money
    crossing the 6dp half-step once group volume is large enough — and
    every grouped money average's group GROWS with sf. Σcents is exact
    int64 (headroom ~sf10000), int→double conversion and the division
    are correctly rounded identically in both engines, so this is
    bit-identical at any scale. Oracle twin:
    ROUND(SUM(CAST(ROUND(x*100, 0) AS BIGINT)) / (100.0*COUNT(x)), 6).
    """
    return F.round(
        F.sum(cents(col_name)) / (F.lit(100.0) * F.count(col_name)), 6
    )


def revenue_sum_dec():
    """Exact lineitem money sum via scaled-integer (cents) arithmetic.

    Float SUM order-noise grows with data volume — at sf0.1 it crosses a
    6dp rounding half-step, and 2dp rounding hits exact .xx5 grid ties —
    so NO float rounding scale is safe for money sums. Summing
    price_cents × (100 − discount_cents) is exact int64 math (fits until
    ~sf10; switch to DECIMAL beyond), stays inside whole-stage codegen
    (unlike Decimal128 aggregation, measured ~2× slower), and the final
    ÷10⁴ of identical integers yields identical doubles on both engines."""
    return (
        F.sum(
            cents("l_extendedprice")
            * (F.lit(100) - cents("l_discount"))
        )
        / F.lit(10000.0)
    )



# ---------------------------------------------------------------------------
# Sources / cleaning (S*, P*, O6)
# ---------------------------------------------------------------------------

@register("ticks_ohlcv", WITH_TICKS + "SELECT * FROM ticks")
def q_ticks_ohlcv(spark, sf_dir):
    """S-layer: lineitem → per-(symbol,date) OHLCV series (sources/ticks.py)."""
    return ticks(spark, sf_dir)


@register(
    "clean_filters",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
           l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS revenue
    FROM lineitem
    WHERE l_quantity > 0 AND l_extendedprice > 0
      AND l_discount BETWEEN 0 AND 1 AND l_tax >= 0
    """,
)
def q_clean_filters(spark, sf_dir):
    """P5-P7 analog: positivity/logic predicates + projected row expr."""
    li = load_table(spark, sf_dir, "lineitem")
    c = F.col
    return li.filter(
        (c("l_quantity") > 0)
        & (c("l_extendedprice") > 0)
        & c("l_discount").between(0, 1)
        & (c("l_tax") >= 0)
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        (
            c("l_extendedprice") * (F.lit(1.0) - c("l_discount"))
            * (F.lit(1.0) + c("l_tax"))
        ).alias("revenue"),
    )


@register(
    "dedup_keep_last",
    """
    SELECT user_id, event_type, event_id, value
    FROM (
        SELECT e.*, ROW_NUMBER() OVER (
            PARTITION BY user_id, event_type
            ORDER BY ts DESC, event_id DESC) AS rn
        FROM events e
    ) WHERE rn = 1
    """,
)
def q_dedup_keep_last(spark, sf_dir):
    """O6: keep-last dedup with deterministic tiebreak (operators/clean.py).

    pandas drop_duplicates(keep='last') equivalent — latest ts wins,
    event_id breaks exact-ts ties (SURVEY.md §7.2).
    """
    from .sources.events import load_events

    ev = load_events(spark, sf_dir)
    return dedup_keep_last(
        ev, keys=["user_id", "event_type"], order_by=["ts", "event_id"]
    ).select("user_id", "event_type", "event_id", "value")


@register(
    "date_parts",
    """
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE)                        AS date,
           CAST(year(o_orderdate) AS INTEGER)               AS year,
           CAST(month(o_orderdate) AS INTEGER)              AS month,
           CAST(quarter(o_orderdate) AS INTEGER)            AS quarter,
           CAST((dayofweek(o_orderdate) + 6) % 7 AS INTEGER) AS day_of_week,
           CAST(weekofyear(o_orderdate) AS INTEGER)         AS week_of_year
    FROM orders
    """,
)
def q_date_parts(spark, sf_dir):
    """F1: date parts with pandas dayofweek convention (functions/dateparts)."""
    orders = load_table(spark, sf_dir, "orders")
    df = orders.select(
        "o_orderkey", F.to_date("o_orderdate").alias("date")
    )
    return with_date_parts(df)


# ---------------------------------------------------------------------------
# Window operators over the enriched table (W1-W9, F2-F5, A7)
# ---------------------------------------------------------------------------

_ENRICHED_FEATURES_ORACLE = (
    WITH_ENRICHED
    + """
    SELECT symbol, date, close, volume,
           daily_change, daily_change_percent,
           price_range, price_range_percent,
           is_positive_day, is_negative_day,
           ROUND(ma_5, 6)                 AS ma_5,
           ROUND(ma_20, 6)                AS ma_20,
           ROUND(volatility_indicator, 6) AS volatility_indicator,
           ROUND(price_vs_ma5, 6)         AS price_vs_ma5,
           ROUND(price_vs_ma20, 6)        AS price_vs_ma20
    FROM enriched
    """
)

_ENRICHED_FEATURES_COLS = [
    "symbol", "date", "close", "volume",
    "daily_change", "daily_change_percent",
    "price_range", "price_range_percent",
    "is_positive_day", "is_negative_day",
]


def _enriched_features_select(e: DataFrame) -> DataFrame:
    return e.select(
        *_ENRICHED_FEATURES_COLS,
        _r6("ma_5"), _r6("ma_20"), _r6("volatility_indicator"),
        _r6("price_vs_ma5"), _r6("price_vs_ma20"),
    )


@register("enriched_features", _ENRICHED_FEATURES_ORACLE)
def q_enriched_features(spark, sf_dir):
    """W1-W4 + F2/F3: the full windowed feature set (operators/enrich.py)."""
    return _enriched_features_select(_enriched(spark, sf_dir))


@register(
    "enriched_categories",
    WITH_ENRICHED
    + """
    SELECT symbol, date, volume, volume_category, volatility_category,
           year, month, quarter, day_of_week, week_of_year
    FROM enriched
    """,
)
def q_enriched_categories(spark, sf_dir):
    """F1/F4/F5 + A7/J2: bucketing against per-symbol quartiles + date parts."""
    return _enriched(spark, sf_dir).select(
        "symbol", "date", "volume", "volume_category", "volatility_category",
        "year", "month", "quarter", "day_of_week", "week_of_year",
    )


@register("enriched_volume_approx_quartiles")  # rows-only: approx_percentile is engine-specific
def q_enriched_volume_approx_quartiles(spark, sf_dir):
    """The 100 TB configuration of the quartile bucketing: per-symbol
    volume quartiles via MERGEABLE approx_percentile (grouped aggregate +
    broadcast join-back — no whole-partition percentile buffer in the
    plan, asserted in test_plan_shapes.py) instead of the exact
    whole-partition window percentile. Rows-only by design
    (approx_percentile's retained samples are engine-specific); the exact
    twin is hash-green `enriched_categories`, and bucket-label agreement
    between the two paths is asserted within the rank-error tolerance in
    tests/test_enrich.py."""
    e = enrich(ticks(spark, sf_dir), quartiles="approx")
    return e.select("symbol", "date", "volume", "volume_category")


@register("enriched_features_skew_safe", _ENRICHED_FEATURES_ORACLE)
def q_enriched_features_skew_safe(spark, sf_dir):
    """The halo-chunked hot-key configuration of the enrich spine
    (operators/skewsafe.py), registered under the SAME DuckDB oracle as
    `enriched_features`: hashing green here is a driver-visible
    certificate that bounding the largest window task at ~1/n_chunks of
    the hottest symbol changes NOTHING in the output — same values, same
    types, row for row — not just a claim in a unit test
    (tests/test_skew_io.py asserts the row equality; this makes it an
    oracle-checked query). The physical plan differs deliberately:
    windows run over (symbol, __chunk) with a halo of lookback rows, so
    a symbol holding 50% of all rows at 100× scale no longer serializes
    into one task."""
    from .operators.skewsafe import enrich_skew_safe

    return _enriched_features_select(
        enrich_skew_safe(ticks(spark, sf_dir), n_chunks=8)
    )


@register(
    "latest_per_symbol",
    WITH_ENRICHED + ", " + RANKED_DESC_CTE
    + "SELECT symbol, date, close, volume FROM ranked WHERE rn = 1",
)
def q_latest_per_symbol(spark, sf_dir):
    """W6: latest-row-per-group via row_number desc."""
    w = Window.partitionBy("symbol").orderBy(F.col("date").desc())
    return (
        _enriched(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("symbol", "date", "close", "volume")
    )


@register(
    "topk_recent_per_symbol",
    WITH_ENRICHED + ", " + RANKED_DESC_CTE
    + """
    SELECT symbol, date, close, CAST(rn AS INTEGER) AS recency_rank
    FROM ranked WHERE rn <= 5
    """,
)
def q_topk_recent_per_symbol(spark, sf_dir):
    """W7: top-k most-recent rows per group."""
    w = Window.partitionBy("symbol").orderBy(F.col("date").desc())
    return (
        _enriched(spark, sf_dir)
        .withColumn("recency_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("recency_rank") <= 5)
        .select("symbol", "date", "close", "recency_rank")
    )


@register(
    "first_last_return",
    WITH_TICKS
    + """
    SELECT symbol,
           arg_min(close, date) AS start_price,
           arg_max(close, date) AS latest_price,
           (arg_max(close, date) - arg_min(close, date))
               / arg_min(close, date) * 100 AS total_return_pct
    FROM ticks GROUP BY symbol
    """,
)
def q_first_last_return(spark, sf_dir):
    """W8: ordered first/last value per group as min_by/max_by aggregates."""
    t = ticks(spark, sf_dir)
    return t.groupBy("symbol").agg(
        F.min_by("close", "date").alias("start_price"),
        F.max_by("close", "date").alias("latest_price"),
        (
            (F.max_by("close", "date") - F.min_by("close", "date"))
            / F.min_by("close", "date") * 100
        ).alias("total_return_pct"),
    )


@register(
    "days_ago_global_max",
    WITH_TICKS
    + """
    SELECT symbol, date,
           CAST((SELECT MAX(date) FROM ticks) - date AS INTEGER) AS days_ago
    FROM ticks
    """,
)
def q_days_ago_global_max(spark, sf_dir):
    """J3/W9: global scalar aggregate joined to every row (broadcast).

    max(date over ticks) == max(to_date(l_shipdate)) by construction, so
    the scalar branch aggregates the raw single-column scan instead of
    re-running the ticks shuffle."""
    t = ticks(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    maxd = li.agg(F.max(F.to_date("l_shipdate")).alias("__max_date"))
    return t.crossJoin(F.broadcast(maxd)).select(
        "symbol",
        "date",
        F.datediff("__max_date", "date").cast("int").alias("days_ago"),
    )


@register(
    "stride_sample",
    WITH_TICKS
    + """
    SELECT symbol, date, close
    FROM (
        SELECT t.*, ROW_NUMBER() OVER (
            PARTITION BY symbol ORDER BY date) AS rn
        FROM ticks t
    ) WHERE (rn - 1) % 5 = 0
    """,
)
def q_stride_sample(spark, sf_dir):
    """O8: deterministic every-Nth-row sampling per symbol."""
    w = Window.partitionBy("symbol").orderBy("date")
    return (
        ticks(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") - 1) % 5 == 0)
        .select("symbol", "date", "close")
    )


# ---------------------------------------------------------------------------
# Aggregations (A1-A12)
# ---------------------------------------------------------------------------

@register(
    "performance_summary",
    WITH_ENRICHED
    + """
    SELECT symbol,
           arg_max(close, date)                        AS latest_price,
           ROUND(AVG(close), 6)                        AS avg_price,
           MIN(close)                                  AS min_price,
           MAX(close)                                  AS max_price,
           arg_min(close, date)                        AS start_price,
           ROUND(AVG(daily_change_percent), 6)         AS avg_daily_change_pct,
           CAST(SUM(volume) AS BIGINT) / 1000000.0     AS total_volume_millions,
           (arg_max(close, date) - arg_min(close, date))
               / arg_min(close, date) * 100            AS total_return_pct
    FROM enriched GROUP BY symbol
    """,
)
def q_performance_summary(spark, sf_dir):
    """A6: per-symbol performance summary (plans/analytics.py)."""
    df = performance_summary(_enriched(spark, sf_dir))
    return df.select(
        "symbol", "latest_price", _r6("avg_price"), "min_price", "max_price",
        "start_price", _r6("avg_daily_change_pct"), "total_volume_millions",
        "total_return_pct",
    )


@register(
    "db_summary",
    WITH_ENRICHED
    + """
    SELECT CAST(COUNT(*) AS BIGINT)            AS total_records,
           CAST(COUNT(DISTINCT symbol) AS BIGINT) AS unique_symbols,
           MIN(date)                           AS earliest_date,
           MAX(date)                           AS latest_date,
           ROUND(SUM(CASE WHEN close IS NOT NULL
                     THEN CAST(ROUND(close * 100, 0) AS BIGINT) END)
                 / (100.0 * COUNT(close)), 6)                          AS avg_close,
           ROUND(AVG(CASE WHEN close IS NOT NULL THEN volume END), 6) AS avg_volume,
           ROUND(AVG(CASE WHEN close IS NOT NULL
                     THEN daily_change_percent END), 6) AS avg_daily_change_percent
    FROM enriched
    """,
)
def q_db_summary(spark, sf_dir):
    """C6/A1-A4: the five summary queries as one conditional-agg pass."""
    df = db_summary(_enriched(spark, sf_dir))
    return df.select(
        "total_records", "unique_symbols", "earliest_date", "latest_date",
        _r6("avg_close"), _r6("avg_volume"), _r6("avg_daily_change_percent"),
    )


@register(
    "distinct_symbols",
    WITH_TICKS + "SELECT DISTINCT symbol FROM ticks ORDER BY symbol",
)
def q_distinct_symbols(spark, sf_dir):
    """A5: DISTINCT + ORDER BY."""
    return ticks(spark, sf_dir).select("symbol").distinct().orderBy("symbol")


@register(
    "category_value_counts",
    WITH_ENRICHED
    + """
    SELECT volatility_category, CAST(COUNT(*) AS BIGINT) AS n
    FROM enriched GROUP BY volatility_category
    """,
)
def q_category_value_counts(spark, sf_dir):
    """A9: value_counts over a derived categorical."""
    return (
        _enriched(spark, sf_dir)
        .groupBy("volatility_category")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "group_summary_counts",
    WITH_ENRICHED
    + """
    SELECT symbol,
           CAST(COUNT(*) AS BIGINT)   AS trading_days,
           MIN(date)                  AS first_date,
           MAX(date)                  AS last_date,
           ROUND(AVG(daily_change_percent), 6) AS avg_change_pct,
           CAST(SUM(CASE WHEN is_positive_day THEN 1 ELSE 0 END) AS BIGINT) AS positive_days,
           CAST(SUM(CASE WHEN is_negative_day THEN 1 ELSE 0 END) AS BIGINT) AS negative_days
    FROM enriched GROUP BY symbol
    """,
)
def q_group_summary_counts(spark, sf_dir):
    """A11: conditional aggregation (sum-when) per group."""
    e = _enriched(spark, sf_dir)
    return e.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("trading_days"),
        F.min("date").alias("first_date"),
        F.max("date").alias("last_date"),
        F.round(F.avg("daily_change_percent"), 6).alias("avg_change_pct"),
        F.sum(F.when(F.col("is_positive_day"), 1).otherwise(0))
        .cast("bigint").alias("positive_days"),
        F.sum(F.when(F.col("is_negative_day"), 1).otherwise(0))
        .cast("bigint").alias("negative_days"),
    )


@register(
    "validation_aggregates",
    WITH_TICKS
    + """
    SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
           CAST(SUM(CASE WHEN symbol IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_symbol,
           CAST(SUM(CASE WHEN date IS NULL THEN 1 ELSE 0 END) AS BIGINT)   AS null_date,
           CAST(SUM(CASE WHEN close IS NULL THEN 1 ELSE 0 END) AS BIGINT)  AS null_close,
           CAST(SUM(CASE WHEN NOT close BETWEEN 0 AND 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS close_out_of_range,
           CAST(SUM(CASE WHEN volume < 0 THEN 1 ELSE 0 END) AS BIGINT)     AS negative_volume,
           CAST(SUM(CASE WHEN high < low THEN 1 ELSE 0 END) AS BIGINT)     AS high_lt_low,
           CAST(COUNT(*) - COUNT(DISTINCT (symbol, date)) AS BIGINT)       AS duplicate_keys
    FROM ticks
    """,
)
def q_validation_aggregates(spark, sf_dir):
    """A12/§2.8: the GX expectation suite as ONE conditional-agg scan."""
    return validation_aggregates(ticks(spark, sf_dir))


# ---------------------------------------------------------------------------
# Joins (J1-J4) + TPC-H-style scale queries
# ---------------------------------------------------------------------------

@register(
    "supplier_latest_left",
    WITH_TICKS
    + """
    , latest AS (
        SELECT symbol, arg_max(close, date) AS latest_close,
               MAX(date) AS latest_date
        FROM ticks GROUP BY symbol
    )
    SELECT s.s_suppkey, s.s_name, l.latest_close, l.latest_date
    FROM supplier s LEFT JOIN latest l ON s.s_suppkey = l.symbol
    """,
)
def q_supplier_latest_left(spark, sf_dir):
    """J1: left join of the requested-keys dimension against results —
    nulls mark missing fetches."""
    sup = load_table(spark, sf_dir, "supplier")
    latest = ticks(spark, sf_dir).groupBy("symbol").agg(
        F.max_by("close", "date").alias("latest_close"),
        F.max("date").alias("latest_date"),
    )
    return sup.join(
        latest, sup.s_suppkey == latest.symbol, "left"
    ).select("s_suppkey", "s_name", "latest_close", "latest_date")


@register(
    "revenue_by_nation",
    """
    SELECT r.r_name AS region, n.n_name AS nation,
           SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) / 10000.0 AS revenue,
           CAST(COUNT(*) AS BIGINT) AS lines
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
)
def q_revenue_by_nation(spark, sf_dir):
    """J4: fact × broadcast dims (supplier→nation→region), grouped revenue.

    The three dimension joins broadcast (tiny tables at any SF) — the only
    shuffle is the final group-by, with map-side partial aggregation.
    """
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            revenue_sum_dec().alias("revenue"),
            F.count(F.lit(1)).alias("lines"),
        )
    )


@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(l_quantity) AS BIGINT)      AS sum_qty,
           SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
           SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) / 10000.0 AS sum_disc_price,
           SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) * (100 + CAST(ROUND(l_tax * 100) AS BIGINT))) / 1000000.0 AS sum_charge,
           ROUND(AVG(l_quantity), 6)            AS avg_qty,
           ROUND(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                 / (100.0 * COUNT(l_extendedprice)), 6) AS avg_price,
           ROUND(SUM(CAST(ROUND(l_discount * 100, 0) AS BIGINT))
                 / (100.0 * COUNT(l_discount)), 6)      AS avg_disc,
           CAST(COUNT(*) AS BIGINT)             AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-01-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary — the canonical scan+agg scale probe."""
    li = load_table(spark, sf_dir, "lineitem")
    c = F.col
    disc_cents = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        li.filter(c("l_shipdate") <= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("bigint").alias("sum_qty"),
            (F.sum(cents("l_extendedprice")) / F.lit(100.0)).alias(
                "sum_base_price"
            ),
            (F.sum(disc_cents) / F.lit(10000.0)).alias("sum_disc_price"),
            (
                F.sum(disc_cents * (F.lit(100) + cents("l_tax")))
                / F.lit(1000000.0)
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            avg_cents("l_extendedprice").alias("avg_price"),
            avg_cents("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Composite analytics (C1-C4)
# ---------------------------------------------------------------------------

_PREDICTIONS_SQL = (
    WITH_ENRICHED + ", " + RANKED_DESC_CTE
    + """
    , recent AS (
        SELECT symbol,
               ROUND(AVG(daily_change_percent), 6)         AS avg_daily_change,
               ROUND(STDDEV_SAMP(daily_change_percent), 6) AS recent_volatility
        FROM ranked WHERE rn <= 5 GROUP BY symbol
    ),
    latest AS (
        -- 6dp rounding at the aggregate boundary keeps downstream arithmetic
        -- bit-identical with the Spark side (see plans/analytics.py)
        SELECT symbol, close AS current_price,
               ROUND(ma_5, 6) AS ma_5, ROUND(ma_20, 6) AS ma_20,
               date AS latest_date
        FROM ranked WHERE rn = 1 AND cnt >= 20
    ),
    pred0 AS (
        SELECT l.*, r.avg_daily_change, r.recent_volatility,
               CASE WHEN l.ma_5 > l.ma_20 THEN 'BULLISH' ELSE 'BEARISH' END AS trend,
               ABS(l.ma_5 - l.ma_20) / l.ma_20 * 100 AS trend_strength
        FROM latest l JOIN recent r USING (symbol)
    ),
    pred1 AS (
        SELECT p.*,
               CASE WHEN trend = 'BULLISH'
                    THEN LEAST(trend_strength * 0.3 + avg_daily_change * 0.7, 5.0)
                    ELSE GREATEST(-trend_strength * 0.3 + avg_daily_change * 0.7, -5.0)
               END AS predicted_change_percent
        FROM pred0 p
    ),
    pred AS (
        SELECT p.*,
               current_price * (1 + predicted_change_percent / 100) AS predicted_price
        FROM pred1 p
    )
    -- 6dp output rounding, not the reference's 2dp display rounding:
    -- these columns live on fine decimal grids (money/20-row averages →
    -- multiples of 5e-4), so exact .xx5 TIES at 2dp are common and Spark
    -- (half-up on the shortest decimal repr) and DuckDB (binary scaling)
    -- resolve the same double differently — first observed at sf0.1.
    -- 6dp is BELOW the grids' resolution, so rounding there is tie-free.
    -- 2dp is presentation-layer formatting (F13, out of engine scope).
    SELECT symbol,
           ROUND(current_price, 2)  AS current_price,
           ROUND(predicted_price, 6) AS predicted_price,
           ROUND(predicted_price - current_price, 6) AS predicted_change,
           ROUND(predicted_change_percent, 6) AS predicted_change_percent,
           trend,
           ROUND(trend_strength, 6) AS trend_strength,
           CASE WHEN trend_strength > 5.0 AND COALESCE(recent_volatility, 1e308) < 2.0 THEN 'HIGH'
                WHEN trend_strength > 2.0 AND COALESCE(recent_volatility, 1e308) < 4.0 THEN 'MEDIUM'
                ELSE 'LOW' END AS confidence,
           ROUND(ma_5, 6)  AS ma_5,
           ROUND(ma_20, 6) AS ma_20,
           ROUND(recent_volatility, 6) AS recent_volatility,
           STRFTIME(latest_date + 1, '%Y-%m-%d') AS prediction_date,
           STRFTIME(latest_date, '%Y-%m-%d')     AS asof_date
    FROM pred
    """
)


@register("predictions", _PREDICTIONS_SQL)
def q_predictions(spark, sf_dir):
    """C1/C2: loop-free next-day predictions (plans/analytics.py)."""
    return predictions(_enriched(spark, sf_dir), recompute_mas=True)


@register(
    "top_gainers",
    _PREDICTIONS_SQL + " ORDER BY predicted_change_percent DESC, symbol LIMIT 5",
)
def q_top_gainers(spark, sf_dir):
    """C4: top-k predicted gainers (TakeOrderedAndProject)."""
    return top_movers(
        _enriched(spark, sf_dir), top_n=5, kind="gainers", recompute_mas=True
    )


@register(
    "top_losers",
    _PREDICTIONS_SQL + " ORDER BY predicted_change_percent ASC, symbol LIMIT 5",
)
def q_top_losers(spark, sf_dir):
    """C4: top-k predicted losers."""
    return top_movers(
        _enriched(spark, sf_dir), top_n=5, kind="losers", recompute_mas=True
    )


@register(
    "trading_signals",
    WITH_ENRICHED
    + """
    , ranked AS (
        SELECT e.*, ROW_NUMBER() OVER (
            PARTITION BY symbol ORDER BY date DESC) AS rn
        FROM enriched e
    ),
    lagged AS (
        SELECT l.*,
               LAG(ma_5)  OVER w AS prev5,
               LAG(ma_20) OVER w AS prev20
        FROM (SELECT * FROM ranked WHERE rn <= 10) l
        WINDOW w AS (PARTITION BY symbol ORDER BY date)
    ),
    sig AS (
        SELECT *,
               CASE WHEN prev5 <= prev20 AND ma_5 > ma_20 THEN 'BUY'
                    WHEN prev5 >= prev20 AND ma_5 < ma_20 THEN 'SELL'
               END AS signal
        FROM lagged
    )
    SELECT symbol, signal,
           CASE WHEN signal = 'BUY' THEN 'Golden Cross'
                ELSE 'Death Cross' END AS signal_type,
           date, close AS price,
           ROUND(ma_5, 6)  AS ma_5,
           ROUND(ma_20, 6) AS ma_20,
           CAST((SELECT MAX(date) FROM enriched) - date AS INTEGER) AS days_ago
    FROM sig WHERE signal IS NOT NULL
    """,
)
def q_trading_signals(spark, sf_dir):
    """C3/W5: MA-crossover signals with global-max days_ago.

    max(date) comes straight off the lineitem scan (equal to the enriched
    table's max date by construction) — avoids duplicating the enrich
    subtree into the broadcast branch.
    """
    li = load_table(spark, sf_dir, "lineitem")
    max_date = li.agg(F.max(F.to_date("l_shipdate")).alias("__max_date"))
    df = trading_signals(
        _enriched(spark, sf_dir), max_date_df=max_date, recompute_mas=True
    )
    return df.select(
        "symbol", "signal", "signal_type", "date", "price",
        _r6("ma_5"), _r6("ma_20"), "days_ago",
    )


# Import at module bottom: registry_llm registers the LLM-data-pipeline
# queries (dedup/similarity/text) via the decorator above.
from . import registry_llm  # noqa: E402,F401
from . import registry_ext  # noqa: E402,F401
from . import registry_ext2  # noqa: E402,F401
from . import registry_dim  # noqa: E402,F401
from . import registry_fin  # noqa: E402,F401
from . import registry_ext3  # noqa: E402,F401
from . import registry_sketch  # noqa: E402,F401
from . import registry_tpch  # noqa: E402,F401
from . import registry_tpch2  # noqa: E402,F401
from . import registry_fin2  # noqa: E402,F401
from . import registry_llm2  # noqa: E402,F401
from . import registry_llm3  # noqa: E402,F401
from . import registry_fin3  # noqa: E402,F401
from . import registry_llm4  # noqa: E402,F401
from . import registry_stats  # noqa: E402,F401
from . import registry_fin4  # noqa: E402,F401
from . import registry_ext4  # noqa: E402,F401
from . import registry_llm5  # noqa: E402,F401
from . import registry_fin5  # noqa: E402,F401
from . import registry_ext5  # noqa: E402,F401
from . import registry_fin6  # noqa: E402,F401
from . import registry_llm6  # noqa: E402,F401
from . import registry_ext6  # noqa: E402,F401
from . import registry_stats2  # noqa: E402,F401
from . import registry_stats3  # noqa: E402,F401
from . import registry_twin  # noqa: E402,F401
from . import registry_stats4  # noqa: E402,F401
from . import registry_ext7  # noqa: E402,F401
from . import registry_ext8  # noqa: E402,F401

# Rows-only registry entry → its hash-green driver-oracled exact/anchor
# twin (VERDICT r10 #4: the pairing, long documented per-query in
# docstrings and certified in pytest, made driver-visible in one place).
# Frozen by tests/test_registry.py: every rows-only query appears here,
# and every twin is a registered, ORACLED query.
TWINS = {
    "approx_stats": "describe_stats",
    "ann_ivf_topk": "ann_ivf_full_probe",
    "ann_pq_topk": "embedding_cosine_topk",
    "ann_ivf_pq_topk": "embedding_cosine_topk",
    "enriched_volume_approx_quartiles": "enriched_features",
    "part_pagerank": "part_pagerank_int",
    "semantic_dedup": "embedding_near_pairs",
    "sketch_distinct_rollup_merge": "distinct_custkeys_by_priority",
    "sketch_price_quantiles": "priority_price_percentiles",
    "sketch_rolling_active_users": "rolling_active_users",
    "sketch_token_counts": "token_frequencies",
    "theta_customer_set_algebra": "customer_priority_set_algebra",
}
