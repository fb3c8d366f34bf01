"""Second extension block: as-of join, raw-quote cleaning under oracle,
part-dimension join, ROLLUP aggregation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators.asof import asof_join
from .operators.clean import clean_quotes
from .oracles import WITH_TICKS
from .registry import avg_cents, register, revenue_sum_dec
from .sources.tables import load_table
from .sources.ticks import ticks


@register(
    "asof_last_order_value",
    WITH_TICKS
    + """
    , order_feed AS (
        SELECT o_custkey AS symbol, CAST(o_orderdate AS DATE) AS odate,
               MAX(o_totalprice) AS order_value
        FROM orders GROUP BY 1, 2
    )
    SELECT t.symbol, t.date, t.close,
           f.odate       AS asof_odate,
           f.order_value AS asof_order_value
    FROM ticks t
    ASOF LEFT JOIN order_feed f
        ON t.symbol = f.symbol AND f.odate <= t.date
    """,
)
def q_asof_last_order_value(spark, sf_dir):
    """As-of join: each tick gets the most recent order (date + value) of
    the same key at-or-before the tick date (operators/asof.py — union +
    ordered window, one shuffle; DuckDB's native ASOF JOIN is the oracle).

    The oracle's feed is MAX(o_totalprice) per (key, date); instead of a
    pre-aggregation shuffle of orders, the RAW projected rows go straight
    into the union and ``right_order=["order_value"]`` makes the window's
    running last() pick the max-value row per (key, date) — identical
    matches, one whole Exchange + two HashAggregates less (guide §2.4).
    """
    t = ticks(spark, sf_dir).select("symbol", "date", "close")
    orders = load_table(spark, sf_dir, "orders")
    feed = orders.select(
        F.col("o_custkey").alias("symbol"),
        F.to_date("o_orderdate").alias("odate"),
        F.col("o_totalprice").alias("order_value"),
    )
    return asof_join(
        t, feed, key="symbol", left_time="date", right_time="odate",
        value_cols=["odate", "order_value"], right_order=["order_value"],
    )


# Raw-quote shaped strings derived deterministically from lineitem, with a
# planted corruption (every 97th orderkey) — exercises the REAL cleaning
# operator (rename → try_cast → null-drop → OHLC/positivity filters →
# keep-last dedup) under the oracle. Prices go through DECIMAL(18,6) (exact for
# TPC-H's ≤6dp products) so the string rendering is identical in both engines.
_RAW_QUOTES_CTE = """
raw_quotes AS (
    SELECT
        CAST(l_suppkey AS VARCHAR)                       AS symbol,
        strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d')   AS date,
        CASE WHEN l_orderkey % 97 = 0 THEN 'N/A'
             ELSE CAST(CAST(l_extendedprice AS DECIMAL(18,6)) AS VARCHAR)
        END                                              AS open,
        CAST(CAST(l_extendedprice * (1.0 + l_tax) AS DECIMAL(18,6))
             AS VARCHAR)                                 AS high,
        CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))
             AS VARCHAR)                                 AS low,
        CAST(CAST(l_extendedprice AS DECIMAL(18,6)) AS VARCHAR) AS close,
        CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)      AS volume,
        CAST(l_orderkey * 10 + l_linenumber AS BIGINT)   AS seq
    FROM lineitem
)
"""


@register(
    "clean_raw_quotes",
    "WITH " + _RAW_QUOTES_CTE + """
    , cast_rows AS (
        SELECT TRY_CAST(symbol AS BIGINT)   AS symbol,
               CAST(date AS DATE)           AS date,
               TRY_CAST(open AS DOUBLE)     AS open,
               TRY_CAST(high AS DOUBLE)     AS high,
               TRY_CAST(low AS DOUBLE)      AS low,
               TRY_CAST(close AS DOUBLE)    AS close,
               TRY_CAST(volume AS BIGINT)   AS volume,
               seq
        FROM raw_quotes
    ),
    cleaned AS (
        SELECT * FROM cast_rows
        WHERE open IS NOT NULL AND high IS NOT NULL AND low IS NOT NULL
          AND close IS NOT NULL AND volume IS NOT NULL
          AND date IS NOT NULL AND symbol IS NOT NULL
          AND NOT (high < low OR high < open OR high < close
                   OR low > open OR low > close)
          AND open > 0 AND high > 0 AND low > 0 AND close > 0 AND volume >= 0
    ),
    deduped AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY symbol, date ORDER BY seq DESC) AS rn
        FROM cleaned
    )
    SELECT symbol, date, open, high, low, close, volume
    FROM deduped WHERE rn = 1
    """,
)
def q_clean_raw_quotes(spark, sf_dir):
    """C5 cleaning path end-to-end on string-typed rows: cast-with-null-
    on-error (try_cast), critical null-drop, OHLC-consistency and
    positivity filters, keep-last dedup on (symbol, date) with the row
    sequence as tiebreak (operators/clean.py::clean_quotes).
    """
    # r12 (guide §2.5 input skew: "one huge unsplittable file ...
    # repartition immediately after the read"): the testdata parquet is
    # ONE row group, so the scan is a single task — and this query's
    # per-row work (4 decimal→string renders + 5 try_cast parses + date
    # format per row) is by far the heaviest projection in the registry.
    # Fanning the RAW rows out by hash(l_suppkey) BEFORE the projection
    # moves the string build/parse onto every core for one extra cheap
    # exchange of raw columns (measured 15.7 s → see OPTIMIZATION_r12.md;
    # a DETERMINISTIC key, not round-robin, so task retries are safe —
    # guide §2.5). At real multi-split scale the fan-out is a no-op-cost
    # hash exchange feeding the same parallel shape.
    li = load_table(spark, sf_dir, "lineitem").repartition(
        F.col("l_suppkey")
    )
    c = F.col
    # DECIMAL(18,6) represents the true ≤6dp product exactly — no rounding
    # tie for the engines to resolve differently (TPC-H prices are 2dp,
    # tax/discount 2dp, so products are exact at ≤6dp)
    dec = lambda col: col.cast("decimal(18,6)").cast("string")  # noqa: E731
    raw = li.select(
        c("l_suppkey").cast("string").alias("symbol"),
        F.date_format(F.to_date("l_shipdate"), "yyyy-MM-dd").alias("date"),
        F.when(c("l_orderkey") % 97 == 0, F.lit("N/A"))
        .otherwise(dec(c("l_extendedprice")))
        .alias("open"),
        dec(c("l_extendedprice") * (F.lit(1.0) + c("l_tax"))).alias("high"),
        dec(c("l_extendedprice") * (F.lit(1.0) - c("l_discount"))).alias("low"),
        dec(c("l_extendedprice")).alias("close"),
        c("l_quantity").cast("bigint").cast("string").alias("volume"),
        (c("l_orderkey") * 10 + c("l_linenumber")).cast("bigint").alias("seq"),
    )
    # Optimizer barrier (lazy localCheckpoint, the corpus_prep pattern):
    # without it, PushPredicateThroughNonJoin drags the null-drop/OHLC
    # filters below the repartition AND inlines every try_cast(cast(cast(
    # ...)→string)→double) chain into the pushed predicates — the whole
    # format+parse pipeline then runs twice, with the filter half on the
    # single scan task. The barrier keeps build → parse → filter above
    # the fan-out. Fresh per invocation (nothing persists across runs);
    # measured 15.7 s sweep / 9.1 s min (pushed-down) → 2.3 s min.
    raw = raw.localCheckpoint(eager=False)
    cleaned = clean_quotes(raw.withColumn("extracted_at", c("seq")))
    return cleaned.select(
        F.col("symbol").try_cast("bigint").alias("symbol"),
        "date", "open", "high", "low", "close", "volume",
    )


@register(
    "part_type_revenue",
    """
    SELECT p.p_type,
           CAST(COUNT(*) AS BIGINT) AS lines,
           SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) / 10000.0 AS revenue,
           ROUND(SUM(CAST(ROUND(p.p_retailprice * 100, 0) AS BIGINT))
                 / (100.0 * COUNT(p.p_retailprice)), 6) AS avg_retail
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_type
    """,
)
def q_part_type_revenue(spark, sf_dir):
    """Fact × part dimension (broadcast) with grouped revenue per type."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("lines"),
            revenue_sum_dec().alias("revenue"),
            avg_cents("p_retailprice").alias("avg_retail"),
        )
    )


@register(
    "revenue_rollup",
    """
    SELECT r.r_name AS region, n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS lines,
           SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) / 10000.0 AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def q_revenue_rollup(spark, sf_dir):
    """ROLLUP hierarchy totals (region → nation → grand total) — partial
    aggregation handles the hierarchy in one shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .rollup(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("lines"),
            revenue_sum_dec().alias("revenue"),
        )
    )


@register(
    "revenue_cube",
    """
    SELECT r.r_name AS region, l.l_returnflag AS returnflag,
           CAST(GROUPING(r.r_name) AS INTEGER)       AS is_region_total,
           CAST(GROUPING(l.l_returnflag) AS INTEGER) AS is_flag_total,
           CAST(COUNT(*) AS BIGINT) AS lines,
           SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) / 10000.0 AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY CUBE (r.r_name, l.l_returnflag)
    """,
)
def q_revenue_cube(spark, sf_dir):
    """CUBE over two independent dims (region × returnflag) with GROUPING()
    markers disambiguating subtotal rows from genuine NULL groups — all
    2^2 grouping sets in ONE shuffle (Spark expands sets map-side)."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .cube("r_name", "l_returnflag")
        .agg(
            F.grouping("r_name").cast("int").alias("is_region_total"),
            F.grouping("l_returnflag").cast("int").alias("is_flag_total"),
            F.count(F.lit(1)).alias("lines"),
            revenue_sum_dec().alias("revenue"),
        )
        .select(
            F.col("r_name").alias("region"),
            F.col("l_returnflag").alias("returnflag"),
            "is_region_total",
            "is_flag_total",
            "lines",
            "revenue",
        )
    )


from .sources.synthetic import synthetic_quotes, synthetic_quotes_oracle  # noqa: E402


@register("synthetic_quotes", synthetic_quotes_oracle())
def q_synthetic_quotes(spark, sf_dir):
    """S13: deterministic hash-driven random-walk generator (no table
    inputs; same output at any sf — reproducibility is the point)."""
    return synthetic_quotes(spark)


@register("approx_stats")  # no oracle: approximate results differ by design
def q_approx_stats(spark, sf_dir):
    """The documented 100 TB switch (SURVEY.md §4): approx_count_distinct
    (HLL) and approx_percentile replace their exact counterparts above a
    size threshold. No DuckDB oracle — approximate algorithms differ across
    engines by design; the driver records a rows-only check, and the exact
    twins (validation_aggregates, enriched quartiles) are the correctness
    anchor."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median_price"),
        F.percentile_approx("l_extendedprice", 0.99, 10000).alias("approx_p99_price"),
    )


@register(
    "rank_functions",
    WITH_TICKS
    + """
    SELECT symbol, date, volume,
           CAST(ROW_NUMBER()   OVER w AS INTEGER) AS rn,
           CAST(RANK()         OVER w AS INTEGER) AS rnk,
           CAST(DENSE_RANK()   OVER w AS INTEGER) AS drnk,
           CAST(NTILE(4)       OVER w AS INTEGER) AS quartile_bucket,
           ROUND(PERCENT_RANK() OVER w, 6)        AS pct_rank,
           ROUND(CUME_DIST()    OVER w, 6)        AS cume
    FROM ticks
    WINDOW w AS (PARTITION BY symbol ORDER BY volume, date)
    """,
)
def q_rank_functions(spark, sf_dir):
    """The full rank-function family (row_number/rank/dense_rank/ntile/
    percent_rank/cume_dist) in one window pass. Note: NTILE is the
    row-count bucketing SURVEY.md §7.6 warns is NOT pandas-quantile
    bucketing — the quartile parity op is enriched_categories; this query
    covers the rank semantics themselves (date tiebreak → deterministic)."""
    from pyspark.sql import Window

    t = ticks(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("volume", "date")
    return t.select(
        "symbol", "date", "volume",
        F.row_number().over(w).cast("int").alias("rn"),
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
        F.ntile(4).over(w).cast("int").alias("quartile_bucket"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "set_ops_symbols",
    WITH_TICKS
    + """
    , early AS (SELECT DISTINCT symbol FROM ticks WHERE date < DATE '1998-01-01'),
    late AS (SELECT DISTINCT symbol FROM ticks WHERE date >= DATE '1998-01-01'),
    both_eras AS (SELECT symbol FROM early INTERSECT SELECT symbol FROM late),
    only_early AS (SELECT symbol FROM early EXCEPT SELECT symbol FROM late)
    SELECT 'both' AS era, symbol FROM both_eras
    UNION ALL
    SELECT 'only_early' AS era, symbol FROM only_early
    """,
)
def q_set_ops_symbols(spark, sf_dir):
    """INTERSECT / EXCEPT set operators over per-era symbol sets."""
    t = ticks(spark, sf_dir)
    early = t.filter(F.col("date") < "1998-01-01").select("symbol").distinct()
    late = t.filter(F.col("date") >= "1998-01-01").select("symbol").distinct()
    both = early.intersect(late).withColumn("era", F.lit("both"))
    only_early = early.exceptAll(late).withColumn("era", F.lit("only_early"))
    return both.unionByName(only_early).select("era", "symbol")


@register(
    "priority_revenue",
    """
    SELECT o.o_orderpriority,
           CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) / 10000.0 AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q_priority_revenue(spark, sf_dir):
    """Large fact-to-fact join (orders ⋈ lineitem): the sort-merge-join
    shuffle path with AQE skew handling — deliberately NOT broadcast, the
    plan probe for big-join behavior at scale.

    r12 (guide §2.3 "aggregate before you shuffle"): lineitem is
    pre-aggregated per orderkey BELOW the join — the partial aggregate
    runs map-side on the scan (lineitem is roughly orderkey-clustered, so
    ~4 adjacent lines collapse per order), the join matches unique keys on
    both sides, and COUNT(DISTINCT o_orderkey) degenerates to COUNT(*)
    (orderkey is unique in orders), dropping the distinct's expand.
    Revenue is the exact integer-cents sum (registry.revenue_sum_dec), so
    re-associating it through the per-order partial is bit-identical; the
    single ÷10⁴ stays at the end."""
    from .registry import cents

    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.count(F.lit(1)).alias("__n_lines"),
        F.sum(
            cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
        ).alias("__rev_c4"),
    )
    orders = load_table(spark, sf_dir, "orders").hint("merge")
    return (
        orders.join(per_order, "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("__n_lines").alias("n_lines"),
            (F.sum("__rev_c4") / F.lit(10000.0)).alias("revenue"),
        )
    )


from .oracles import WITH_ENRICHED  # noqa: E402


@register(
    "change_quartile_box",
    WITH_ENRICHED
    + """
    SELECT symbol,
           ROUND(quantile_cont(daily_change_percent, 0.25), 6) AS q1,
           ROUND(quantile_cont(daily_change_percent, 0.50), 6) AS median,
           ROUND(quantile_cont(daily_change_percent, 0.75), 6) AS q3,
           ROUND(MIN(daily_change_percent), 6) AS lo,
           ROUND(MAX(daily_change_percent), 6) AS hi
    FROM enriched GROUP BY symbol
    """,
)
def q_change_quartile_box(spark, sf_dir):
    """C7 dashboard box plot data: per-symbol quartiles of daily change
    (dashboard/app.py:808-820) — exact linear-interpolated percentiles."""
    from .operators.enrich import enrich

    e = enrich(ticks(spark, sf_dir))
    return e.groupBy("symbol").agg(
        F.round(F.percentile("daily_change_percent", 0.25), 6).alias("q1"),
        F.round(F.percentile("daily_change_percent", 0.50), 6).alias("median"),
        F.round(F.percentile("daily_change_percent", 0.75), 6).alias("q3"),
        F.round(F.min("daily_change_percent"), 6).alias("lo"),
        F.round(F.max("daily_change_percent"), 6).alias("hi"),
    )


@register(
    "monthly_ohlcv",
    WITH_TICKS
    + """
    SELECT symbol,
           CAST(year(date) AS INTEGER)  AS year,
           CAST(month(date) AS INTEGER) AS month,
           arg_min(open, date)          AS open,
           MAX(high)                    AS high,
           MIN(low)                     AS low,
           arg_max(close, date)         AS close,
           CAST(SUM(volume) AS BIGINT)  AS volume,
           CAST(COUNT(*) AS BIGINT)     AS trading_days
    FROM ticks GROUP BY 1, 2, 3
    """,
)
def q_monthly_ohlcv(spark, sf_dir):
    """Calendar resample (pandas resample('M') equivalent): monthly OHLCV
    bars — open/close are first/last-by-date aggregates, no window needed.
    Shares its aggregate definition with the incremental streaming
    maintainer (streaming/rollup.py) so batch query and continuous rollup
    cannot drift."""
    from .streaming.rollup import monthly_bars

    return monthly_bars(ticks(spark, sf_dir))


@register(
    "doc_embedding_join",
    r"""
    SELECT d.doc_id, d.lang,
           CAST(len(string_split_regex(trim(d.text), '\s+')) AS INTEGER) AS n_tokens,
           e.label,
           ROUND(sqrt(list_sum(list_transform(e.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS emb_norm
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def q_doc_embedding_join(spark, sf_dir):
    """Cross-modal join: documents × their embedding rows (doc_id = vec_id)
    with JVM-side norm computation — the text+vector co-processing shape."""
    from .functions.text import ws_tokens
    from .operators.similarity import l2_norm, _to_double

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .select(
            "doc_id",
            "lang",
            F.size(ws_tokens(F.col("text"))).cast("int").alias("n_tokens"),
            "label",
            F.round(l2_norm(_to_double(F.col("embedding"))), 6).alias("emb_norm"),
        )
    )


@register(
    "range_frame_avg",
    WITH_TICKS
    + """
    SELECT symbol, date, close,
           ROUND(AVG(close) OVER (
               PARTITION BY symbol ORDER BY date
               RANGE BETWEEN INTERVAL 29 DAYS PRECEDING AND CURRENT ROW), 6)
               AS avg_30cal,
           CAST(COUNT(*) OVER (
               PARTITION BY symbol ORDER BY date
               RANGE BETWEEN INTERVAL 29 DAYS PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_in_window
    FROM ticks
    """,
)
def q_range_frame_avg(spark, sf_dir):
    """RANGE frame: trailing 30 CALENDAR days (vs ma_5/ma_20's 5/20 ROWS) —
    the two differ whenever the series has date gaps. Spark expresses the
    calendar range as rangeBetween over a day-index ordering column."""
    from pyspark.sql import Window

    t = ticks(spark, sf_dir)
    day_idx = F.datediff(F.col("date"), F.lit("1990-01-01").cast("date"))
    w = (
        Window.partitionBy("symbol")
        .orderBy(day_idx)
        .rangeBetween(-29, 0)
    )
    return t.select(
        "symbol", "date", "close",
        F.round(F.avg("close").over(w), 6).alias("avg_30cal"),
        F.count(F.lit(1)).over(w).alias("n_in_window"),
    )


@register(
    "event_type_pivot",
    """
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error_count
    FROM events GROUP BY user_id
    """,
)
def q_event_type_pivot(spark, sf_dir):
    """Pivot: per-user event-type counts as wide columns. Spark's pivot()
    with an explicit value list is one shuffle (no distinct-values scan)."""
    from .sources.events import load_events

    ev = load_events(spark, sf_dir)
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
    )
    return out.select(
        "user_id",
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(a)
            for c, a in [("click", "click"), ("view", "view"),
                         ("purchase", "purchase"), ("signup", "signup"),
                         ("error", "error_count")]
        ],
    )


@register(
    "gap_fill_forward",
    WITH_TICKS
    + """
    , bounds AS (
        SELECT symbol, MIN(date) AS d0, MAX(date) AS d1 FROM ticks GROUP BY 1
    ),
    calendar AS (
        SELECT symbol, CAST(g.gs AS DATE) AS date
        FROM bounds, UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS g(gs)
    ),
    filled AS (
        SELECT c.symbol, c.date, t.close, t.volume
        FROM calendar c LEFT JOIN ticks t USING (symbol, date)
    )
    SELECT symbol, date,
           LAST_VALUE(close IGNORE NULLS) OVER (
               PARTITION BY symbol ORDER BY date
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close,
           volume,
           close IS NULL AS is_gap
    FROM filled
    """,
)
def q_gap_fill_forward(spark, sf_dir):
    """Time-series densification: every calendar day per symbol, close
    forward-filled from the last trading day (operators/resample.py)."""
    from .operators.resample import calendar_fill

    return calendar_fill(ticks(spark, sf_dir))


@register(
    "asof_next_order_value",
    WITH_TICKS
    + """
    , order_feed AS (
        SELECT o_custkey AS symbol, CAST(o_orderdate AS DATE) AS odate,
               MAX(o_totalprice) AS order_value
        FROM orders GROUP BY 1, 2
    ),
    u AS (
        SELECT symbol, date AS t, 1 AS is_left, date, close,
               NULL::DATE AS odate, NULL::DOUBLE AS order_value
        FROM ticks
        UNION ALL
        SELECT symbol, odate, 0, NULL, NULL, odate, order_value
        FROM order_feed
    ),
    filled AS (
        SELECT *,
            FIRST_VALUE(odate IGNORE NULLS) OVER w        AS nxt_odate,
            FIRST_VALUE(order_value IGNORE NULLS) OVER w  AS nxt_value
        FROM u
        WINDOW w AS (PARTITION BY symbol ORDER BY t, is_left DESC
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT symbol, date, close,
           nxt_odate AS asof_next_odate,
           nxt_value AS asof_next_order_value
    FROM filled WHERE is_left = 1
    """,
)
def q_asof_next_order_value(spark, sf_dir):
    """Forward as-of join: each tick gets the NEXT order (date + value) of
    the same key at-or-after the tick date (operators/asof.py::
    asof_join_forward — union + [current, following) first-value window,
    one shuffle; the oracle mirrors the same window formulation)."""
    from .operators.asof import asof_join_forward

    t = ticks(spark, sf_dir).select("symbol", "date", "close")
    orders = load_table(spark, sf_dir, "orders")
    feed = orders.select(
        F.col("o_custkey").alias("symbol"),
        F.to_date("o_orderdate").alias("odate"),
        F.col("o_totalprice").alias("order_value"),
    )
    return asof_join_forward(
        t, feed, key="symbol", left_time="date", right_time="odate",
        value_cols=["odate", "order_value"], right_order=["order_value"],
    )


@register(
    "unpivot_ohlc",
    WITH_TICKS
    + """
    SELECT symbol, date, field, value
    FROM (SELECT symbol, date, open, high, low, close FROM ticks)
    UNPIVOT (value FOR field IN (open, high, low, close))
    """,
)
def q_unpivot_ohlc(spark, sf_dir):
    """UNPIVOT/melt: the wide OHLC columns to long (symbol, date, field,
    value) rows — the wide→long reshape feeding per-field analytics or
    plotting layers. Spark's native unpivot (= pandas melt); row count
    grows 4×, no shuffle (pure per-row expansion)."""
    t = ticks(spark, sf_dir).select(
        "symbol", "date", "open", "high", "low", "close"
    )
    return t.unpivot(
        ids=["symbol", "date"],
        values=["open", "high", "low", "close"],
        variableColumnName="field",
        valueColumnName="value",
    )
