"""Round-3 extension queries: cross-sectional ranking, event-rate rollups,
market-basket co-occurrence, grouping-sets margins, and fulfilment lag.

These widen the analytics surface along axes a reference user (quant
dashboards over the per-symbol series, ops dashboards over the events
stream, reference ``dashboard/app.py`` summary panels) would reach for
next. Every query is a (Spark builder, DuckDB oracle) pair registered for
the driver's hash gate; float policy follows oracles.py (order-sensitive
aggregates rounded 6dp on both sides, integer ratios and pass-through
doubles raw).

Scale notes are per-query; none introduces a global sort or an
unpartitioned window.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .oracles import WITH_TICKS
from .registry import register
from .sources.events import load_events
from .sources.tables import load_table

# ---------------------------------------------------------------------------
# Cross-sectional deciles (per-date factor ranking)
# ---------------------------------------------------------------------------


@register(
    "cross_sectional_deciles",
    WITH_TICKS
    + """,
    chg AS (
        SELECT symbol, date,
               (close / LAG(close) OVER (PARTITION BY symbol ORDER BY date)
                - 1) * 100 AS change_pct
        FROM ticks
    )
    SELECT date, symbol, change_pct,
           NTILE(10) OVER (PARTITION BY date
                           ORDER BY change_pct, symbol) AS decile
    FROM chg WHERE change_pct IS NOT NULL
    """,
)
def q_cross_sectional_deciles(spark, sf_dir):
    """Per-date cross-sectional decile assignment of daily returns — the
    ranking step of a factor portfolio (rank all symbols each day, long
    decile 10 / short decile 1). Mirrors the reference's per-symbol change
    computation (reference ``src/transform.py`` daily change) turned 90°:
    ranks ACROSS symbols within a date.

    Plan: one exchange on symbol for the lag window, then one exchange on
    date for the ntile window. Both keys are high-cardinality and
    unskewed; the per-date partition is bounded by the universe size
    (#symbols), so the sort inside each date partition is trivially
    small at any corpus scale. change_pct is per-row IEEE arithmetic on
    pass-through doubles — bit-identical in both engines, emitted raw;
    the (change_pct, symbol) order key makes NTILE deterministic.
    """
    from .sources.ticks import ticks

    w = Window.partitionBy("symbol").orderBy("date")
    chg = ticks(spark, sf_dir).select(
        "symbol",
        "date",
        ((F.col("close") / F.lag("close").over(w) - 1) * 100).alias(
            "change_pct"
        ),
    )
    wd = Window.partitionBy("date").orderBy("change_pct", "symbol")
    return (
        chg.filter(F.col("change_pct").isNotNull())
        .select(
            "date", "symbol", "change_pct", F.ntile(10).over(wd).alias("decile")
        )
    )


# ---------------------------------------------------------------------------
# Hourly event rates (ops rollup over the events stream)
# ---------------------------------------------------------------------------


@register(
    "hourly_event_rates",
    """
    SELECT date_trunc('hour', ts)       AS hour,
           event_type,
           COUNT(*)                     AS n_events,
           COUNT(DISTINCT user_id)      AS n_users,
           ROUND(SUM(value), 6)         AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_hourly_event_rates(spark, sf_dir):
    """Events per (hour, type) with distinct users and summed value — the
    batch twin of streaming/windows.py's tumbling counts, as an ops
    dashboard feed.

    Plan: single groupBy shuffle on (hour, event_type); COUNT DISTINCT
    expands via Spark's two-phase distinct aggregate, still one logical
    exchange family. Multi-row float SUM is order-sensitive → 6dp both
    sides (oracles.py policy). Time-bucketed keys are uniformly
    distributed, so no skew at any scale.
    """
    ev = load_events(spark, sf_dir)
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Market-basket part co-occurrence
# ---------------------------------------------------------------------------


@register(
    "part_cooccurrence",
    """
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           COUNT(*) AS n_orders
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """,
)
def q_part_cooccurrence(spark, sf_dir):
    """Market-basket analysis: pairs of parts appearing together in ≥2
    orders (the support-counting core of frequent-itemset mining).

    Plan: dedup to (order, part), self-join co-partitioned on l_orderkey —
    ONE shuffle key shared by both sides, so AQE plans a single exchange
    per side and the join is local. Pair expansion per order is bounded by
    order size squared (TPC-H orders have ≤7 lines), NOT by data volume,
    so the intermediate grows linearly with row count. The pair-count
    groupBy shuffles on (part_a, part_b) — high-cardinality, unskewed.
    The ≥2 support filter bounds the result to genuinely co-bought pairs.
    """
    op = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = op.alias("a")
    b = op.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


# ---------------------------------------------------------------------------
# Grouping-sets revenue margins
# ---------------------------------------------------------------------------


@register(
    "revenue_grouping_sets",
    """
    SELECT COALESCE(n_name, 'ALL')          AS nation,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
           ROUND(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) / 100.0, 2)
               AS total_revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((n_name), (o_orderpriority), ())
    """,
)
def q_revenue_grouping_sets(spark, sf_dir):
    """One-pass marginal totals by nation, by priority, and grand total —
    GROUPING SETS instead of three scans+union (the reference's summary
    panels each re-query; reference ``dashboard/app.py`` stat rows).

    Plan: fact joins two broadcast dims (customer at sf counts as a dim
    here — if it outgrows the broadcast threshold AQE falls back to
    shuffle join on the high-cardinality custkey), then Spark's Expand
    node emits one row per grouping set per input row and a single
    hash aggregate shuffles on the composite key. No union of subqueries,
    one scan of the fact.

    Money discipline (repo-wide policy, oracles.py): the grand-total row
    aggregates EVERY order, where float SUM order-noise can cross the 2dp
    half-step at scale — so revenue is summed as exact scaled-int64 CENTS
    and divided back at output; both engines divide identical integers,
    so the 2dp display round is tie-free. NULL grouping keys are COALESCEd
    to 'ALL' so the margin rows are self-describing (n_name/
    o_orderpriority are never NULL in-data, so no collision).
    """
    from .registry import cents

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    joined = o.join(
        F.broadcast(c), F.col("o_custkey") == F.col("c_custkey")
    ).join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    return (
        joined.groupingSets(
            [["n_name"], ["o_orderpriority"], []],
            "n_name",
            "o_orderpriority",
        )
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(
                F.sum(cents("o_totalprice")) / F.lit(100.0), 2
            ).alias("total_revenue"),
        )
        .select(
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_revenue",
        )
    )


# ---------------------------------------------------------------------------
# Order → ship fulfilment lag
# ---------------------------------------------------------------------------


@register(
    "order_ship_lag",
    """
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(AVG(datediff('day', CAST(o_orderdate AS DATE),
                              CAST(l_shipdate AS DATE))), 6) AS avg_lag_days,
           MIN(datediff('day', CAST(o_orderdate AS DATE),
                        CAST(l_shipdate AS DATE))) AS min_lag_days,
           MAX(datediff('day', CAST(o_orderdate AS DATE),
                        CAST(l_shipdate AS DATE))) AS max_lag_days
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
)
def q_order_ship_lag(spark, sf_dir):
    """Fulfilment-lag distribution per order priority: days between order
    placement and line shipment (AVG/MIN/MAX per priority class).

    Plan: fact-to-fact equijoin on l_orderkey/o_orderkey — both sides
    shuffle on the SAME key, the canonical co-partitioned join (with
    both tables stored bucketed on the key by ``bucketBy`` +
    ``saveAsTable``, the exchanges disappear entirely). Five-group
    aggregate is a broadcast-sized result. Integer datediff; AVG of
    integers is the only float → 6dp both sides.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.to_date("l_shipdate").alias("ship_date")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.to_date("o_orderdate").alias("order_date"),
    )
    lag = F.datediff("ship_date", "order_date")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.avg(lag), 6).alias("avg_lag_days"),
            F.min(lag).alias("min_lag_days"),
            F.max(lag).alias("max_lag_days"),
        )
    )


# ---------------------------------------------------------------------------
# Native session windows (F.session_window) vs gap-islands oracle
# ---------------------------------------------------------------------------


@register(
    "session_window_stats",
    """
    WITH gaps AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT *, SUM(new_session) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM gaps
    )
    SELECT user_id,
           MIN(ts)                          AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE     AS session_end,
           CAST(COUNT(*) AS BIGINT)         AS n_events,
           ROUND(SUM(value), 6)             AS total_value
    FROM s GROUP BY user_id, sid
    """,
)
def q_session_window_stats(spark, sf_dir):
    """Sessionization via Spark's NATIVE session_window operator (30-min
    inactivity gap), cross-checked against an independent gap-islands SQL
    formulation — the two compute session boundaries by entirely different
    algorithms (Spark merges candidate [ts, ts+gap) intervals per group;
    the oracle numbers islands with lag + running sum), so a hash match
    validates the operator's merge semantics, not just our arithmetic.

    Boundary parity: Spark MERGES an event arriving at exactly
    prev_ts + gap (empirically frozen in
    tests/test_streaming_windows.py::test_session_window_exact_gap_boundary),
    so the oracle's island break is strictly `diff > gap` — the same
    convention as the hand-rolled sessionize_events.

    Plan: ONE shuffle on user_id, then Spark's SessionWindow aggregation
    sorts within each partition and merges in a single pass — same
    exchange discipline as the hand-rolled variant, with the merge loop
    in native code instead of two window passes. This is also the exact
    operator the streaming path uses (streaming/windows.py), so batch and
    stream share semantics by construction.
    """
    ev = load_events(spark, sf_dir)
    sw = F.session_window("ts", "30 minutes")
    return (
        ev.groupBy(sw, "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Quarterly close pivot (wide calendar matrix)
# ---------------------------------------------------------------------------


@register(
    "quarterly_close_pivot",
    WITH_TICKS
    + """
    SELECT symbol,
           CAST(year(date) AS INTEGER) AS year,
           ROUND(SUM(CAST(ROUND(close * 100, 0) AS BIGINT))
                     FILTER (WHERE quarter(date) = 1)
                 / (100.0 * COUNT(close) FILTER (WHERE quarter(date) = 1)),
                 6) AS q1_close,
           ROUND(SUM(CAST(ROUND(close * 100, 0) AS BIGINT))
                     FILTER (WHERE quarter(date) = 2)
                 / (100.0 * COUNT(close) FILTER (WHERE quarter(date) = 2)),
                 6) AS q2_close,
           ROUND(SUM(CAST(ROUND(close * 100, 0) AS BIGINT))
                     FILTER (WHERE quarter(date) = 3)
                 / (100.0 * COUNT(close) FILTER (WHERE quarter(date) = 3)),
                 6) AS q3_close,
           ROUND(SUM(CAST(ROUND(close * 100, 0) AS BIGINT))
                     FILTER (WHERE quarter(date) = 4)
                 / (100.0 * COUNT(close) FILTER (WHERE quarter(date) = 4)),
                 6) AS q4_close
    FROM ticks GROUP BY 1, 2
    """,
)
def q_quarterly_close_pivot(spark, sf_dir):
    """Calendar pivot: average close per quarter as wide columns, one row
    per (symbol, year) — the reporting-matrix shape of the reference's
    price panels. Stated directly as conditional aggregates (what Spark's
    pivot() with an explicit value list compiles to anyway): ONE shuffle,
    no distinct-values pre-scan, no Expand; the oracle uses FILTER.

    The quarterly average is EXACT integer arithmetic — Σcents / (100·n)
    — not a float AVG rounded 6dp: close is 2dp money, and the round-4
    sf1 verification caught the float version differing in the last ulp
    between Spark's and DuckDB's partial-aggregate orders, crossing the
    6dp half-step at sf1 volume (NOTES rule 10: no float rounding scale
    is safe for money sums). try_divide keeps an empty quarter NULL under
    ANSI instead of raising on the 0 count.
    """
    from .registry import cents
    from .sources.ticks import ticks

    t = ticks(spark, sf_dir).withColumn("quarter", F.quarter("date"))
    close_cents = cents("close")

    def q_avg(q: int):
        in_q = F.col("quarter") == q
        s = F.sum(F.when(in_q, close_cents))
        n = F.count(F.when(in_q, F.col("close")))
        return F.round(
            F.try_divide(s, F.lit(100.0) * n), 6
        ).alias(f"q{q}_close")

    return t.groupBy(
        "symbol", F.year("date").cast("int").alias("year")
    ).agg(*[q_avg(q) for q in (1, 2, 3, 4)])


# ---------------------------------------------------------------------------
# Winsorized returns (outlier clipping at per-symbol percentiles)
# ---------------------------------------------------------------------------


@register(
    "winsorized_returns",
    WITH_TICKS
    + """,
    chg AS (
        SELECT symbol, date,
               (close / LAG(close) OVER (PARTITION BY symbol ORDER BY date)
                - 1) * 100 AS change_pct
        FROM ticks
    ),
    b AS (
        SELECT symbol,
               ROUND(quantile_cont(change_pct, 0.01), 6) AS lo,
               ROUND(quantile_cont(change_pct, 0.99), 6) AS hi
        FROM chg WHERE change_pct IS NOT NULL GROUP BY symbol
    )
    SELECT c.symbol, c.date, c.change_pct, b.lo, b.hi,
           LEAST(GREATEST(c.change_pct, b.lo), b.hi) AS winsorized,
           (c.change_pct < b.lo OR c.change_pct > b.hi) AS clipped
    FROM chg c JOIN b USING (symbol)
    WHERE c.change_pct IS NOT NULL
    """,
)
def q_winsorized_returns(spark, sf_dir):
    """Winsorization: clip each symbol's daily returns at its own
    1st/99th percentile — the standard outlier treatment before factor
    regressions (beta_vs_market upstream). Same quartile-join-back shape
    as enriched_categories (A7/J2): per-symbol exact percentiles
    aggregated once, broadcast back onto the rows.

    Float discipline: the interpolated percentile is order-sensitive →
    ROUNDED 6dp on both sides BEFORE the comparison, so the clip decision
    is made against identical bounds in both engines; the un-clipped
    change_pct is per-row IEEE arithmetic (bit-identical, raw), and the
    clipped value is the agreed rounded bound — every output path exact.
    """
    from .sources.ticks import ticks

    w = Window.partitionBy("symbol").orderBy("date")
    chg = (
        ticks(spark, sf_dir)
        .select(
            "symbol",
            "date",
            ((F.col("close") / F.lag("close").over(w) - 1) * 100).alias(
                "change_pct"
            ),
        )
        .filter(F.col("change_pct").isNotNull())
    )
    b = chg.groupBy("symbol").agg(
        F.round(F.percentile("change_pct", 0.01), 6).alias("lo"),
        F.round(F.percentile("change_pct", 0.99), 6).alias("hi"),
    )
    return chg.join(F.broadcast(b), "symbol").select(
        "symbol",
        "date",
        "change_pct",
        "lo",
        "hi",
        F.least(F.greatest("change_pct", "lo"), "hi").alias("winsorized"),
        ((F.col("change_pct") < F.col("lo")) | (F.col("change_pct") > F.col("hi"))).alias(
            "clipped"
        ),
    )


# ---------------------------------------------------------------------------
# Market share by year (TPC-H Q8 shape)
# ---------------------------------------------------------------------------


@register(
    "market_share_by_year",
    """
    WITH agg AS (
        SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
               n_name AS nation,
               SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                   * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT)))
                   AS rev_cents
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        GROUP BY 1, 2
    )
    SELECT year, nation,
           ROUND(rev_cents / 10000.0, 6) AS revenue,
           ROUND(rev_cents * 1.0
                 / SUM(rev_cents) OVER (PARTITION BY year), 6) AS share
    FROM agg
    """,
)
def q_market_share_by_year(spark, sf_dir):
    """TPC-H Q8 shape: each supplier-nation's share of total revenue per
    order year. Fact⋈fact on orderkey (co-partitioned), supplier/nation
    broadcast, then a per-year share via SUM-over-window ON THE AGGREGATED
    result (#years × #nations rows — the window input is post-aggregate
    and tiny at any corpus scale, unlike the r2 token_frequencies flaw).

    Money discipline: revenue is the exact scaled-integer cents sum
    (registry.revenue_sum_dec — int64, order-independent); the share is a
    ratio of those exact integers, rounded 6dp on both sides.
    """
    from .registry import revenue_sum_dec, cents

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("int").alias("year")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents_rev = F.sum(
        cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    )
    agg = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("year", F.col("n_name").alias("nation"))
        .agg(cents_rev.alias("rev_cents"))
    )
    wy = Window.partitionBy("year")
    return agg.select(
        "year",
        "nation",
        F.round(F.col("rev_cents") / 10000.0, 6).alias("revenue"),
        F.round(
            F.col("rev_cents") * 1.0 / F.sum("rev_cents").over(wy), 6
        ).alias("share"),
    )


# ---------------------------------------------------------------------------
# Decorrelated subquery: suppliers above their nation's average balance
# ---------------------------------------------------------------------------


@register(
    "suppliers_above_nation_avg",
    """
    SELECT s_suppkey, s_name, n_name AS nation, s_acctbal,
           ROUND(sum_cents / (100.0 * n_sup), 6) AS nation_avg
    FROM (
        SELECT s.*, n_name,
               SUM(CAST(ROUND(s_acctbal * 100, 0) AS BIGINT))
                   OVER (PARTITION BY s_nationkey) AS sum_cents,
               COUNT(*) OVER (PARTITION BY s_nationkey) AS n_sup
        FROM supplier s JOIN nation ON s_nationkey = n_nationkey
    )
    WHERE CAST(ROUND(s_acctbal * 100, 0) AS BIGINT) * n_sup >= sum_cents
    """,
)
def q_suppliers_above_nation_avg(spark, sf_dir):
    """The classic correlated-subquery question ("rows at or above their
    group's average") expressed decorrelated: ONE pass with a partitioned
    window instead of a per-row rescan — the shape Catalyst's subquery
    decorrelation targets, stated directly.

    The comparison is EXACT integer arithmetic: ``bal ≥ avg`` rewritten as
    ``cents(bal) × n ≥ Σ cents(bal)`` over scaled-int64 cents, so the
    filter decision is order-independent and bit-identical across engines
    (a float window AVG differs in the last ulp between Spark's and
    DuckDB's partial-aggregate orders — a balance between the two averages
    would pass in one engine only). At-or-above (≥, not >) keeps the query
    non-vacuous at every verify scale: sf0.001 has exactly one supplier
    per nation, where each supplier IS its nation average. The displayed
    nation_avg divides the same exact integers, identically on both sides.
    """
    from .registry import cents

    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    w = Window.partitionBy("s_nationkey")
    bal_cents = cents("s_acctbal")
    joined = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", "s_name", F.col("n_name").alias("nation"), "s_acctbal",
        bal_cents.alias("bal_cents"),
        F.sum(bal_cents).over(w).alias("sum_cents"),
        F.count(F.lit(1)).over(w).alias("n_sup"),
    )
    return joined.filter(
        F.col("bal_cents") * F.col("n_sup") >= F.col("sum_cents")
    ).select(
        "s_suppkey", "s_name", "nation", "s_acctbal",
        F.round(F.col("sum_cents") / (F.lit(100.0) * F.col("n_sup")), 6).alias(
            "nation_avg"
        ),
    )


# ---------------------------------------------------------------------------
# Point-in-interval join: error events inside user sessions
# ---------------------------------------------------------------------------


@register(
    "errors_in_sessions",
    """
    WITH gaps AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT *, SUM(new_session) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM gaps
    ),
    sessions AS (
        SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM s GROUP BY user_id, sid
    ),
    err AS (SELECT user_id, ts FROM events WHERE event_type = 'error')
    SELECT sn.user_id, sn.session_start, sn.session_end, sn.n_events,
           CAST(COUNT(e.ts) AS BIGINT) AS n_errors
    FROM sessions sn
    LEFT JOIN err e
      ON e.user_id = sn.user_id
     AND e.ts BETWEEN sn.session_start AND sn.session_end
    GROUP BY 1, 2, 3, 4
    """,
)
def q_errors_in_sessions(spark, sf_dir):
    """Point-in-interval join: count error events falling inside each user
    session — the ops question ("which sessions degraded?") that needs a
    range predicate ON TOP of an equi-key.

    Scale shape: the join is an EQUI-join on user_id with the BETWEEN as a
    residual filter — both sides hash-partition on user_id, so the range
    never degenerates into a nested loop over the corpus; per-key
    candidate fan-out is bounded by one user's sessions × that user's
    errors. The error side is a pushed-down event_type scan. Session
    bounds reuse the islands formulation shared with sessionize_events
    (strict > gap convention — the same boundary Spark's native
    session_window implements, see test_session_window_exact_gap_boundary).
    """
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_session = F.when(
        gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    s = ev.select("user_id", "ts", "event_id").withColumn(
        "new_session", new_session
    ).withColumn(
        "sid",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    sessions = s.groupBy("user_id", "sid").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts")
    )
    joined = sessions.join(
        err,
        (F.col("user_id") == F.col("e_user"))
        & F.col("e_ts").between(F.col("session_start"), F.col("session_end")),
        "left",
    )
    return joined.groupBy(
        "user_id", "session_start", "session_end", "n_events"
    ).agg(F.count("e_ts").alias("n_errors"))


# ---------------------------------------------------------------------------
# RFM customer segmentation
# ---------------------------------------------------------------------------


@register(
    "rfm_segments",
    """
    WITH per_cust AS (
        SELECT o_custkey AS custkey,
               datediff('day', CAST(MAX(o_orderdate) AS DATE),
                        (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders))
                   AS recency_days,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) / 100.0
                   AS monetary
        FROM orders GROUP BY 1
    ),
    th AS (
        SELECT
            ROUND(quantile_cont(recency_days, 0.25), 6) AS r1,
            ROUND(quantile_cont(recency_days, 0.50), 6) AS r2,
            ROUND(quantile_cont(recency_days, 0.75), 6) AS r3,
            ROUND(quantile_cont(frequency, 0.25), 6)    AS f1,
            ROUND(quantile_cont(frequency, 0.50), 6)    AS f2,
            ROUND(quantile_cont(frequency, 0.75), 6)    AS f3,
            ROUND(quantile_cont(monetary, 0.25), 6)     AS m1,
            ROUND(quantile_cont(monetary, 0.50), 6)     AS m2,
            ROUND(quantile_cont(monetary, 0.75), 6)     AS m3
        FROM per_cust
    )
    SELECT custkey, recency_days, frequency, monetary,
           CAST(4 - ((recency_days > r1)::INT + (recency_days > r2)::INT
                     + (recency_days > r3)::INT) AS INTEGER) AS r_score,
           CAST(1 + (frequency > f1)::INT + (frequency > f2)::INT
                  + (frequency > f3)::INT AS INTEGER)        AS f_score,
           CAST(1 + (monetary > m1)::INT + (monetary > m2)::INT
                  + (monetary > m3)::INT AS INTEGER)         AS m_score
    FROM per_cust, th
    """,
)
def q_rfm_segments(spark, sf_dir):
    """RFM segmentation: per-customer Recency (days since last order,
    relative to the corpus max date), Frequency (order count) and Monetary
    (exact cents total), each scored 1-4 against the corpus quartiles.

    Scale shape: per-customer aggregate (one shuffle on custkey), corpus
    quartiles via ONE scalar aggregate over that result (a 1-row frame —
    never a global window over customers), cross-joined back broadcast.
    Recency scores invert (lower = better = 4). Monetary sums scaled
    integer cents (exact); quartile thresholds are interpolated →
    ROUND 6dp on both sides BEFORE the comparisons so bucket decisions
    are engine-identical (winsorized_returns pattern).
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("od"), "o_totalprice"
    )
    per_cust = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("od").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        (
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            / 100.0
        ).alias("monetary"),
    )
    gmax = o.agg(F.max("od").alias("gmax"))
    pc = (
        per_cust.join(F.broadcast(gmax))
        .select(
            "custkey",
            F.datediff("gmax", "last_order").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    th = pc.agg(
        F.round(F.percentile("recency_days", 0.25), 6).alias("r1"),
        F.round(F.percentile("recency_days", 0.50), 6).alias("r2"),
        F.round(F.percentile("recency_days", 0.75), 6).alias("r3"),
        F.round(F.percentile("frequency", 0.25), 6).alias("f1"),
        F.round(F.percentile("frequency", 0.50), 6).alias("f2"),
        F.round(F.percentile("frequency", 0.75), 6).alias("f3"),
        F.round(F.percentile("monetary", 0.25), 6).alias("m1"),
        F.round(F.percentile("monetary", 0.50), 6).alias("m2"),
        F.round(F.percentile("monetary", 0.75), 6).alias("m3"),
    )

    def _score_up(col, t1, t2, t3):
        return (
            F.lit(1)
            + (F.col(col) > F.col(t1)).cast("int")
            + (F.col(col) > F.col(t2)).cast("int")
            + (F.col(col) > F.col(t3)).cast("int")
        )

    return pc.join(F.broadcast(th)).select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        (F.lit(5) - _score_up("recency_days", "r1", "r2", "r3")).cast(
            "int"
        ).alias("r_score"),
        _score_up("frequency", "f1", "f2", "f3").cast("int").alias("f_score"),
        _score_up("monetary", "m1", "m2", "m3").cast("int").alias("m_score"),
    )


# ---------------------------------------------------------------------------
# Per-symbol price trend via regression aggregates
# ---------------------------------------------------------------------------


@register(
    "price_trend_regression",
    WITH_TICKS
    + """,
    d AS (
        SELECT symbol, close,
               datediff('day',
                        MIN(date) OVER (PARTITION BY symbol), date) AS x
        FROM ticks
    )
    SELECT symbol,
           CAST(COUNT(*) AS BIGINT)            AS n_days,
           ROUND(regr_slope(close, x), 6)      AS slope,
           ROUND(regr_intercept(close, x), 6)  AS intercept,
           ROUND(regr_r2(close, x), 6)         AS r2
    FROM d GROUP BY symbol
    """,
)
def q_price_trend_regression(spark, sf_dir):
    """Per-symbol OLS price trend: slope/intercept/R² of close against
    trading-day index, via the SQL-standard regression aggregates
    (regr_slope/regr_intercept/regr_r2) — the declarative, single-pass
    form of the reference's fitted trend line; no iterative solver, no
    UDF, map-side partial aggregation like any other agg.

    Plan: the min-date window and the regression aggregate share one
    HashPartitioning(symbol) exchange. Regression aggregates are
    order-sensitive float sums internally → 6dp both sides.
    """
    from .sources.ticks import ticks

    w = Window.partitionBy("symbol")
    d = ticks(spark, sf_dir).select(
        "symbol",
        "close",
        F.datediff("date", F.min("date").over(w)).alias("x"),
    )
    return d.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.regr_slope("close", "x"), 6).alias("slope"),
        F.round(F.regr_intercept("close", "x"), 6).alias("intercept"),
        F.round(F.regr_r2("close", "x"), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Repeat-purchase rate (scalar engagement metric)
# ---------------------------------------------------------------------------


@register(
    "repeat_purchase_rate",
    """
    WITH pu AS (
        SELECT user_id, COUNT(*) AS n_purchases
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT)                          AS n_buyers,
           CAST(COUNT(*) FILTER (WHERE n_purchases >= 2) AS BIGINT)
                                                             AS n_repeat,
           COUNT(*) FILTER (WHERE n_purchases >= 2) * 1.0 / COUNT(*)
                                                             AS repeat_rate
    FROM pu
    """,
)
def q_repeat_purchase_rate(spark, sf_dir):
    """Repeat-purchase rate: share of buyers with ≥2 purchase events —
    pushed-down event_type scan, one user_id aggregate, then a 1-row
    scalar rollup. The ratio is integer÷integer (bit-exact, raw)."""
    ev = load_events(spark, sf_dir)
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    repeat = F.sum((F.col("n_purchases") >= 2).cast("long"))
    return pu.agg(
        F.count(F.lit(1)).alias("n_buyers"),
        repeat.alias("n_repeat"),
        (repeat * 1.0 / F.count(F.lit(1))).alias("repeat_rate"),
    )


# ---------------------------------------------------------------------------
# Nation trade balance (buy-side vs supply-side revenue)
# ---------------------------------------------------------------------------


@register(
    "nation_trade_balance",
    """
    WITH sup AS (
        SELECT n_name AS nation,
               SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                   * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT)))
                   AS sell_cents
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        GROUP BY 1
    ),
    buy AS (
        SELECT n_name AS nation,
               SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                   * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT)))
                   AS buy_cents
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY 1
    )
    SELECT COALESCE(s.nation, b.nation) AS nation,
           ROUND(COALESCE(s.sell_cents, 0) / 10000.0, 6) AS supply_revenue,
           ROUND(COALESCE(b.buy_cents, 0) / 10000.0, 6)  AS demand_revenue,
           ROUND((COALESCE(s.sell_cents, 0) - COALESCE(b.buy_cents, 0))
                 / 10000.0, 6)                           AS balance
    FROM sup s FULL OUTER JOIN buy b ON s.nation = b.nation
    """,
)
def q_nation_trade_balance(spark, sf_dir):
    """Per-nation trade balance: revenue attributed to a nation's
    SUPPLIERS (sell side) vs its CUSTOMERS (buy side), full-outer-joined
    on nation. Exercises the same fact through two different dim paths in
    one query — each branch is a broadcast-dim aggregate in exact cents,
    and the final full-outer join runs over ≤ #nations rows.
    """
    from .registry import cents

    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    rev = F.sum(cents("l_extendedprice") * (F.lit(100) - cents("l_discount")))
    sup = (
        li.select("l_suppkey", "l_extendedprice", "l_discount")
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(rev.alias("sell_cents"))
    )
    buy = (
        li.select("l_orderkey", "l_extendedprice", "l_discount")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(rev.alias("buy_cents"))
    )
    joined = sup.alias("s").join(
        buy.alias("b"), F.col("s.nation") == F.col("b.nation"), "full_outer"
    )
    return joined.select(
        F.coalesce(F.col("s.nation"), F.col("b.nation")).alias("nation"),
        F.round(F.coalesce(F.col("sell_cents"), F.lit(0)) / 10000.0, 6).alias(
            "supply_revenue"
        ),
        F.round(F.coalesce(F.col("buy_cents"), F.lit(0)) / 10000.0, 6).alias(
            "demand_revenue"
        ),
        F.round(
            (
                F.coalesce(F.col("sell_cents"), F.lit(0))
                - F.coalesce(F.col("buy_cents"), F.lit(0))
            )
            / 10000.0,
            6,
        ).alias("balance"),
    )


# ---------------------------------------------------------------------------
# Supplier concentration (HHI) per nation
# ---------------------------------------------------------------------------


@register(
    "supplier_concentration",
    """
    WITH rev AS (
        SELECT n_name AS nation, l_suppkey,
               SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                   * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT)))
                   AS cents
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        GROUP BY 1, 2
    ),
    tot AS (SELECT nation, SUM(cents) AS tcents FROM rev GROUP BY 1)
    SELECT r.nation,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           ROUND(SUM(POWER(r.cents * 1.0 / t.tcents, 2)), 6) AS hhi
    FROM rev r JOIN tot t ON r.nation = t.nation
    GROUP BY 1
    """,
)
def q_supplier_concentration(spark, sf_dir):
    """Market-concentration report: Herfindahl-Hirschman index of supplier
    revenue shares within each nation (1/n = perfectly even, 1 = single
    supplier). Two stacked aggregates — (nation, supplier) cents, then
    nation totals joined back — both riding the nation key; shares are
    ratios of exact cents integers, the squared-share SUM is the one
    order-sensitive float → 6dp both sides.
    """
    from .registry import cents

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), "l_suppkey")
        .agg(
            F.sum(
                cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
            ).alias("cents")
        )
    )
    tot = rev.groupBy("nation").agg(F.sum("cents").alias("tcents"))
    return (
        rev.join(tot, "nation")
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(
                F.sum(F.pow(F.col("cents") * 1.0 / F.col("tcents"), 2)), 6
            ).alias("hhi"),
        )
    )


# ---------------------------------------------------------------------------
# Day-of-week return seasonality
# ---------------------------------------------------------------------------


@register(
    "dow_returns",
    WITH_TICKS
    + """,
    chg AS (
        SELECT symbol, date,
               (close / LAG(close) OVER (PARTITION BY symbol ORDER BY date)
                - 1) * 100 AS change_pct
        FROM ticks
    )
    SELECT CAST((dayofweek(date) + 6) % 7 AS INTEGER) AS day_of_week,
           CAST(COUNT(change_pct) AS BIGINT)          AS n_obs,
           ROUND(AVG(change_pct), 6)                  AS avg_return,
           ROUND(STDDEV_SAMP(change_pct), 6)          AS std_return,
           ROUND(AVG(CASE WHEN change_pct > 0 THEN 1.0 ELSE 0.0 END), 6)
                                                      AS up_ratio
    FROM chg WHERE change_pct IS NOT NULL
    GROUP BY 1
    """,
)
def q_dow_returns(spark, sf_dir):
    """Day-of-week seasonality: mean/stddev/up-ratio of daily returns per
    weekday (Monday=0, matching the engine's day_of_week convention from
    operators/enrich.py). One symbol-window pass then a 7-group aggregate;
    order-sensitive float aggregates → 6dp both sides.
    """
    from .sources.ticks import ticks

    w = Window.partitionBy("symbol").orderBy("date")
    chg = (
        ticks(spark, sf_dir)
        .select(
            "date",
            ((F.col("close") / F.lag("close").over(w) - 1) * 100).alias(
                "change_pct"
            ),
        )
        .filter(F.col("change_pct").isNotNull())
    )
    dow = ((F.dayofweek("date") + 5) % 7).cast("int")
    return chg.groupBy(dow.alias("day_of_week")).agg(
        F.count("change_pct").alias("n_obs"),
        F.round(F.avg("change_pct"), 6).alias("avg_return"),
        F.round(F.stddev_samp("change_pct"), 6).alias("std_return"),
        F.round(
            F.avg(F.when(F.col("change_pct") > 0, 1.0).otherwise(0.0)), 6
        ).alias("up_ratio"),
    )


# ---------------------------------------------------------------------------
# Order-value histogram (power-of-two buckets)
# ---------------------------------------------------------------------------


@register(
    "order_value_histogram",
    """
    SELECT CAST(length(bin(GREATEST(
               CAST(FLOOR(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) / 100)
                    AS BIGINT), 1))) - 1 AS INTEGER) AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) / 100.0,
                 6) AS total_value
    FROM orders
    GROUP BY 1
    """,
)
def q_order_value_histogram(spark, sf_dir):
    """Order-value distribution in power-of-two buckets (the same
    log-bucketing shape as doc_length_histogram): a fixed ~40-bucket
    histogram whatever the data volume — aggregation cardinality is
    bounded by the value range, not row count. Bucket totals in exact
    cents.

    Bucketing is EXACT integer arithmetic, no libm: floor(log2(x)) for
    x ≥ 1 equals bit_length(floor(x)) − 1 (no power of two lies strictly
    between floor(x) and x), and floor(x) is recovered from exact cents.
    Spark's log2 (ln/ln2) and DuckDB's std::log2 can disagree by 1 ulp at
    exact power-of-two values and flip FLOOR — binary-string length of the
    same integer cannot. Spark: conv(base-10→2); DuckDB: bin()."""
    o = load_table(spark, sf_dir, "orders")
    cents_val = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    floor_dollars = F.greatest(
        F.floor(cents_val / F.lit(100)).cast("long"), F.lit(1)
    )
    bucket = (F.length(F.conv(floor_dollars, 10, 2)) - F.lit(1)).cast("int")
    return o.groupBy(bucket.alias("log2_bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(cents_val) / 100.0, 6).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Event-type transition matrix (first-order Markov estimate)
# ---------------------------------------------------------------------------


@register(
    "event_transition_matrix",
    """
    WITH seq AS (
        SELECT event_type AS from_event,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS to_event
        FROM events
    ),
    pairs AS (
        SELECT from_event, to_event, CAST(COUNT(*) AS BIGINT) AS n_transitions
        FROM seq WHERE to_event IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT from_event, to_event, n_transitions,
           n_transitions / CAST(SUM(n_transitions) OVER (
               PARTITION BY from_event) AS BIGINT) AS transition_prob
    FROM pairs
    """,
)
def q_event_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over per-user event streams:
    P(next event type | current event type), estimated from consecutive
    pairs in (ts, event_id) order.

    Plan: ONE user_id shuffle for the lead() window collapses |events|
    rows to ≤ |types|² pairs via a map-side-combinable count; the
    normalizing row-sum window runs over that tiny aggregate (≤ 25 rows
    here), not the fact table. Probabilities are exact-int64 divisions —
    identical doubles on both engines, emitted raw (no float summation
    anywhere).
    """
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_event"),
            F.lead("event_type").over(w).alias("to_event"),
        )
        .filter(F.col("to_event").isNotNull())
        .groupBy("from_event", "to_event")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    w_from = Window.partitionBy("from_event")
    return pairs.select(
        "from_event", "to_event", "n_transitions",
        (
            F.col("n_transitions") / F.sum("n_transitions").over(w_from)
        ).alias("transition_prob"),
    )


# ---------------------------------------------------------------------------
# Inter-event gap distribution per event type
# ---------------------------------------------------------------------------


@register(
    "inter_event_gaps",
    """
    WITH g AS (
        SELECT event_type,
               epoch_us(ts) - epoch_us(LAG(ts) OVER (
                   PARTITION BY user_id, event_type ORDER BY ts, event_id
               )) AS gap_us
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(gap_us) AS BIGINT)            AS n_gaps,
           CAST(MIN(gap_us) AS BIGINT)              AS min_gap_us,
           CAST(MAX(gap_us) AS BIGINT)              AS max_gap_us,
           ROUND(quantile_cont(gap_us, 0.50) / 1000000.0, 6) AS median_gap_s,
           ROUND(quantile_cont(gap_us, 0.90) / 1000000.0, 6) AS p90_gap_s
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
)
def q_inter_event_gaps(spark, sf_dir):
    """Per-type recurrence cadence: the distribution of gaps between a
    user's consecutive events OF THE SAME TYPE (lag over a composite
    (user_id, event_type) partition), summarized as exact int64 micro
    bounds plus interpolated median/p90 in seconds.

    Plan: one (user_id, event_type) shuffle for the lag, then a groupBy
    on event_type — the exact percentile buffers per-type gap lists,
    bounded here (|events|/|types| per group); at 100 TB switch to
    mergeable approx_percentile exactly as the enrich spine's
    quartiles='approx' dial does (operators/skewsafe.py). Gaps are exact
    int64 epoch-micro differences; interpolated quantiles are rounded at
    6dp per the float policy, min/max stay exact.
    """
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    g = ev.select(
        "event_type",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias(
            "gap_us"
        ),
    ).filter(F.col("gap_us").isNotNull())
    return g.groupBy("event_type").agg(
        F.count("gap_us").alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.round(F.percentile("gap_us", 0.50) / 1000000.0, 6).alias(
            "median_gap_s"
        ),
        F.round(F.percentile("gap_us", 0.90) / 1000000.0, 6).alias(
            "p90_gap_s"
        ),
    )


# ---------------------------------------------------------------------------
# Rolling 30-day active users (sliding-window COUNT DISTINCT)
# ---------------------------------------------------------------------------


@register(
    "rolling_active_users",
    """
    WITH bounds AS (
        SELECT MAX(CAST(ts AS DATE)) AS max_day FROM events
    ),
    ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    covered AS (
        SELECT ud.user_id, ud.day + CAST(g.i AS INTEGER) AS cover_day
        FROM ud, UNNEST(generate_series(0, 29)) AS g(i), bounds
        WHERE ud.day + CAST(g.i AS INTEGER) <= bounds.max_day
    )
    SELECT cover_day AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau_30d
    FROM covered GROUP BY 1
    """,
)
def q_rolling_active_users(spark, sf_dir):
    """The MAU curve: for every day, how many distinct users had at least
    one event in the trailing 30 days.

    COUNT(DISTINCT user) OVER a sliding RANGE window needs per-frame
    distinct state and is not window-expressible at scale; the scalable
    identity is covered-day decomposition — each (user, active-day) pair
    COVERS the next 30 days, so the sliding distinct count is a plain
    groupBy-distinct over the coverage explode. Cost is a bounded 30×
    fan-out of the DEDUPLICATED user-day table (not of raw events: the
    distinct collapses event volume first), all map-side-combinable; the
    trailing tail past the last observed day is cut by a 1-row broadcast
    max. Exact integers/dates only — hash-exact unrounded.
    """
    ev = load_events(spark, sf_dir)
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    bounds = ev.agg(F.max(F.col("ts").cast("date")).alias("max_day"))
    covered = (
        ud.select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("day"), F.date_add(F.col("day"), 29)
                )
            ).alias("cover_day"),
        )
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("cover_day") <= F.col("max_day"))
    )
    return covered.groupBy(F.col("cover_day").alias("day")).agg(
        F.countDistinct("user_id").alias("mau_30d")
    )


# ---------------------------------------------------------------------------
# Purchase attribution (last-touch within a window)
# ---------------------------------------------------------------------------

_ATTR_WINDOW_US = 7 * 86_400_000_000  # 7 days in epoch micros


@register(
    "purchase_attribution",
    f"""
    WITH ordered AS (
        SELECT user_id, ts, event_id, event_type, value,
               LAST_VALUE(CASE WHEN event_type <> 'purchase'
                               THEN epoch_us(ts) END IGNORE NULLS) OVER w
                   AS touch_us,
               LAST_VALUE(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS) OVER w
                   AS touch_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    attributed AS (
        SELECT CASE WHEN touch_us IS NOT NULL
                     AND epoch_us(ts) - touch_us <= {_ATTR_WINDOW_US}
                    THEN touch_type ELSE 'organic' END AS attributed_to,
               value
        FROM ordered WHERE event_type = 'purchase'
    )
    SELECT attributed_to,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
               AS attributed_value
    FROM attributed GROUP BY attributed_to
    """,
)
def q_purchase_attribution(spark, sf_dir):
    """Last-touch attribution: each purchase is credited to the user's
    most recent NON-purchase event within the preceding 7 days (ties on
    ts broken by event_id, the registry's event order everywhere);
    purchases with no qualifying touch are 'organic'. Output: purchases
    and exact-cents revenue per attributed touch type.

    Plan: ONE (user_id) hash exchange drives the ignore-nulls last_value
    over the strictly-preceding frame (the as-of pattern from
    operators/asof.py applied within one table — no join at all), then a
    tiny groupBy on ≤|event types|+1 keys. The running frame carries two
    scalar last-values, not a buffer, so state per row is O(1) and the
    plan is linear at any event volume. Money via exact cents (NOTES
    rule 10); the window arithmetic is exact int64 epoch micros.
    """
    ev = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    not_purchase = F.col("event_type") != "purchase"
    ordered = ev.select(
        "event_type",
        "ts",
        "value",
        F.last(
            F.when(not_purchase, F.unix_micros("ts")), ignorenulls=True
        ).over(w).alias("touch_us"),
        F.last(
            F.when(not_purchase, F.col("event_type")), ignorenulls=True
        ).over(w).alias("touch_type"),
    )
    attributed = ordered.filter(F.col("event_type") == "purchase").select(
        F.when(
            F.col("touch_us").isNotNull()
            & (F.unix_micros("ts") - F.col("touch_us") <= _ATTR_WINDOW_US),
            F.col("touch_type"),
        )
        .otherwise(F.lit("organic"))
        .alias("attributed_to"),
        "value",
    )
    return attributed.groupBy("attributed_to").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        (
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).cast(
                "bigint"
            )
            / 100.0
        ).alias("attributed_value"),
    )


# ---------------------------------------------------------------------------
# Signup → first-purchase conversion lag histogram
# ---------------------------------------------------------------------------


@register(
    "signup_to_purchase_lag",
    """
    WITH s AS (
        SELECT user_id, MIN(epoch_us(ts)) AS signup_us
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    fp AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS first_purchase_us
        FROM events e JOIN s USING (user_id)
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s.signup_us
        GROUP BY e.user_id
    )
    SELECT CAST(FLOOR((fp.first_purchase_us - s.signup_us)
                      / 86400000000.0) AS BIGINT) AS lag_days,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM fp JOIN s USING (user_id)
    GROUP BY lag_days
    """,
)
def q_signup_to_purchase_lag(spark, sf_dir):
    """Conversion-lag histogram: per signed-up user, whole days between
    their FIRST signup and their first purchase at-or-after it, counted
    per day bucket. Users who never purchase after signing up drop out
    (they belong to the funnel query, not the lag distribution).

    Exactness: int64 epoch-micro difference, bucketed by FLOOR division
    (explicit FLOOR on both sides — Spark's double→long cast truncates
    while DuckDB's rounds, NOTES rule 4; values are non-negative by the
    >= filter so floor == truncate anyway, stated not assumed).

    Plan: both aggregates hash on user_id and the join keys match, so
    the whole query runs in ONE user_id partitioning (Spark reuses the
    exchange); output is bounded by the day span, not by users.
    """
    ev = load_events(spark, sf_dir)
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("signup_us"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.unix_micros("ts").alias("p_us"))
        .join(s, "user_id")
        .filter(F.col("p_us") >= F.col("signup_us"))
        .groupBy("user_id", "signup_us")
        .agg(F.min("p_us").alias("first_purchase_us"))
    )
    return (
        fp.select(
            F.floor(
                (F.col("first_purchase_us") - F.col("signup_us"))
                / 86_400_000_000.0
            )
            .cast("bigint")
            .alias("lag_days")
        )
        .groupBy("lag_days")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# ---------------------------------------------------------------------------
# Event-rate burst days (exact-integer z-score flag)
# ---------------------------------------------------------------------------


@register(
    "event_burst_days",
    """
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT)    AS n,
               CAST(SUM(c) AS BIGINT)      AS tot,
               CAST(SUM(c * c) AS BIGINT)  AS sq
        FROM d GROUP BY 1
    )
    SELECT d.event_type, d.day, d.c AS n_events
    FROM d JOIN s USING (event_type)
    WHERE s.n > 1 AND (s.n * d.c - s.tot) > 0
      AND CAST(s.n * d.c - s.tot AS HUGEINT) * (s.n * d.c - s.tot)
              * (s.n - 1)
          > 4 * CAST(s.n AS HUGEINT)
              * (CAST(s.n AS HUGEINT) * s.sq
                 - CAST(s.tot AS HUGEINT) * s.tot)
    """,
)
def q_event_burst_days(spark, sf_dir):
    """Days whose event count exceeds the type's mean by more than two
    sample standard deviations — the ops anomaly feed over the same
    daily rollup hourly_event_rates serves (incident days, bot bursts,
    campaign spikes).

    The z-test runs ENTIRELY in exact integers: with per-type n days,
    tot = Σc, sq = Σc², the condition c > μ + 2σ cross-multiplies to
    ``(n·c − tot)² · (n−1) > 4·n·(n·sq − tot²)`` (and n·c − tot > 0 for
    the upper tail) — no float mean/stddev to diverge between engines.
    The products are DECIMAL(38)/HUGEINT: day counts at petabyte scale
    push (n·c)² past int64 (NOTES rule 10's wide-type discipline).
    2σ, not 3σ: measured max |z| across the testdata's types is ~1.6-3.0
    at every sf (counts are near-Poisson by construction), so 3σ would
    be vacuously empty — the anti-vacuity rule from the r3
    suppliers_above_nation_avg lesson; the keyed replicator scales
    counts ×k per day, leaving z invariant, so the flag set is stable
    across scale decades.

    Plan: one (type, day) groupBy, a |types|-row broadcast join back, a
    pure-integer filter. Output is the flagged sliver only."""
    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("tot"),
        F.sum(F.col("c") * F.col("c")).alias("sq"),
    )
    j = daily.join(F.broadcast(stats), "event_type")
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    dev = F.col("n") * F.col("c") - F.col("tot")
    lhs = d38(dev) * d38(dev) * d38(F.col("n") - 1)
    rhs = (
        F.lit(4).cast("decimal(38,0)")
        * d38(F.col("n"))
        * (d38(F.col("n")) * d38(F.col("sq"))
           - d38(F.col("tot")) * d38(F.col("tot")))
    )
    return j.filter(
        (F.col("n") > 1) & (dev > 0) & (lhs > rhs)
    ).select("event_type", "day", F.col("c").alias("n_events"))


# ---------------------------------------------------------------------------
# Peak concurrent sessions per day (distributed sweep line)
# ---------------------------------------------------------------------------


@register(
    "peak_concurrency_by_day",
    """
    WITH gaps AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                     OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sid,
               ts
        FROM gaps
    ),
    iv AS (
        SELECT user_id, sid,
               epoch_us(MIN(ts)) AS start_us,
               epoch_us(MAX(ts)) AS end_us
        FROM sess GROUP BY 1, 2
    ),
    carried AS (
        SELECT CAST(d.cd AS DATE) AS day, COUNT(*) AS base
        FROM iv,
             UNNEST(generate_series(
                 CAST(make_timestamp(start_us) AS DATE) + 1,
                 CAST(make_timestamp(end_us) AS DATE),
                 INTERVAL 1 DAY)) AS d(cd)
        GROUP BY 1
    ),
    deltas AS (
        SELECT CAST(make_timestamp(start_us) AS DATE) AS day,
               start_us AS t, 1 AS delta
        FROM iv
        UNION ALL
        SELECT CAST(make_timestamp(end_us + 1) AS DATE) AS day,
               end_us + 1 AS t, -1 AS delta
        FROM iv
    ),
    net AS (
        SELECT day, t, CAST(SUM(delta) AS BIGINT) AS net
        FROM deltas GROUP BY 1, 2
    ),
    run AS (
        SELECT day, t,
               SUM(net) OVER (PARTITION BY day ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r
        FROM net
    ),
    inday AS (
        SELECT day, CAST(MAX(r) AS BIGINT) AS max_run FROM run GROUP BY 1
    ),
    starts AS (
        SELECT CAST(make_timestamp(start_us) AS DATE) AS day,
               COUNT(*) AS n_starts
        FROM iv GROUP BY 1
    ),
    days AS (
        SELECT day FROM inday
        UNION SELECT day FROM carried
    )
    SELECT d.day,
           CAST(GREATEST(
               COALESCE(c.base, 0),
               COALESCE(c.base, 0) + COALESCE(i.max_run, 0)
           ) AS BIGINT)                          AS peak_concurrency,
           CAST(COALESCE(s.n_starts, 0) AS BIGINT) AS n_sessions_started
    FROM days d
    LEFT JOIN carried c USING (day)
    LEFT JOIN inday  i USING (day)
    LEFT JOIN starts s USING (day)
    WHERE GREATEST(COALESCE(c.base, 0),
                   COALESCE(c.base, 0) + COALESCE(i.max_run, 0)) > 0
       OR COALESCE(s.n_starts, 0) > 0
    """,
)
def q_peak_concurrency_by_day(spark, sf_dir):
    """Maximum number of simultaneously-open sessions per calendar day —
    the capacity-planning number behind "how many concurrent users must
    this system hold?". Sessions are the 30-minute-gap windows of
    sessionize_events, treated as closed intervals [first_ts, last_ts].

    Distributed sweep line with a day-level carry decomposition, so no
    global ordering is ever materialized:

    - in-day: +1 at each session start, −1 at end+1µs, aggregated per
      instant (so simultaneous boundary events apply atomically), then a
      running sum ORDERED WITHIN THE DAY ONLY gives the concurrency
      delta relative to midnight; its max is the in-day peak component.
    - cross-day: sessions spanning midnight contribute a +1 "base" to
      each fully/partially covered later day via a bounded sequence
      explode (sessions are gap-bounded — the fan-out is end_day −
      start_day, ~1). base(d) counts sessions open AT midnight exactly
      (end ≥ day start ⇔ the −1 lands in-day), so
      peak = max(base, base + max_run) is the true supremum over the
      whole day, midnight boundary included — the µs tie rules
      (end+1 rollover) are frozen in tests/test_event_analytics style
      boundary cases.

    Every quantity is an exact integer. At 1000× the per-day volume the
    day-partition running sum becomes the hot key; the same
    decomposition nests hierarchically (hour-chunk running sums + chunk
    carries — operators/skewsafe.py's halo pattern), which is the
    documented scale path. Classic result used: interval-overlap
    maxima occur at interval starts (or carried midnights), so sampling
    concurrency at boundary instants loses nothing."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_session = F.when(
        gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    sess = ev.withColumn("new_session", new_session).withColumn(
        "sid",
        F.sum("new_session").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    iv = sess.groupBy("user_id", "sid").agg(
        F.unix_micros(F.min("ts")).alias("start_us"),
        F.unix_micros(F.max("ts")).alias("end_us"),
    ).localCheckpoint()  # shared by carried/deltas/starts (3 consumers)
    start_day = F.to_date(F.timestamp_micros(F.col("start_us")))
    end_day = F.to_date(F.timestamp_micros(F.col("end_us")))
    carried = (
        iv.select(
            F.explode(
                # guard: sequence(a, b) DESCENDS when a > b (Spark default
                # step -1) — short sessions must yield an empty cover set
                F.when(
                    end_day > start_day,
                    F.sequence(F.date_add(start_day, 1), end_day),
                ).otherwise(F.array().cast("array<date>"))
            ).alias("day")
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("base"))
    )
    deltas = iv.select(
        start_day.alias("day"), F.col("start_us").alias("t"),
        F.lit(1).alias("delta"),
    ).unionByName(
        iv.select(
            F.to_date(F.timestamp_micros(F.col("end_us") + 1)).alias("day"),
            (F.col("end_us") + 1).alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    net = deltas.groupBy("day", "t").agg(
        F.sum("delta").cast("long").alias("net")
    )
    run = net.withColumn(
        "r",
        F.sum("net").over(
            Window.partitionBy("day").orderBy("t")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    inday = run.groupBy("day").agg(F.max("r").cast("long").alias("max_run"))
    starts = iv.groupBy(start_day.alias("day")).agg(
        F.count(F.lit(1)).alias("n_starts")
    )
    days = inday.select("day").union(carried.select("day")).distinct()
    base = F.coalesce(F.col("base"), F.lit(0))
    return (
        days.join(carried, "day", "left")
        .join(inday, "day", "left")
        .join(starts, "day", "left")
        .select(
            "day",
            F.greatest(
                base, base + F.coalesce(F.col("max_run"), F.lit(0))
            ).cast("long").alias("peak_concurrency"),
            F.coalesce(F.col("n_starts"), F.lit(0))
            .cast("long")
            .alias("n_sessions_started"),
        )
        # a session ending at 23:59:59.999999 parks its -1 at the next
        # midnight: that day is a rollover artifact (peak 0, no starts,
        # no coverage) on both engines -- drop it from the report
        .filter(
            (F.col("peak_concurrency") > 0)
            | (F.col("n_sessions_started") > 0)
        )
    )


# ---------------------------------------------------------------------------
# Part-graph PageRank (iterative power method)
# ---------------------------------------------------------------------------


@register("part_pagerank")  # rows-only: iterative float fixpoint has no SQL oracle
def q_part_pagerank(spark, sf_dir):
    """Top-50 parts by PageRank over the co-purchase graph (edges =
    part pairs bought together in >= 2 orders, the oracled
    part_cooccurrence sliver) — "centrality in the basket graph" ranks
    hub products the way raw co-occurrence counts cannot (a part
    co-bought with many DIFFERENT well-connected parts outranks one
    co-bought often with a single partner).

    The genuinely ITERATIVE registry entry: ten power-method rounds as
    a driver loop of join+aggregate with per-round lineage checkpoints
    (operators/graph.py::pagerank — the brief's 'iterative algorithms'
    slot beside connected components). Rows-only by design: a float
    fixpoint is not SQL-expressible for the DuckDB oracle; its anchor
    twin is part_cooccurrence (same edge construction, hash-green) and
    the numerical certificate is numpy power-iteration agreement +
    mass conservation in tests/test_graph_pagerank.py.

    Determinism of the emitted rows: ranks are reproducible to ~1e-12
    (not bit-exact across partitionings), so the top-50 cut orders by
    (rank DESC, part) with rank rounded to 9dp — far above float noise,
    far below rank gaps."""
    from .operators.graph import pagerank

    edges = q_part_cooccurrence(spark, sf_dir).select("part_a", "part_b")
    pr = pagerank(edges, "part_a", "part_b", damping=0.85, iters=10)
    return (
        pr.select(
            F.col("node").alias("part"),
            F.round("rank", 9).alias("rank"),
        )
        .orderBy(F.col("rank").desc(), "part")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Day-over-day user overlap (churn adjacency)
# ---------------------------------------------------------------------------


@register(
    "day_over_day_user_overlap",
    """
    WITH ud AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    pairs AS (
        SELECT a.day AS day,
               CAST(COUNT(*) AS BIGINT) AS n_overlap
        FROM ud a JOIN ud b
          ON a.user_id = b.user_id AND b.day = a.day - 1
        GROUP BY 1
    ),
    daily AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS n_users FROM ud GROUP BY 1
    )
    SELECT d.day,
           d.n_users,
           p.n_users                                   AS n_prev_users,
           CAST(COALESCE(o.n_overlap, 0) AS BIGINT)    AS n_overlap,
           COALESCE(o.n_overlap, 0) * 1.0
               / (d.n_users + p.n_users - COALESCE(o.n_overlap, 0))
                                                       AS jaccard
    FROM daily d
    JOIN daily p ON p.day = d.day - 1
    LEFT JOIN pairs o ON o.day = d.day
    """,
)
def q_day_over_day_user_overlap(spark, sf_dir):
    """For each day with a preceding active day: users active on both
    days, and the Jaccard overlap of the two daily user sets — the
    adjacency view of churn (day_over_day stickiness), complementing
    dau_mau_stickiness' 30-day window with a 1-day one.

    Plan: ONE distinct user-day table feeds all three legs; the overlap
    join shuffles on user_id (b-side shifted by +1 day via the join
    condition — no second distinct pass), daily counts are a (day)
    aggregate, and the final joins are day-level (bounded by calendar
    size — broadcast). Jaccard = exact int64 overlap / exact
    inclusion-exclusion union: one division of identical ints, raw."""
    ev = load_events(spark, sf_dir)
    ud = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct().localCheckpoint()
    a = ud.alias("a")
    b = ud.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.day") == F.date_sub(F.col("a.day"), 1)),
        )
        .groupBy(F.col("a.day").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    daily = ud.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    d = daily.alias("d")
    p = daily.select(
        F.date_add("day", 1).alias("day"),
        F.col("n_users").alias("n_prev_users"),
    ).alias("p")
    ov = F.coalesce(F.col("n_overlap"), F.lit(0))
    return (
        d.join(p, "day")
        .join(F.broadcast(pairs), "day", "left")
        .select(
            "day",
            "n_users",
            "n_prev_users",
            ov.cast("long").alias("n_overlap"),
            (
                ov * F.lit(1.0)
                / (F.col("n_users") + F.col("n_prev_users") - ov)
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Hour-of-week activity heatmap
# ---------------------------------------------------------------------------


@register(
    "hour_of_week_heatmap",
    """
    SELECT CAST((dayofweek(CAST(ts AS DATE)) + 6) % 7 AS INTEGER) AS dow,
           CAST(hour(ts) AS INTEGER)                              AS hour,
           CAST(COUNT(*) AS BIGINT)                               AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT)                AS n_users,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT)                                        AS n_errors
    FROM events
    GROUP BY 1, 2
    """,
)
def q_hour_of_week_heatmap(spark, sf_dir):
    """Events per (day-of-week, hour-of-day) cell with distinct users and
    error counts — the 7×24 heatmap behind "when is this system busy /
    fragile" capacity views; complements hourly_event_rates' calendar
    axis with the cyclic one.

    dow is the pandas 0=Monday convention (functions/dateparts.py — the
    Spark +5 / DuckDB +6 remap divergence is the repo's documented
    cross-engine date-part gotcha). One groupBy shuffle on 168 cyclic
    keys; COUNT DISTINCT expands to the standard two-phase plan; all
    outputs exact integers."""
    from .functions.dateparts import pandas_day_of_week

    ev = load_events(spark, sf_dir)
    return ev.groupBy(
        pandas_day_of_week(F.to_date("ts")).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).cast("long").alias("n_errors"),
    )
