"""Finance time-series, part 5: Heikin-Ashi candles and a momentum
decile backtest.

Continues the ``registry_fin*`` family (reference indicator surface:
``src/transform.py`` moving averages / returns / volatility) with two
shapes the earlier parts don't cover:

- **A recursive candle transform** (Heikin-Ashi's ha_open feeds on its
  own previous value). The recursion unrolls into a geometric 2^-k
  convolution — binary-exact weights, so unlike macd's 2^16-quantized
  EMA weights there is no quantization at all: the 20-tap re-seeded
  recursion is exact int64 arithmetic closed by one double division.
- **A cross-sectional portfolio composition** (rank this month, hold
  next month): window spine per symbol for the signal, a month-keyed
  rank for the portfolio, and a grouped forward-return average — the
  first query whose groups are PORTFOLIOS rather than symbols/dates.

Exactness policy per NOTES rules 10-13: integer cents spine, single
correctly-rounded double divisions, 6dp rounds only at O(1)-ratio
aggregate boundaries, no wide-int→double casts above 2^63.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .oracles import WITH_TICKS
from .registry import register
from .sources.ticks import ticks

_W = lambda: Window.partitionBy("symbol").orderBy("date")  # noqa: E731


# ---------------------------------------------------------------------------
# Heikin-Ashi candles — exact binary-weight unrolled recursion
# ---------------------------------------------------------------------------

_HA_N = 20  # re-seed horizon: ha_open(t-N+1) := ha_close(t-N)
# unrolled weights on q = oc+hc+lc+cc (ha_close*400): 2^(N-1-k) for lag
# k=1..N-1 plus weight 1 at lag N; they sum to exactly 2^(N-1)
_HA_DEN = float((1 << (_HA_N - 1)) * 400)


def _ha_num_expr(w):
    acc = None
    for k in range(1, _HA_N):
        term = F.lag("q", k).over(w) * F.lit(1 << (_HA_N - 1 - k))
        acc = term if acc is None else acc + term
    return acc + F.lag("q", _HA_N).over(w)


def _ha_num_sql() -> str:
    terms = [
        f"LAG(q, {k}) OVER w * {1 << (_HA_N - 1 - k)}"
        for k in range(1, _HA_N)
    ]
    terms.append(f"LAG(q, {_HA_N}) OVER w")
    return " + ".join(terms)


@register(
    "heikin_ashi",
    WITH_TICKS
    + f""",
    c0 AS (
        SELECT symbol, date,
               CAST(round(open  * 100) AS BIGINT)
             + CAST(round(high  * 100) AS BIGINT)
             + CAST(round(low   * 100) AS BIGINT)
             + CAST(round(close * 100) AS BIGINT) AS q,
               CAST(round(high * 100) AS BIGINT)  AS hc,
               CAST(round(low  * 100) AS BIGINT)  AS lc
        FROM ticks
    ),
    conv AS (
        SELECT symbol, date, hc, lc,
               q / 400.0            AS ha_close,
               ({_ha_num_sql()}) / {_HA_DEN!r} AS ha_open
        FROM c0
        WINDOW w AS (PARTITION BY symbol ORDER BY date)
    )
    SELECT symbol, date, ha_open, ha_close,
           GREATEST(hc / 100.0, ha_open, ha_close) AS ha_high,
           LEAST(lc / 100.0, ha_open, ha_close)    AS ha_low
    FROM conv WHERE ha_open IS NOT NULL
    """,
)
def q_heikin_ashi(spark, sf_dir):
    """Heikin-Ashi candles: ha_close = (O+H+L+C)/4 and the recursive
    ha_open = (prev ha_open + prev ha_close)/2, re-seeded at a 20-bar
    horizon (ha_open 20 bars back := its previous ha_close — the same
    talib-style bounded-warmup convention as macd's NULL head; the first
    20 rows per symbol are dropped).

    The recursion unrolls by linearity into ha_open_t =
    Σ_{{k=1..19}} 2^-k·ha_close_{{t-k}} + 2^-19·ha_close_{{t-20}} —
    BINARY weights, so with q = oc+hc+lc+cc (int64 quarter-cents·4,
    ha_close = q/400) the numerator Σ 2^(19-k)·q_{{t-k}} + q_{{t-20}} is
    exact int64 (max 2^19·4.4e7 ≈ 2.3e13, far under 2^63 — no DECIMAL,
    no rule-13 wide-cast exposure) and weights sum to exactly 2^19.
    Both outputs close with ONE correctly-rounded double division by an
    exact-double constant; ha_high/ha_low are GREATEST/LEAST of those
    identical doubles against the cents-grid high/low — bit-exact on
    both engines, emitted raw. One symbol exchange, one Window node.
    Reference semantics: candle transform family beside
    ``src/transform.py`` OHLC derivations (file:line cited in SURVEY §2
    F-family); HA itself is a standard charting extension.
    """
    t = ticks(spark, sf_dir).select(
        "symbol", "date",
        (
            F.round(F.col("open") * 100, 0).cast("bigint")
            + F.round(F.col("high") * 100, 0).cast("bigint")
            + F.round(F.col("low") * 100, 0).cast("bigint")
            + F.round(F.col("close") * 100, 0).cast("bigint")
        ).alias("q"),
        F.round(F.col("high") * 100, 0).cast("bigint").alias("hc"),
        F.round(F.col("low") * 100, 0).cast("bigint").alias("lc"),
    )
    w = _W()
    conv = t.select(
        "symbol", "date", "hc", "lc",
        (F.col("q") / F.lit(400.0)).alias("ha_close"),
        (_ha_num_expr(w) / F.lit(_HA_DEN)).alias("ha_open"),
    )
    return conv.filter(F.col("ha_open").isNotNull()).select(
        "symbol", "date", "ha_open", "ha_close",
        F.greatest(
            F.col("hc") / F.lit(100.0), F.col("ha_open"), F.col("ha_close")
        ).alias("ha_high"),
        F.least(
            F.col("lc") / F.lit(100.0), F.col("ha_open"), F.col("ha_close")
        ).alias("ha_low"),
    )


# ---------------------------------------------------------------------------
# Momentum decile backtest — rank on trailing 3-month return, hold 1 month
# ---------------------------------------------------------------------------


@register(
    "momentum_decile_backtest",
    WITH_TICKS
    + """,
    me AS (
        SELECT symbol,
               CAST(year(date) * 12 + month(date) AS BIGINT) AS mseq,
               CAST(year(date) AS INTEGER)  AS year,
               CAST(month(date) AS INTEGER) AS month,
               arg_max(CAST(round(close * 100) AS BIGINT), date) AS cc
        FROM ticks GROUP BY 1, 2, 3, 4
    ),
    sig AS (
        SELECT symbol, mseq, year, month,
               CASE WHEN mseq - LAG(mseq, 3) OVER w = 3
                    THEN cc / CAST(LAG(cc, 3) OVER w AS DOUBLE) - 1
               END AS mom,
               CASE WHEN LEAD(mseq, 1) OVER w = mseq + 1
                    THEN (LEAD(cc, 1) OVER w / CAST(cc AS DOUBLE) - 1) * 100
               END AS fwd_ret_pct
        FROM me
        WINDOW w AS (PARTITION BY symbol ORDER BY mseq)
    ),
    ranked AS (
        SELECT year, month, mom, fwd_ret_pct,
               ROW_NUMBER() OVER (PARTITION BY mseq
                                  ORDER BY mom DESC, symbol) AS rn,
               COUNT(*)     OVER (PARTITION BY mseq)          AS n
        FROM sig WHERE mom IS NOT NULL AND fwd_ret_pct IS NOT NULL
    )
    SELECT year, month,
           CAST((rn - 1) * 10 // n AS INTEGER)   AS decile,
           CAST(COUNT(*) AS BIGINT)              AS n_symbols,
           ROUND(AVG(fwd_ret_pct), 6)            AS avg_fwd_ret_pct
    FROM ranked
    GROUP BY 1, 2, 3
    """,
)
def q_momentum_decile_backtest(spark, sf_dir):
    """Cross-sectional momentum backtest: each month, rank symbols by
    trailing 3-month return (month-end close cents ratio), cut into
    deciles, and measure each decile's average NEXT-month return — the
    classic Jegadeesh-Titman long-short table, fully distributed.

    Exactness: month-end closes are max_by(cents, date) int64; the
    trailing and forward returns are single divisions of those ints
    (minus-1 and ×100 are single correctly-rounded ops on identical
    doubles — deterministic per NOTES rule 11's single-op exemption);
    month continuity is enforced with integer month-sequence lags so a
    symbol absent from a month never silently compares across a gap.
    Decile = ((rank-1)·10) div n — exact truncating integer division on
    both engines (rule 12: DuckDB ``//``). The per-decile forward-return
    AVG is the one float aggregate: O(1)-percent ratios rounded 6dp
    (rule 10's documented ~sf1000 headroom class). Plan: one symbol
    exchange for month-ends + window spine, one month-keyed exchange for
    the rank, one grouped agg — no joins; portfolio groups are months×10
    rows regardless of corpus size.
    """
    t = ticks(spark, sf_dir)
    me = (
        t.groupBy(
            "symbol",
            (F.year("date") * 12 + F.month("date"))
            .cast("bigint")
            .alias("mseq"),
            F.year("date").cast("int").alias("year"),
            F.month("date").cast("int").alias("month"),
        )
        .agg(
            F.max_by(
                F.round(F.col("close") * 100, 0).cast("bigint"), F.col("date")
            ).alias("cc")
        )
    )
    w = Window.partitionBy("symbol").orderBy("mseq")
    sig = me.select(
        "year", "month", "mseq", "symbol",
        F.when(
            F.col("mseq") - F.lag("mseq", 3).over(w) == 3,
            F.col("cc") / F.lag("cc", 3).over(w).cast("double") - 1,
        ).alias("mom"),
        F.when(
            F.lead("mseq", 1).over(w) == F.col("mseq") + 1,
            (F.lead("cc", 1).over(w) / F.col("cc").cast("double") - 1) * 100,
        ).alias("fwd_ret_pct"),
    ).filter(F.col("mom").isNotNull() & F.col("fwd_ret_pct").isNotNull())
    wm = Window.partitionBy("mseq")
    ranked = sig.select(
        "year", "month", "fwd_ret_pct",
        F.row_number()
        .over(wm.orderBy(F.col("mom").desc(), "symbol"))
        .alias("rn"),
        F.count(F.lit(1)).over(wm).alias("n"),
    )
    return (
        ranked.select(
            "year", "month", "fwd_ret_pct",
            F.expr("CAST((rn - 1) * 10 div n AS INT)").alias("decile"),
        )
        .groupBy("year", "month", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_symbols"),
            F.round(F.avg("fwd_ret_pct"), 6).alias("avg_fwd_ret_pct"),
        )
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend — median of pairwise slopes
# ---------------------------------------------------------------------------

# Depth trigger for the pair-enumeration strategy (VERDICT r9 #3): at or
# below this many days per symbol, each symbol's pairwise-slope median is
# computed by a vectorized numpy kernel inside ONE applyInPandas pass
# (pair matrix ≤ n²/2 doubles ≈ 36 MB transient per group at the bound);
# above it, the streaming JVM sort-merge self-join takes over with a
# finer histogram width so per-bucket occupancy (quadratic in depth)
# stays re-bounded. Both strategies are exact.
_TS_ARRAY_MAX_DAYS = 3000
_TS_WIDTH_FINE = 0.01

# Depth-probe memo, keyed by sf_dir (ADVICE r10): the shallow/deep
# branch choice needs max(days per symbol), which is one tiny count
# aggregate — but running it as a collect() INSIDE the query builder
# made every plan-only consumer (plan_audit, plan-shape tests) execute
# a scan+aggregate per DataFrame construction. The per-symbol depth of
# a given sf_dir is fixed for the life of the process, so probe once
# and memoize.
_DEPTH_MEMO: dict = {}


def _max_symbol_depth(spark, sf_dir) -> int:
    if sf_dir not in _DEPTH_MEMO:
        t = ticks(spark, sf_dir)
        _DEPTH_MEMO[sf_dir] = (
            t.groupBy("symbol")
            .agg(F.count(F.lit(1)).alias("__n"))
            .agg(F.max("__n").alias("mx"))
            .collect()[0]
            .mx
            or 0
        )
    return _DEPTH_MEMO[sf_dir]


def _theil_sen_numpy(t):
    """Per-symbol Theil-Sen via a vectorized numpy kernel — one of the
    repo's DOCUMENTED Python slots (with the stateful-streaming
    processors; everything else is zero-Python-UDF).

    Why Python here and nowhere else: the per-key work is a BOUNDED
    QUADRATIC kernel (n ≤ _TS_ARRAY_MAX_DAYS days → ≤ ~4.5M pairs), and
    JVM row machinery prices every pair at ~300k rows/s/core whether it
    comes from a sort-merge self-join or an interpreted higher-order
    function (measured at sf1, 1.42B pairs: SMJ two-phase 273 s,
    array-explode HOF 199 s — HOFs are not whole-stage-codegen'd).
    numpy's broadcast subtraction + np.partition does the same pairs at
    ~100M/s/core: measured 11.1 s at sf1, 72.1 s at sf10 (was 207 s
    and 2274 s respectively — 31x at sf10, and x6.5 for 10x symbols, so
    still linear in symbols).
    Arrow round-trips int64/float64 bit-exactly, the slope is the same
    single IEEE division of exactly-representable ints, and the median
    is order-statistic selection — so the result (and the oracle hash)
    is identical to the JVM path, which the deep-path certificate test
    asserts (tests/test_ext5.py).

    Grouping: one Arrow batch per symbol (≤ a few thousand rows in,
    ONE row out); the shuffle is the same symbol exchange the JVM plan
    needs anyway. Skew: the kernel's cost is bounded by the depth
    trigger, not by data volume."""
    import pandas as pd

    def kern(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {
                    "symbol": pd.Series([], dtype="int64"),
                    "n_pairs": pd.Series([], dtype="int64"),
                    "theil_sen_slope": pd.Series([], dtype="float64"),
                }
            )
        d = pdf["d"].to_numpy(dtype=np.float64)
        cc = pdf["cc"].to_numpy(dtype=np.float64)  # cents ≪ 2^53: exact
        o = np.argsort(d)
        d, cc = d[o], cc[o]
        # Row-anchored pair enumeration (ADVICE r10): np.triu_indices
        # materialized two m-length int64 index arrays plus cc[i]/cc[j]
        # gather temporaries — ~5x the slopes array, ~180 MB real peak
        # at the 3000-day trigger, multiplied by concurrent tasks.
        # Filling ONE preallocated slopes array anchor-row-by-row keeps
        # peak at the m-double slopes array (~36 MB at the trigger,
        # the bound the trigger was designed around) plus O(n) temps.
        # Same divisions of the same exact operands → bit-identical
        # slopes; the median is order-insensitive, so enumeration
        # order is immaterial.
        m = n * (n - 1) // 2
        slopes = np.empty(m, dtype=np.float64)
        pos = 0
        for a in range(n - 1):
            cnt = n - a - 1
            np.divide(
                cc[a + 1:] - cc[a],
                (d[a + 1:] - d[a]) * 100.0,
                out=slopes[pos:pos + cnt],
            )
            pos += cnt
        klo = (m + 1) // 2  # 1-based lower-median rank, as in the oracle
        slopes.partition(klo - 1)  # in-place: no partitioned copy
        lo = slopes[klo - 1]
        if m % 2:
            med = float(lo)
        else:
            # post-partition, indices ≥ klo hold values ≥ lo; the upper
            # median (rank klo+1, 0-based sorted index klo) is their min
            med = (float(lo) + float(slopes[klo:].min())) / 2.0
        return pd.DataFrame(
            {
                "symbol": [int(pdf["symbol"].iloc[0])],
                "n_pairs": [int(m)],
                "theil_sen_slope": [med],
            }
        )

    return t.groupBy("symbol").applyInPandas(
        kern, "symbol long, n_pairs bigint, theil_sen_slope double"
    )


@register(
    "theil_sen_trend",
    WITH_TICKS
    + """,
    pts AS (
        SELECT symbol,
               date_diff('day', DATE '1970-01-01', date) AS d,
               CAST(round(close * 100) AS BIGINT) AS cc
        FROM ticks
    ),
    slopes AS (
        SELECT a.symbol,
               (b.cc - a.cc) / ((b.d - a.d) * 100.0) AS slope
        FROM pts a JOIN pts b
          ON a.symbol = b.symbol AND a.d < b.d
    ),
    ranked AS (
        SELECT symbol, slope,
               ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY slope) AS rn,
               COUNT(*)     OVER (PARTITION BY symbol)                AS m
        FROM slopes
    )
    SELECT symbol, CAST(MAX(m) AS BIGINT) AS n_pairs,
           CASE WHEN MAX(m) % 2 = 1
                THEN MAX(CASE WHEN rn = (m + 1) // 2 THEN slope END)
                ELSE (MAX(CASE WHEN rn = m // 2     THEN slope END)
                    + MAX(CASE WHEN rn = m // 2 + 1 THEN slope END)) / 2
           END AS theil_sen_slope
    FROM ranked GROUP BY symbol
    """,
)
def q_theil_sen_trend(spark, sf_dir):
    """Theil-Sen estimator per symbol: the MEDIAN of all pairwise
    slopes (close_j − close_i)/(day_j − day_i) — the robust trend that
    linear_trend_forecast's OLS is not (one crash day moves OLS, not
    the slope median; breakdown point 29%).

    Exactness: every slope is ONE division of exact ints (cents delta
    over day-count·100 → dollars/day), so both engines hold identical
    doubles; the median is ORDER-STATISTIC selection (row_number over
    slope — ties carry equal values, so cross-engine tie order is
    immaterial), closed by at most one add + one halving for even
    counts. No rounding anywhere.

    Scale: the pair join is per-symbol quadratic in DAYS — a constant
    per key (~500 at sf0.1; the time axis doesn't grow with sf), so
    total work is linear in symbols: one symbol-keyed sort-merge
    self-join, one symbol exchange for the rank. The same
    group-size-bounded argument as the LSH bucket cap, with the oracle
    stating the identical quadratic directly.

    Pair ENUMERATION auto-switches on history depth (VERDICT r9 #3 —
    the widen knob promoted from docstring prose to code, mirroring
    the enrich quartiles="exact"|"approx" pattern; both branches stay
    EXACT, only the physical strategy moves):

    - shallow (max days/symbol ≤ _TS_ARRAY_MAX_DAYS): the vectorized
      numpy kernel (_theil_sen_numpy — a DOCUMENTED Python slot, see
      its docstring for the measured 20-30x case) computes each
      symbol's slope matrix + order-statistic selection in one
      applyInPandas pass over the same symbol exchange.
    - deep (max days/symbol > _TS_ARRAY_MAX_DAYS, where the transient
      per-group pair matrix would exceed ~36 MB): the memory-safe
      symbol-keyed sort-merge self-join streams pairs into the
      two-phase bucket histogram, and the bucket width drops to
      _TS_WIDTH_FINE (0.01 $/day) so per-bucket occupancy — which
      grows quadratically with depth — stays re-bounded; the
      histogram stays aggregate-only.

    Prior fixed-width measurements (r9, SMJ path at width 1): 207 s at
    sf1, 2274 s at sf10, linear in symbols."""
    t = ticks(spark, sf_dir).select(
        "symbol",
        F.datediff(F.col("date"), F.lit("1970-01-01")).alias("d"),
        F.round(F.col("close") * 100, 0).cast("bigint").alias("cc"),
    )

    # depth trigger: memoized per sf_dir so repeated plan construction
    # is action-free — see _max_symbol_depth
    deep = _max_symbol_depth(spark, sf_dir) > _TS_ARRAY_MAX_DAYS
    if not deep:
        return _theil_sen_numpy(t)
    width = _TS_WIDTH_FINE

    # pair count is CLOSED-FORM from per-symbol day counts (days are
    # distinct within a symbol): m = n(n-1)/2 — no count window over
    # the pair stream, and the median target ranks are known up front.
    # localCheckpoint only on the deep branch, where both phases reuse
    # the tiny per-symbol rank table.
    mdf = t.groupBy("symbol").agg(F.count(F.lit(1)).alias("__n")).select(
        "symbol", "__n",
        F.expr("__n * (__n - 1) div 2").alias("m"),
    ).select(
        "symbol", "__n", "m",
        F.expr("(m + 1) div 2").alias("klo"),
        F.expr("m div 2 + 1").alias("khi"),
    ).localCheckpoint(eager=True)

    def pair_slopes():
        a = t.select(
            F.col("symbol").alias("sym"), F.col("d").alias("da"),
            F.col("cc").alias("ca"),
        )
        b = t.select(
            F.col("symbol").alias("symb"), F.col("d").alias("db"),
            F.col("cc").alias("cb"),
        )
        # try_divide, not /: Catalyst pools this projection into the
        # phase-2 multi-join condition, where it can be EVALUATED on
        # a da == db diagonal row before the da < db residual
        # filters it — ANSI / throws there; try_divide yields NULL
        # and the row is dropped by the residual as intended (slope
        # values on surviving rows are identical).
        return a.join(
            b,
            (F.col("sym") == F.col("symb")) & (F.col("da") < F.col("db")),
        ).select(
            F.col("sym").alias("symbol"),
            F.try_divide(
                F.col("cb") - F.col("ca"),
                (F.col("db") - F.col("da")) * F.lit(100.0),
            ).alias("slope"),
        )

    # Phase 1 — bucket histogram: the pair stream collapses map-side
    # into (symbol, floor(slope / width)) counts, so NOTHING the size
    # of the pair set is ever shuffled or sorted (the first cut sorted
    # all n²/2 slopes under a row_number window: 36 s at sf0.1).
    # Width 1 $/day on shallow histories: measured 15-47M distinct
    # buckets at finer widths (slopes are heavy-tailed) versus ≤ a few
    # thousand pairs per integer bucket. A pathological all-equal-slope
    # symbol would put every pair in one bucket and phase 2 degrades to
    # the sort it replaced — cost bound, not correctness bound.
    qb = F.floor(F.col("slope") / F.lit(width)).cast("long")
    hist = pair_slopes().groupBy(
        "symbol", qb.alias("qb")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    wcum = (
        Window.partitionBy("symbol")
        .orderBy("qb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "symbol", "qb", "cnt",
        F.sum("cnt").over(wcum).alias("cum_end"),
    ).withColumn("cum_start", F.col("cum_end") - F.col("cnt") + 1)
    targets = cum.join(mdf, "symbol").filter(
        (
            (F.col("klo") >= F.col("cum_start"))
            & (F.col("klo") <= F.col("cum_end"))
        )
        | (
            (F.col("khi") >= F.col("cum_start"))
            & (F.col("khi") <= F.col("cum_end"))
        )
    ).select("symbol", "qb", "cum_start")  # ≤ 2 buckets per symbol

    # Phase 2 — re-enumerate pairs, keep only rows landing in a target
    # bucket (broadcast semi-filter), rank WITHIN the bucket: global
    # rank = cum_start - 1 + within-bucket row_number.
    tgt = targets.select(
        F.col("symbol").alias("__tsym"), F.col("qb").alias("__tqb"),
        "cum_start",
    )
    refined = pair_slopes().join(
        F.broadcast(tgt),
        (F.col("symbol") == F.col("__tsym"))
        & (
            F.floor(F.col("slope") / F.lit(width)).cast("long")
            == F.col("__tqb")
        ),
    ).select("symbol", "slope", "cum_start")
    wb = Window.partitionBy("symbol", "cum_start").orderBy("slope")
    picked = refined.select(
        "symbol", "slope",
        (F.col("cum_start") - 1 + F.row_number().over(wb)).alias("grank"),
    ).join(F.broadcast(mdf), "symbol").filter(
        (F.col("grank") == F.col("klo")) | (F.col("grank") == F.col("khi"))
    )
    return picked.groupBy("symbol").agg(
        F.max("m").cast("bigint").alias("n_pairs"),
        F.when(
            F.max("m") % 2 == 1,
            F.max(F.when(F.col("grank") == F.col("klo"), F.col("slope"))),
        )
        .otherwise(
            (
                F.max(
                    F.when(F.col("grank") == F.col("klo"), F.col("slope"))
                )
                + F.max(
                    F.when(F.col("grank") == F.col("khi"), F.col("slope"))
                )
            )
            / 2
        )
        .alias("theil_sen_slope"),
    )
