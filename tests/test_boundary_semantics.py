"""Boundary-semantics probes: every comparison an operator makes at an
EXACT edge (equal timestamp, value landing on a quantile, event at the
watermark cutoff, hamming == threshold) is frozen here at µs/penny
resolution.

Hash-green at the driver's scales ≠ boundary-correct: the r3 session-gap
find (an event exactly prev_ts+gap MERGES; the oracle's >= was wrong and
passed only because testdata had no exact-gap pair) proved that class of
bug. These fixtures are crafted so the edge value EXISTS in the data, and
each test states the convention the oracle mirrors.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import SF_DIR


# ---------------------------------------------------------------------------
# As-of join: equal timestamps at µs resolution
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def asof_frames(spark):
    """One left row at T; right rows at T−1µs, T, T+1µs."""
    t = dt.datetime(2024, 3, 1, 12, 0, 0, 500_000)
    us = dt.timedelta(microseconds=1)
    left = spark.createDataFrame(
        [(1, t, "probe")], "k int, t timestamp, tag string"
    )
    right = spark.createDataFrame(
        [(1, t - us, 1.0), (1, t, 2.0), (1, t + us, 3.0)],
        "k int, rt timestamp, v double",
    )
    return left, right


def test_asof_equal_timestamp_inclusive_takes_same_instant(spark, asof_frames):
    """Backward as-of, inclusive (≤): a right row at EXACTLY the left
    timestamp wins over the one 1µs earlier — the convention registered
    as asof_last_order_value (operators/asof.py: right rows sort before
    left at equal __t)."""
    from stock_market_etl_pipeline_spark.operators.asof import asof_join

    left, right = asof_frames
    out = asof_join(left, right, key="k", left_time="t", right_time="rt",
                    value_cols=["v"]).collect()
    assert out[0]["asof_v"] == 2.0


def test_asof_equal_timestamp_strict_steps_back_one_us(spark, asof_frames):
    """Backward as-of, strict (<): the same-instant right row is EXCLUDED
    and the row 1µs earlier wins."""
    from stock_market_etl_pipeline_spark.operators.asof import asof_join

    left, right = asof_frames
    out = asof_join(left, right, key="k", left_time="t", right_time="rt",
                    value_cols=["v"], strict=True).collect()
    assert out[0]["asof_v"] == 1.0


def test_asof_forward_equal_timestamp_conventions(spark, asof_frames):
    """Forward as-of: inclusive (≥) matches the same-instant row; strict
    (>) steps 1µs forward."""
    from stock_market_etl_pipeline_spark.operators.asof import (
        asof_join_forward,
    )

    left, right = asof_frames
    inc = asof_join_forward(left, right, key="k", left_time="t",
                            right_time="rt", value_cols=["v"]).collect()
    assert inc[0]["asof_next_v"] == 2.0
    st = asof_join_forward(left, right, key="k", left_time="t",
                           right_time="rt", value_cols=["v"],
                           strict=True).collect()
    assert st[0]["asof_next_v"] == 3.0


# ---------------------------------------------------------------------------
# Winsorization: a return landing EXACTLY on the 1st/99th percentile
# ---------------------------------------------------------------------------


def _winsor_ticks(spark):
    """102 closes → 101 daily returns, all boundary values exact doubles
    ON the 6dp grid (dyadic ratios while closes are still exact):

        1024 → 768 (−25%) → 672 (−12.5%) → 756 (+12.5%) → 945 (+25%),
        then 97 interior days of ×(257/256) (≈ +0.390625%, strictly
        inside (−12.5, +12.5)).

    n = 101 ⇒ percentile positions (n−1)·0.01 = 1 and (n−1)·0.99 = 99 are
    integral ⇒ lo/hi land EXACTLY on the −12.5 / +12.5 data points with no
    interpolation, and ROUND(…, 6) is the identity on them.
    """
    closes = [1024.0, 768.0, 672.0, 756.0, 945.0]
    for _ in range(97):
        closes.append(closes[-1] * (257.0 / 256.0))
    rows = [
        ("S", dt.date(2024, 1, 1) + dt.timedelta(days=i), c)
        for i, c in enumerate(closes)
    ]
    return spark.createDataFrame(rows, "symbol string, date date, close double")


def test_winsorized_value_exactly_on_percentile_is_not_clipped(
    spark, monkeypatch
):
    """The clip predicate is STRICT (< lo | > hi): a return EXACTLY equal
    to the 1st/99th percentile is kept un-clipped, one 1-ulp-class step
    beyond (here the ±25% extremes) is clipped to the bound. Freezes the
    convention the winsorized_returns oracle mirrors (registry_ext3)."""
    import importlib

    from stock_market_etl_pipeline_spark import registry

    # the package re-exports the ticks FUNCTION under the submodule's name,
    # so fetch the module object itself before patching
    ticks_mod = importlib.import_module(
        "stock_market_etl_pipeline_spark.sources.ticks"
    )
    monkeypatch.setattr(
        ticks_mod, "ticks", lambda s, d: _winsor_ticks(spark)
    )
    out = registry.queries()["winsorized_returns"](spark, SF_DIR).collect()
    assert len(out) == 101
    by_change = {round(r["change_pct"], 6): r for r in out}
    lo_row, hi_row = by_change[-12.5], by_change[12.5]
    min_row, max_row = by_change[-25.0], by_change[25.0]
    assert lo_row["lo"] == -12.5 and lo_row["hi"] == 12.5
    # exactly ON the percentile → NOT clipped, value passes through
    assert lo_row["clipped"] is False and lo_row["winsorized"] == -12.5
    assert hi_row["clipped"] is False and hi_row["winsorized"] == 12.5
    # beyond → clipped TO the exact bound
    assert min_row["clipped"] is True and min_row["winsorized"] == -12.5
    assert max_row["clipped"] is True and max_row["winsorized"] == 12.5
    n_clipped = sum(1 for r in out if r["clipped"])
    assert n_clipped == 2  # only the two extremes; all interior rows kept


# ---------------------------------------------------------------------------
# Quartile bucketing: volume exactly AT Q1/Q2/Q3
# ---------------------------------------------------------------------------


def test_volume_quartile_boundaries_are_inclusive_below(spark):
    """volume_category_expr buckets with ≤: a volume EXACTLY at Q1/Q2/Q3
    falls in the LOWER bucket (reference src/transform.py:237-257's
    convention). Five exact-integer volumes put Q1/Q2/Q3 exactly on data
    points (positions (n−1)/4 integral)."""
    from stock_market_etl_pipeline_spark.operators.enrich import enrich

    rows = [
        ("S", dt.date(2024, 1, d + 1), 10.0, 11.0, 9.0, 10.0, v)
        for d, v in enumerate([10, 20, 30, 40, 50])
    ]
    df = spark.createDataFrame(
        rows,
        "symbol string, date date, open double, high double, low double, "
        "close double, volume bigint",
    )
    got = {r["volume"]: r["volume_category"] for r in enrich(df).collect()}
    assert got == {
        10: "Low",
        20: "Low",        # == Q1 → Low, not Medium
        30: "Medium",     # == Q2 → Medium, not High
        40: "High",       # == Q3 → High, not Very High
        50: "Very High",
    }


# ---------------------------------------------------------------------------
# RFM: a customer landing EXACTLY on a quartile threshold
# ---------------------------------------------------------------------------


def test_rfm_exact_quartile_point_falls_in_lower_bucket(spark, monkeypatch):
    """rfm_segments scores with STRICT > against each quartile: a customer
    whose frequency/monetary/recency is EXACTLY the 25th-percentile value
    stays in the bottom bucket (score 1) — and for recency, where lower is
    better, exactly-at-threshold keeps the TOP score 4. Five customers
    with freq 1..5 and one $100.00 order each per count put every quartile
    exactly on a data point (integer percentile positions, penny-exact
    monetary)."""
    import stock_market_etl_pipeline_spark.registry_ext3 as ext3
    from stock_market_etl_pipeline_spark import registry

    last = dt.datetime(2024, 1, 31)
    rows = []
    for k in range(1, 6):  # customer k: k orders, last one (k−1) days ago
        for j in range(k):
            rows.append(
                (k, last - dt.timedelta(days=(k - 1) + j * 30), 100.00)
            )
    orders = spark.createDataFrame(
        rows, "o_custkey long, o_orderdate timestamp, o_totalprice double"
    )
    monkeypatch.setattr(ext3, "load_table", lambda s, d, t: orders)
    got = {
        r["custkey"]: (r["r_score"], r["f_score"], r["m_score"])
        for r in registry.queries()["rfm_segments"](spark, SF_DIR).collect()
    }
    # quartiles: recency [0..4] → r1=1 r2=2 r3=3; freq [1..5] → f1=2 f2=3
    # f3=4; monetary [100..500] → m1=200 m2=300 m3=400
    assert got == {
        1: (4, 1, 1),  # recency 0 (best)
        2: (4, 1, 1),  # recency == r1 → still top; freq == f1 → bottom
        3: (3, 2, 2),  # each value == median → second bucket, not third
        4: (2, 3, 3),  # == 75th percentile → third bucket, not fourth
        5: (1, 4, 4),
    }


# ---------------------------------------------------------------------------
# Watermark: event exactly AT the cutoff; window end exactly == watermark
# ---------------------------------------------------------------------------

_WM_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@pytest.mark.slow  # >8 s brute-force/matrix leg (VERDICT r12 #1)
def test_watermark_exact_cutoff_boundary(spark, tmp_path):
    """Freezes Spark's two watermark edge conventions (probed empirically,
    asserted here so an engine upgrade that flips them fails loudly):

    1. a window whose end is EXACTLY the watermark is finalized and
       emitted (emission is window.end ≤ wm, inclusive);
    2. a late row with event time EXACTLY the watermark survives, while
       one 1µs earlier is dropped (the late filter is event_time < wm,
       strict).
    """
    from stock_market_etl_pipeline_spark.streaming.windows import (
        tumbling_event_counts,
    )

    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    landing = str(tmp_path / "landing")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def _write(specs):
        data = [
            (base + dt.timedelta(minutes=m, microseconds=us), et, 1.0)
            for m, us, et in specs
        ]
        spark.createDataFrame(data, _WM_SCHEMA).write.mode("append").parquet(
            landing
        )

    def _run():
        stream = spark.readStream.schema(_WM_SCHEMA).parquet(landing)
        q = (
            tumbling_event_counts(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: two hour-0 clicks; max event at minute 90 with a 30-minute
    # delay puts the watermark at EXACTLY 60:00.000000 = hour-0's end
    _write([(5, 0, "click"), (10, 0, "click"), (90, 0, "view")])
    _run()
    out1 = spark.read.parquet(sink)
    h0 = out1.filter(
        (F.col("event_type") == "click") & (F.hour("window_start") == 0)
    ).collect()
    assert len(h0) == 1 and h0[0]["n_events"] == 2  # end == wm → emitted

    # batch 2: late clicks at 59:59.999999 (1µs before the wm → dropped;
    # its hour-0 window is already finalized) and at exactly 60:00.000000
    # (== wm → kept, lands in hour-1), plus an advancing event
    _write([(59, 999_999, "click"), (60, 0, "click"), (200, 0, "view")])
    _run()
    out2 = spark.read.parquet(sink)
    h0_after = out2.filter(
        (F.col("event_type") == "click") & (F.hour("window_start") == 0)
    ).collect()
    assert len(h0_after) == 1 and h0_after[0]["n_events"] == 2  # unchanged
    h1_click = out2.filter(
        (F.col("event_type") == "click") & (F.hour("window_start") == 1)
    ).collect()
    assert len(h1_click) == 1 and h1_click[0]["n_events"] == 1  # == wm kept


# ---------------------------------------------------------------------------
# SimHash: hamming distance exactly == threshold
# ---------------------------------------------------------------------------


@pytest.mark.slow  # >8 s brute-force/matrix leg (VERDICT r12 #1)
def test_simhash_hamming_exactly_at_threshold_is_kept(spark):
    """simhash_near_pairs verifies with ≤ max_distance: a pair at EXACTLY
    the threshold is returned; threshold−1 drops it. The two docs below
    differ by one token and measure hamming 4 on the 60-bit signature
    (deterministic md5 hashing — stable across runs); 5 bands of 12 bits
    guarantee candidacy for hamming < 5 by pigeonhole."""
    from stock_market_etl_pipeline_spark.operators.dedup import (
        simhash_near_pairs,
        simhash_signatures,
    )

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa"
    )
    other = base.replace("papa", "romeo")
    docs = spark.createDataFrame(
        [(0, base, "en", "s", len(base)), (2, other, "en", "s", len(other))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sigs = {r["doc_id"]: r["simhash"]
            for r in simhash_signatures(docs).collect()}
    h = bin(sigs[0] ^ sigs[2]).count("1")
    assert h == 4  # the fixture's ground truth; fails if hashing changes

    at = simhash_near_pairs(docs, max_distance=h, bands=5).collect()
    assert [(r["doc_a"], r["doc_b"], r["hamming"]) for r in at] == [(0, 2, h)]
    below = simhash_near_pairs(docs, max_distance=h - 1, bands=5).collect()
    assert below == []


# ---------------------------------------------------------------------------
# Boilerplate vocabulary: document frequency exactly at the cutoff
# ---------------------------------------------------------------------------


def test_boilerplate_df_exactly_at_min_df_is_included(spark):
    """BOILERPLATE_MIN_DF is an inclusive >= : a 3-gram shared by EXACTLY
    3 documents is boilerplate; shared by 2 is not. The oracle mirrors
    HAVING COUNT(DISTINCT doc_id) >= 3."""
    from stock_market_etl_pipeline_spark.functions.text import (
        word_shingles_all,
        ws_tokens,
    )
    from stock_market_etl_pipeline_spark.registry_llm import BOILERPLATE_MIN_DF

    assert BOILERPLATE_MIN_DF == 3  # fixture geometry below depends on it
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma tail1 x"),
            (2, "alpha beta gamma tail2 y"),
            (3, "alpha beta gamma tail3 z"),   # 'alpha beta gamma' df=3 → in
            (4, "delta epsilon zeta tail4 w"),
            (5, "delta epsilon zeta tail5 v"), # 'delta epsilon zeta' df=2 → out
        ],
        ["doc_id", "text"],
    )
    grams = docs.select(
        "doc_id",
        F.explode(word_shingles_all(ws_tokens(F.col("text")), 3)).alias("g"),
    )
    bp = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= BOILERPLATE_MIN_DF)
    )
    kept = {r["g"] for r in bp.collect()}
    assert "alpha beta gamma" in kept
    assert "delta epsilon zeta" not in kept


def test_shingles_on_docs_shorter_than_k_are_empty(spark):
    """Documents with fewer than k tokens yield an EMPTY shingle array —
    not a crash. Without the n >= k guard, sequence(1, greatest(n-k+1,0))
    produces the descending [1, 0] (Spark defaults step to -1 when
    start > stop) and slice(tokens, 0, k) throws
    INVALID_PARAMETER_VALUE.START at runtime; the DuckDB oracles'
    generate_series(1, n-k+1) is empty, so the engines would diverge the
    moment a short doc enters the corpus (ADVICE r4). Probes n = k-1
    (the crash case), n = k (exactly one window), empty, and
    whitespace-only text."""
    from stock_market_etl_pipeline_spark.functions.text import (
        word_shingles,
        word_shingles_all,
        ws_tokens,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b"),            # n=2 < k=3 → []
            (2, "a b c"),          # n=3 == k → one window
            (3, ""),               # split('') → [''] (n=1) → []
            (4, "   "),            # trim → '' → [''] → []
            (5, "a b c d"),        # n=4 → two windows
        ],
        ["doc_id", "text"],
    )
    out = docs.select(
        "doc_id",
        word_shingles(ws_tokens(F.col("text")), 3).alias("uniq"),
        word_shingles_all(ws_tokens(F.col("text")), 3).alias("all_"),
    ).collect()
    got = {r["doc_id"]: (r["uniq"], r["all_"]) for r in out}
    assert got[1] == ([], [])
    assert got[2] == (["a b c"], ["a b c"])
    assert got[3] == ([], [])
    assert got[4] == ([], [])
    assert got[5] == (["a b c", "b c d"], ["a b c", "b c d"])


def test_temperature_mix_uniform_strata_all_rates_exactly_one(spark):
    """Degenerate edge: equal-count strata ⇒ every rate is EXACTLY 1.0
    (sqrt(n/n) with exact ints — no float drift may push a rate below 1
    and silently drop rows)."""
    rows = [(i, f"lang{i % 4}") for i in range(400)]  # 100 docs per lang
    docs = spark.createDataFrame(rows, ["doc_id", "lang"])
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    min_n = counts.agg(F.min("n_total").alias("min_n"))
    rates = counts.crossJoin(F.broadcast(min_n)).select(
        "lang",
        F.sqrt(F.col("min_n").cast("double") / F.col("n_total")).alias("rate"),
    )
    assert all(r["rate"] == 1.0 for r in rates.collect())


# ---------------------------------------------------------------------------
# Q21 sole-last-supplier: exact timestamp tie at µs resolution
# ---------------------------------------------------------------------------


def test_sole_last_supplier_exact_timestamp_tie_drops_order(spark, monkeypatch):
    """Two suppliers whose final ship timestamps tie to the microsecond:
    NOBODY is strictly last, so the order contributes to no supplier —
    the n_at_max = 1 predicate is what makes the result deterministic.
    A 1µs separation flips the order back in, for the later supplier."""
    import stock_market_etl_pipeline_spark.registry_tpch2 as t2

    t = dt.datetime(1996, 6, 1, 12, 0, 0, 250_000)
    us = dt.timedelta(microseconds=1)
    li = spark.createDataFrame(
        [
            # order 1: suppliers 1 and 2 tie exactly → dropped
            (1, 1, t), (1, 2, t), (1, 2, t - us),
            # order 2: supplier 2 ships 1µs later than supplier 1 → counted
            (2, 1, t), (2, 2, t + us),
        ],
        "l_orderkey long, l_suppkey long, l_shipdate timestamp",
    )
    sup = spark.createDataFrame(
        [(1, "S1"), (2, "S2")], "s_suppkey long, s_name string"
    )
    tables = {"lineitem": li, "supplier": sup}
    monkeypatch.setattr(t2, "load_table", lambda s, d, n: tables[n])
    rows = t2.q_sole_last_supplier_orders(spark, SF_DIR).collect()
    assert {(r.s_suppkey, r.n_orders_waited) for r in rows} == {(2, 1)}


# ---------------------------------------------------------------------------
# Q2 argmin: exact unit-price tie breaks to MIN suppkey
# ---------------------------------------------------------------------------


def test_min_cost_supplier_unit_price_tie_takes_min_suppkey(spark, monkeypatch):
    """Two suppliers offer the identical exact unit price (same
    micro-dollar integer): the struct-argmin must pick the SMALLER
    suppkey, and a 1-micro cheaper third supplier must win outright."""
    import stock_market_etl_pipeline_spark.registry_tpch2 as t2

    li = spark.createDataFrame(
        [
            # part 1: suppliers 7 and 3 tie at 5_000_000 micros/unit
            (1, 7, 2.0, 10.00), (1, 3, 4.0, 20.00),
            # part 2: sub-cent price differences quantize AWAY (money is
            # 2dp by contract: cents(4.999999) == cents(5.00) == 500, a
            # tie → min suppkey 1); a real cent (4.99) separates them
            (2, 9, 1.0, 4.999999), (2, 1, 1.0, 5.00), (2, 5, 1.0, 4.99),
        ],
        "l_partkey long, l_suppkey long, l_quantity double,"
        " l_extendedprice double",
    )
    part = spark.createDataFrame(
        [(1, "p1"), (2, "p2")], "p_partkey long, p_name string"
    )
    sup = spark.createDataFrame(
        [(i, f"S{i}", 0) for i in (1, 3, 5, 7, 9)],
        "s_suppkey long, s_name string, s_nationkey int",
    )
    nat = spark.createDataFrame(
        [(0, "ZION")], "n_nationkey int, n_name string"
    )
    tables = {"lineitem": li, "part": part, "supplier": sup, "nation": nat}
    monkeypatch.setattr(t2, "load_table", lambda s, d, n: tables[n])
    rows = {r.p_partkey: r for r in t2.q_min_cost_supplier_per_part(spark, SF_DIR).collect()}
    assert rows[1].best_suppkey == 3          # exact tie → min suppkey
    assert rows[1].min_unit_micros == 5_000_000
    assert rows[2].best_suppkey == 5          # one real cent cheaper wins
    assert rows[2].min_unit_micros == 4_990_000
