"""Property-based tests (hypothesis): engine expressions vs plain-Python
reference implementations over generated inputs. One Spark job per example
batch — examples are bounded to keep runtime sane."""

import math

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from stock_market_etl_pipeline_spark.functions.stock import categorize_volatility
from stock_market_etl_pipeline_spark.operators.clean import dedup_keep_last


def ref_categorize(v):
    """Reference src/transform.py:20-42 in plain Python."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "Unknown"
    if v < 1.0:
        return "Very Low"
    if v < 2.0:
        return "Low"
    if v < 3.5:
        return "Medium"
    if v < 5.0:
        return "High"
    return "Very High"


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.floats(min_value=-10, max_value=10, allow_nan=False),
            st.sampled_from([0.999999, 1.0, 2.0, 3.5, 5.0, 4.999999]),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_categorize_volatility_matches_reference(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = [
        r["c"]
        for r in df.select(categorize_volatility(F.col("v")).alias("c")).collect()
    ]
    assert got == [ref_categorize(v) for v in vals]


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # key
            st.integers(min_value=0, max_value=50),  # order
            st.integers(min_value=0, max_value=999), # payload
        ),
        min_size=1,
        max_size=40,
    )
)
def test_dedup_keep_last_matches_reference(spark, rows):
    # tiebreak on payload makes the winner unique even for duplicate
    # (key, order) pairs
    df = spark.createDataFrame(rows, "k int, ord int, v int")
    out = dedup_keep_last(df, keys=["k"], order_by=["ord", "v"]).collect()
    expected = {}
    for k, o, v in rows:
        if k not in expected or (o, v) > expected[k]:
            expected[k] = (o, v)
    got = {r["k"]: (r["ord"], r["v"]) for r in out}
    assert got == expected


@pytest.mark.parametrize("n", [1, 2, 5, 19, 20, 21])
def test_rolling_frames_shrink_exactly_like_pandas(spark, n):
    """SURVEY §7.7: rowsBetween(-(k-1), 0) == pandas rolling(min_periods=1)."""
    import pandas as pd

    from stock_market_etl_pipeline_spark.operators.enrich import enrich

    close = [float(100 + i * 3 % 17) for i in range(n)]
    pdf = pd.DataFrame(
        {
            "symbol": ["S"] * n,
            "date": pd.date_range("2024-01-01", periods=n).date,
            "open": close,
            "high": [c + 1 for c in close],
            "low": [c - 1 for c in close],
            "close": close,
            "volume": [1000 + i for i in range(n)],
        }
    )
    df = enrich(spark.createDataFrame(pdf))
    got = {r["date"]: (r["ma_5"], r["ma_20"]) for r in df.collect()}
    exp5 = pdf["close"].rolling(5, min_periods=1).mean()
    exp20 = pdf["close"].rolling(20, min_periods=1).mean()
    for i, d in enumerate(pdf["date"]):
        assert got[d][0] == pytest.approx(exp5.iloc[i])
        assert got[d][1] == pytest.approx(exp20.iloc[i])


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 30)),
             min_size=1, max_size=15),
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 30)),
             min_size=1, max_size=15),
)
def test_asof_join_matches_pandas_merge_asof(spark, left_rows, right_rows):
    import pandas as pd

    from stock_market_etl_pipeline_spark.operators.asof import asof_join

    # right side must be unique per (key, time) for determinism
    right_rows = list({(k, t): (k, t) for k, t in right_rows}.values())
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left_rows)], "k int, t int, idx int"
    )
    right = spark.createDataFrame(
        [(k, t, k * 1000 + t) for k, t in right_rows], "k int, rt int, v int"
    )
    got = {
        r["idx"]: r["asof_v"]
        for r in asof_join(left, right, key="k", left_time="t",
                           right_time="rt", value_cols=["v"]).collect()
    }
    lp = pd.DataFrame([(k, t, i) for i, (k, t) in enumerate(left_rows)],
                      columns=["k", "t", "idx"]).sort_values("t", kind="stable")
    rp = pd.DataFrame([(k, t, k * 1000 + t) for k, t in right_rows],
                      columns=["k", "rt", "v"]).sort_values("rt", kind="stable")
    merged = pd.merge_asof(lp, rp, left_on="t", right_on="rt", by="k",
                           direction="backward", allow_exact_matches=True)
    expected = {
        int(r.idx): (None if pd.isna(r.v) else int(r.v))
        for r in merged.itertuples()
    }
    assert got == expected


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 6)),
        min_size=2, max_size=60, unique=True,
    )
)
def test_bucket_pairs_equals_self_join(spark, rows):
    """bucket_pairs must emit exactly the i<j pairs a bucket self-join
    would, for any (id, bucket) multiset."""
    from stock_market_etl_pipeline_spark.operators.dedup import bucket_pairs

    df = spark.createDataFrame(rows, "doc_id long, bucket long").distinct()
    got = {
        (r["doc_a"], r["doc_b"])
        for r in bucket_pairs(df, ["bucket"]).collect()
    }
    data = set(rows)
    expected = {
        (a, b)
        for (a, ba) in data
        for (b, bb) in data
        if ba == bb and a < b
    }
    assert got == expected


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 40),
            st.floats(min_value=0, max_value=20, allow_nan=False,
                      allow_infinity=False),
        ),
        min_size=2, max_size=40,
    )
)
def test_band_self_pairs_equals_naive(spark, rows):
    """Bucketized band join ≡ the naive |a-b|<=w nested loop for any
    value distribution (ids deduped, last value wins)."""
    from stock_market_etl_pipeline_spark.operators.rangejoin import (
        band_self_pairs,
    )

    dd = dict(rows)  # unique ids
    df = spark.createDataFrame(list(dd.items()), "pid long, price double")
    width = 1.5
    got = {
        (r["id_a"], r["id_b"])
        for r in band_self_pairs(df, "pid", "price", width).collect()
    }
    expected = {
        (a, b)
        for a in dd
        for b in dd
        if a < b and abs(dd[a] - dd[b]) <= width
    }
    assert got == expected


@given(st.integers(min_value=0, max_value=10**6), st.integers(min_value=0, max_value=50))
def test_scaler_stride_is_coprime(n, seed):
    from math import gcd

    import tools.scale_testdata as sc

    s = sc._coprime_stride(n, seed)
    if n > 2:
        assert 1 <= s < n and gcd(s, n) == 1
    else:
        assert s == 1


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=2, max_value=6),    # prefix length of vocab
            st.integers(min_value=0, max_value=14),   # extra tail tokens
        ),
        min_size=2,
        max_size=10,
    )
)
def test_prefix_containment_matches_brute_force(spark, specs):
    """Soundness + completeness vs a plain-Python reference, restricted to
    the operator's documented contract (prefixes of >= key-length tokens).
    Docs are built from a shared vocabulary so prefix collisions actually
    occur in generated corpora."""
    from stock_market_etl_pipeline_spark.operators.dedup import (
        prefix_containment_pairs,
    )

    vocab = [f"w{j}" for j in range(24)]
    docs = []
    for i, (p, extra) in enumerate(specs):
        toks = vocab[:p] + [f"t{i}_{j}" for j in range(extra)]
        docs.append((i, " ".join(toks)))

    key_len = 3
    got = {
        (r["prefix_id"], r["full_id"])
        for r in prefix_containment_pairs(
            spark.createDataFrame(docs, ["doc_id", "text"]), key_len
        ).collect()
    }

    toks = {i: t.split() for i, t in docs}
    expected = {
        (a, b)
        for a in toks
        for b in toks
        if a != b
        and len(toks[a]) >= key_len                    # documented contract
        and len(toks[a]) < len(toks[b])
        and toks[b][: len(toks[a])] == toks[a]
    }
    assert got == expected


def ref_underwater_streaks(closes):
    """Pure-Python reference for registry_fin.q_underwater_streaks on a
    single symbol: longest strictly-below-running-peak run (earliest
    start tiebreak), total streaks, total underwater days."""
    peak = float("-inf")
    runs = []
    cur = None
    for i, c in enumerate(closes):
        peak = max(peak, c)
        if c < peak:
            if cur is None:
                cur = [i, i]
            else:
                cur[1] = i
        else:
            if cur is not None:
                runs.append(tuple(cur))
                cur = None
    if cur is not None:
        runs.append(tuple(cur))
    if not runs:
        return None
    longest = max(runs, key=lambda r: (r[1] - r[0], -r[0]))
    return {
        "len": longest[1] - longest[0] + 1,
        "start": longest[0],
        "end": longest[1],
        "n_streaks": len(runs),
        "underwater_days": sum(r[1] - r[0] + 1 for r in runs),
    }


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.integers(min_value=1, max_value=8).map(lambda c: c * 25.0),
        min_size=1,
        max_size=40,
    )
)
def test_underwater_streaks_matches_reference(spark, closes):
    """Random coarse-grid walks (ties and repeats common) — the
    gap-islands plan must agree with the sequential reference."""
    import datetime as dt

    import stock_market_etl_pipeline_spark.registry_fin as fin

    rows = [
        ("S", dt.date(2024, 1, 1) + dt.timedelta(days=i), c)
        for i, c in enumerate(closes)
    ]
    df = spark.createDataFrame(rows, "symbol string, date date, close double")
    orig = fin.ticks
    fin.ticks = lambda s, d: df
    try:
        out = fin.q_underwater_streaks(spark, "unused").collect()
    finally:
        fin.ticks = orig
    ref = ref_underwater_streaks(closes)
    if ref is None:
        assert out == []
        return
    assert len(out) == 1
    r = out[0]
    assert r.longest_streak_days == ref["len"]
    assert (r.start_date - dt.date(2024, 1, 1)).days == ref["start"]
    assert (r.end_date - dt.date(2024, 1, 1)).days == ref["end"]
    assert r.n_streaks == ref["n_streaks"]
    assert r.underwater_days == ref["underwater_days"]


def ref_robust_anomalies(closes, n=20, k=3):
    """Sequential reference for robust_price_anomalies (x2/x4 integer
    medians, most-recent window of n preceding + current)."""
    cents = [round(c * 100) for c in closes]
    flagged = []
    for i, cc in enumerate(cents):
        w = sorted(cents[max(0, i - n): i + 1])
        m = len(w)
        med2 = 2 * w[(m - 1) // 2] if m % 2 == 1 else w[m // 2 - 1] + w[m // 2]
        dev2 = abs(2 * cc - med2)
        d = sorted(abs(2 * v - med2) for v in w)
        mad4 = 2 * d[(m - 1) // 2] if m % 2 == 1 else d[m // 2 - 1] + d[m // 2]
        if (mad4 > 0 and 2 * dev2 > k * mad4) or (mad4 == 0 and dev2 > 0):
            flagged.append((i, med2, mad4, dev2))
    return flagged


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.integers(min_value=1, max_value=12).map(lambda c: c * 10.0),
        min_size=1,
        max_size=45,
    )
)
def test_robust_anomalies_match_reference(spark, closes):
    """Coarse-grid walks (flat windows, ties, even/odd frame sizes all
    common) — the percentile-window + array-median plan must agree with
    the sequential integer reference, including the MAD=0 branch."""
    import datetime as dt

    import stock_market_etl_pipeline_spark.registry_fin2 as fin2

    rows = [
        ("S", dt.date(2024, 1, 1) + dt.timedelta(days=i), c, c, c)
        for i, c in enumerate(closes)
    ]
    df = spark.createDataFrame(
        rows, "symbol string, date date, high double, low double, close double"
    )
    orig = fin2.ticks
    fin2.ticks = lambda s, d: df
    try:
        out = sorted(
            fin2.q_robust_price_anomalies(spark, "unused").collect(),
            key=lambda r: r["date"],
        )
    finally:
        fin2.ticks = orig
    ref = ref_robust_anomalies(closes)
    assert len(out) == len(ref)
    for r, (i, med2, mad4, dev2) in zip(out, ref):
        assert (r["date"] - dt.date(2024, 1, 1)).days == i
        assert r.rolling_median == med2 / 200.0
        assert r.rolling_mad == mad4 / 400.0
        if mad4 > 0:
            assert r.robust_score == (2.0 * dev2) / mad4
        else:
            assert r.robust_score is None


def ref_aroon(highs, lows, n=25):
    """Sequential reference: (n - days since most-recent extreme) * 4
    over full (n+1)-bar windows, None otherwise."""
    hc = [round(h * 100) for h in highs]
    lc = [round(x * 100) for x in lows]
    out = []
    for i in range(len(hc)):
        if i < n:
            out.append((None, None))
            continue
        wh = hc[i - n: i + 1]
        wl = lc[i - n: i + 1]
        d_hi = n - max(j for j, v in enumerate(wh) if v == max(wh))
        d_lo = n - max(j for j, v in enumerate(wl) if v == min(wl))
        out.append(((n - d_hi) * 4, (n - d_lo) * 4))
    return out


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=5, max_value=9),
            st.integers(min_value=1, max_value=4),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_aroon_matches_reference(spark, bars):
    """Coarse high/low walks (extreme ties everywhere) — the
    struct-argmax windows must agree with the sequential most-recent-
    tie-wins reference."""
    import datetime as dt

    import stock_market_etl_pipeline_spark.registry_fin2 as fin2

    highs = [h * 10.0 for h, _ in bars]
    lows = [l * 10.0 for _, l in bars]
    rows = [
        ("S", dt.date(2024, 1, 1) + dt.timedelta(days=i), h, lo, (h + lo) / 2)
        for i, (h, lo) in enumerate(zip(highs, lows))
    ]
    df = spark.createDataFrame(
        rows, "symbol string, date date, high double, low double, close double"
    )
    orig = fin2.ticks
    fin2.ticks = lambda s, d: df
    try:
        out = sorted(
            fin2.q_aroon(spark, "unused").collect(), key=lambda r: r["date"]
        )
    finally:
        fin2.ticks = orig
    ref = ref_aroon(highs, lows)
    assert [(r.aroon_up, r.aroon_down) for r in out] == ref


# ---------------------------------------------------------------------------
# r10 rewrites: segment-monoid runs test and bucket-probe weighted median
# must equal brute force on arbitrary series (flat days, flat months,
# singleton months, cross-month boundaries)
# ---------------------------------------------------------------------------


def _runs_reference_closes(closes):
    """Wald-Wolfowitz counts over a close series (flat days dropped)."""
    signs = []
    for a, b in zip(closes, closes[1:]):
        if b > a:
            signs.append(1)
        elif b < a:
            signs.append(-1)
    n1, n2 = signs.count(1), signs.count(-1)
    runs, prev = 0, None
    for s in signs:
        if s != prev:
            runs += 1
        prev = s
    return n1, n2, runs


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        # tiny value domain forces flat runs; spread-out day strides
        # force month borders between arbitrary sign states
        st.tuples(
            st.integers(min_value=0, max_value=3),    # close in {10..13}
            st.integers(min_value=1, max_value=40),   # day gap to next
        ),
        min_size=2,
        max_size=60,
    )
)
def test_runs_test_monoid_matches_brute_force(spark, steps):
    import datetime as dt

    import stock_market_etl_pipeline_spark.registry_stats2 as st2

    day = dt.date(2023, 1, 15)
    rows, closes = [], []
    for lvl, gap in steps:
        c = 10.0 + lvl
        rows.append((1, day, c, c, c, c, 100))
        closes.append(c)
        day = day + dt.timedelta(days=gap)
    df = spark.createDataFrame(
        rows,
        "symbol long, date date, open double, high double, low double, "
        "close double, volume bigint",
    )
    orig = st2.ticks
    try:
        st2.ticks = lambda sp, d: df
        out = st2.q_runs_test_updown(spark, "unused").collect()
    finally:
        st2.ticks = orig
    n1, n2, runs = _runs_reference_closes(closes)
    n = n1 + n2
    emits = (
        n1 > 0 and n2 > 0 and n > 1
        and (2.0 * n1 * n2) * (2.0 * n1 * n2 - n) > 0
    )
    if not emits:
        assert out == []
    else:
        assert len(out) == 1
        r = out[0]
        assert (r.n_up, r.n_down, r.n_runs) == (n1, n2, runs)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=2),      # suppkey -> nation
            st.floats(min_value=0.5, max_value=350.0,   # price: spans
                      allow_nan=False),                  # several buckets
            st.integers(min_value=1, max_value=9),       # weight
        ),
        min_size=1,
        max_size=50,
    )
)
@pytest.mark.slow  # >8 s brute-force/matrix leg (VERDICT r12 #1)
def test_weighted_median_bucket_probe_matches_brute_force(spark, li):
    import stock_market_etl_pipeline_spark.registry_stats2 as st2

    li = [(k, round(p, 2), w) for k, p, w in li]
    tabs = {
        "lineitem": spark.createDataFrame(
            li, "l_suppkey long, l_extendedprice double, l_quantity long"
        ),
        "supplier": spark.createDataFrame(
            [(1, 10), (2, 20)], "s_suppkey long, s_nationkey long"
        ),
        "nation": spark.createDataFrame(
            [(10, "A"), (20, "B")], "n_nationkey long, n_name string"
        ),
    }
    orig = st2.load_table
    try:
        st2.load_table = lambda sp, d, n: tabs[n]
        out = {
            r.nation: (r.weighted_median_price, r.total_quantity)
            for r in st2.q_weighted_median_price_by_nation(
                spark, "unused"
            ).collect()
        }
    finally:
        st2.load_table = orig

    for key, nation in ((1, "A"), (2, "B")):
        rows = sorted((p, w) for k, p, w in li if k == key)
        if not rows:
            assert nation not in out
            continue
        tot = sum(w for _, w in rows)
        cum = 0
        for p, w in rows:
            cum += w
            if 2 * cum >= tot:
                assert out[nation] == (p, tot), nation
                break
