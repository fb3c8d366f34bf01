"""As-of join operator tests: hand-computed golden cases incl. exact-time
ties, no-prior-row nulls, and strict mode."""

import datetime as dt

import pytest

from stock_market_etl_pipeline_spark.operators.asof import asof_join


@pytest.fixture(scope="module")
def frames(spark):
    d = dt.date
    left = spark.createDataFrame(
        [
            (1, d(2024, 1, 1), "a"),
            (1, d(2024, 1, 5), "b"),
            (1, d(2024, 1, 10), "c"),
            (2, d(2024, 1, 3), "d"),   # no prior right row
        ],
        "k int, t date, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, d(2024, 1, 1), 10.0),
            (1, d(2024, 1, 4), 40.0),
            (1, d(2024, 1, 10), 100.0),
            (2, d(2024, 1, 4), 99.0),
        ],
        "k int, rt date, v double",
    )
    return left, right


def test_asof_inclusive(frames):
    left, right = frames
    out = asof_join(left, right, key="k", left_time="t", right_time="rt",
                    value_cols=["v"])
    got = {(r["k"], r["tag"]): r["asof_v"] for r in out.collect()}
    assert got == {
        (1, "a"): 10.0,   # same-date match counts (<=)
        (1, "b"): 40.0,
        (1, "c"): 100.0,  # exact-date tie -> right row included
        (2, "d"): None,   # right row is later -> no match
    }


def test_asof_strict(frames):
    left, right = frames
    out = asof_join(left, right, key="k", left_time="t", right_time="rt",
                    value_cols=["v"], strict=True)
    got = {(r["k"], r["tag"]): r["asof_v"] for r in out.collect()}
    assert got[(1, "a")] is None      # strict <: same-date no longer matches
    assert got[(1, "c")] == 40.0


def test_asof_preserves_left_columns(frames):
    left, right = frames
    out = asof_join(left, right, key="k", left_time="t", right_time="rt",
                    value_cols=["v", "rt"])
    assert set(out.columns) == {"k", "t", "tag", "asof_v", "asof_rt"}
    assert out.count() == left.count()


def test_asof_forward_inclusive(frames):
    from stock_market_etl_pipeline_spark.operators.asof import asof_join_forward

    left, right = frames
    out = asof_join_forward(left, right, key="k", left_time="t",
                            right_time="rt", value_cols=["v"])
    got = {(r["k"], r["tag"]): r["asof_next_v"] for r in out.collect()}
    assert got == {
        (1, "a"): 10.0,   # same-date match counts (>=)
        (1, "b"): 100.0,  # next right row after Jan 5 is Jan 10
        (1, "c"): 100.0,  # exact-date tie -> included
        (2, "d"): 99.0,   # right row is later -> matches forward
    }


def test_asof_forward_strict(frames):
    from stock_market_etl_pipeline_spark.operators.asof import asof_join_forward

    left, right = frames
    out = asof_join_forward(left, right, key="k", left_time="t",
                            right_time="rt", value_cols=["v"], strict=True)
    got = {(r["k"], r["tag"]): r["asof_next_v"] for r in out.collect()}
    assert got[(1, "a")] == 40.0    # same-date excluded under ">"
    assert got[(1, "c")] is None    # Jan 10 tie excluded, nothing later


def test_asof_right_order_picks_max_per_time_without_preagg(spark):
    """right_order=['v'] on a NON-unique right side must match what a
    MAX(v)-per-(key, time) pre-aggregated feed would produce — in both
    directions (the r12 shuffle-removal contract for the asof queries)."""
    import datetime as dt

    from stock_market_etl_pipeline_spark.operators.asof import (
        asof_join_forward,
    )

    d = dt.date
    left = spark.createDataFrame(
        [(1, d(2024, 1, 5), "x"), (1, d(2024, 1, 2), "y")],
        "k int, t date, tag string",
    )
    # duplicates per (k, rt): the 1/2 group holds 7 and 40 (max 40);
    # the 1/5 group holds 5 and 50 (max 50); 1/9 holds 9 and 90.
    right = spark.createDataFrame(
        [
            (1, d(2024, 1, 2), 7.0),
            (1, d(2024, 1, 2), 40.0),
            (1, d(2024, 1, 5), 50.0),
            (1, d(2024, 1, 5), 5.0),
            (1, d(2024, 1, 9), 9.0),
            (1, d(2024, 1, 9), 90.0),
        ],
        "k int, rt date, v double",
    )
    back = asof_join(left, right, key="k", left_time="t", right_time="rt",
                     value_cols=["rt", "v"], right_order=["v"])
    got = {r["tag"]: (r["asof_rt"], r["asof_v"]) for r in back.collect()}
    assert got == {"x": (d(2024, 1, 5), 50.0), "y": (d(2024, 1, 2), 40.0)}

    fwd = asof_join_forward(left, right, key="k", left_time="t",
                            right_time="rt", value_cols=["rt", "v"],
                            right_order=["v"])
    got = {r["tag"]: (r["asof_next_rt"], r["asof_next_v"])
           for r in fwd.collect()}
    assert got == {"x": (d(2024, 1, 5), 50.0), "y": (d(2024, 1, 2), 40.0)}


def test_asof_nullable_right_value_returns_the_matched_row_whole(spark):
    """A null in one right-side value column is the matched row's null in
    both directions: the other columns come from that same row, and the
    null column is not filled from an older (or later) right row."""
    from stock_market_etl_pipeline_spark.operators.asof import (
        asof_join_forward,
    )

    d = dt.date
    left = spark.createDataFrame([(1, d(2024, 1, 5), "x")],
                                 "k int, t date, tag string")
    right = spark.createDataFrame(
        [
            (1, d(2024, 1, 1), 10.0, "old"),
            (1, d(2024, 1, 4), None, "near"),   # nearest prior, v is null
            (1, d(2024, 1, 6), None, "next"),   # nearest later, v is null
            (1, d(2024, 1, 9), 90.0, "late"),
        ],
        "k int, rt date, v double, src string",
    )
    back = asof_join(left, right, key="k", left_time="t", right_time="rt",
                     value_cols=["v", "src"]).collect()
    assert [(r["asof_v"], r["asof_src"]) for r in back] == [(None, "near")]

    fwd = asof_join_forward(left, right, key="k", left_time="t",
                            right_time="rt", value_cols=["v", "src"],
                            right_order=["v"]).collect()
    assert [(r["asof_next_v"], r["asof_next_src"]) for r in fwd] == [
        (None, "next")]
