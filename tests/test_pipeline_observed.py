"""The pipeline's quality gate as observed metrics on the sink write.

``run_pipeline`` scores the suite from ``observe_suite``'s metrics, whose
key counts come from ``lag(date)`` instead of DISTINCT. Its keep-last dedup
makes duplicate keys unreachable through the pipeline, so the equivalence
with ``run_quality_suite`` is checked here on hand-built frames. The edge
cases cover the two read branches no other test reaches: a landing set of
malformed lines only, and parquet input.
"""

import dataclasses
import datetime as dt
import threading

import pytest
from pyspark.sql import Observation

from stock_market_etl_pipeline_spark.operators.enrich import enrich
from stock_market_etl_pipeline_spark.pipeline import run_pipeline
from stock_market_etl_pipeline_spark.plans.quality import (
    observe_suite,
    run_quality_suite,
    score_suite,
    stock_quality_checks,
)
from stock_market_etl_pipeline_spark.schema import RAW_QUOTE_SCHEMA

from conftest import make_raw_rows

TICKS = (
    "symbol string, date date, open double, high double, low double, "
    "close double, volume bigint"
)


def _ticks(symbol, days, base=100.0, start=dt.date(2024, 1, 1)):
    return [
        (symbol, start + dt.timedelta(days=i), base + i, base + i + 2,
         base + i - 1, base + i + 1, 1000 + i)
        for i in range(days)
    ]


CASES = {
    "clean": _ticks("A", 12) + _ticks("B", 5, base=300.0),
    # two revisions of one (symbol, date) plus a triple on another key
    "duplicate_keys": _ticks("A", 6)
    + [_ticks("A", 1)[0], _ticks("A", 3)[2], _ticks("A", 3)[2]]
    + _ticks("B", 2),
    "null_close": _ticks("A", 6)
    + [("A", dt.date(2024, 2, 1), 10.0, 11.0, 9.0, None, 5)],
    "out_of_range": _ticks("A", 4) + _ticks("HUGE", 5, base=20000.0)
    + [("NEG", dt.date(2024, 1, 1), -5.0, -1.0, -9.0, -2.0, -7)],
    "empty": [],
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_observed_suite_scores_like_run_quality_suite(spark, case):
    df = enrich(spark.createDataFrame(CASES[case], TICKS))
    checks = stock_quality_checks()
    want = run_quality_suite(df, checks)

    obs = Observation("quality")
    observed = observe_suite(df, obs, checks)
    assert observed.columns == df.columns
    observed.write.format("noop").mode("overwrite").save()
    ok, rate, results = score_suite(obs.get, checks, df.columns)

    assert (ok, rate) == want[:2]
    assert [(r.name, r.success) for r in results] == [
        (r.name, r.success) for r in want[2]
    ]
    for got, exp in zip(results, want[2]):
        assert got.pass_fraction == pytest.approx(exp.pass_fraction), got.name
    # the lag-based counts equal their DISTINCT forms
    keys = df.select("symbol", "date")
    assert obs.get["__total"] == keys.count()
    assert obs.get["__distinct_keys"] == keys.distinct().count()
    assert obs.get["__groups"] == df.select("symbol").distinct().count()


def _run_with_deadline(fn, seconds=300):
    """``Observation.get`` blocks until its metrics arrive; a plan that
    dropped the observation would hang the test instead of failing it."""
    out = {}
    t = threading.Thread(target=lambda: out.setdefault("r", fn()), daemon=True)
    t.start()
    t.join(seconds)
    assert "r" in out, f"run_pipeline did not return within {seconds} s"
    return out["r"]


def test_all_malformed_landing_set(spark, tmp_path):
    inp = tmp_path / "landing"
    inp.mkdir()
    lines = ['{"symbol": "X", "date": \n', "not json\n", "{{}\n", "[1, 2\n"]
    (inp / "drop.json").write_text("".join(lines))

    result = _run_with_deadline(
        lambda: run_pipeline(spark, str(inp), str(tmp_path / "sink"))
    )
    assert result.corrupt_records == len(lines)
    assert result.records_loaded == 0
    assert result.unique_symbols == 0
    assert result.success and not result.validation_passed


def test_parquet_input_matches_json_input(spark, tmp_path):
    rows = make_raw_rows("AAPL", 25) + make_raw_rows("MSFT", 8, base=300.0)
    # a revised duplicate: the later extracted_at wins on both paths
    rev = list(rows[3])
    rev[5], rev[7] = "157.5", dt.datetime(2024, 6, 2)  # close, extracted_at
    df = spark.createDataFrame(rows + [tuple(rev)], RAW_QUOTE_SCHEMA)
    df.write.json(str(tmp_path / "json"))
    df.write.parquet(str(tmp_path / "parquet"))

    from_json = run_pipeline(spark, str(tmp_path / "json"), str(tmp_path / "s1"))
    from_parquet = run_pipeline(
        spark, str(tmp_path / "parquet"), str(tmp_path / "s2"),
        input_format="parquet",
    )
    assert from_parquet.corrupt_records == 0
    assert from_parquet.records_loaded == 33
    assert from_parquet == dataclasses.replace(
        from_json, sink_path=from_parquet.sink_path
    )
    sums = [
        spark.read.parquet(p).agg({"close": "sum"}).first()[0]
        for p in (str(tmp_path / "s1"), str(tmp_path / "s2"))
    ]
    assert sums[0] == sums[1] == sum(float(r[5]) for r in rows) + 1.5
