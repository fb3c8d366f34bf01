"""Shared fixtures: one local SparkSession per test session + tiny
deterministic stock fixtures mirroring the reference's
``tests/conftest.py:36-58`` (ascending-walk series) and FIXTURES.md §1's
dirty-row cases."""

from __future__ import annotations

import datetime as dt
import os
import sys
import time
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from stock_market_etl_pipeline_spark.schema import RAW_QUOTE_SCHEMA  # noqa: E402
from stock_market_etl_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def make_raw_rows(symbol: str, days: int, base: float = 150.0,
                  start: dt.date = dt.date(2024, 1, 1)):
    """Deterministic ascending walk, reference conftest.py:39-51 style."""
    rows = []
    for i in range(days):
        price = base + i
        d = start + dt.timedelta(days=i)
        rows.append(
            (
                symbol,
                d.isoformat(),
                str(price),
                str(price + 5),
                str(price - 2),
                str(price + 3),
                str(50_000_000 + i * 1_000_000),
                dt.datetime(2024, 6, 1, 12, 0, 0),
                "Alpha Vantage",
            )
        )
    return rows


@pytest.fixture(scope="session")
def raw_quotes(spark):
    """Two clean symbols (25 + 8 days) + every dirty-row case."""
    rows = make_raw_rows("AAPL", 25) + make_raw_rows("MSFT", 8, base=300.0)
    ts = dt.datetime(2024, 6, 1, 12, 0, 0)
    later = dt.datetime(2024, 6, 2, 12, 0, 0)
    dirty = [
        # negative price -> removed
        ("BAD", "2024-01-01", "-10", "100", "90", "95", "1000", ts, "x"),
        # low > high -> removed
        ("BAD", "2024-01-02", "95", "100", "110", "96", "1000", ts, "x"),
        # null critical field -> removed
        ("BAD", "2024-01-03", "95", "100", "90", "96", None, ts, "x"),
        # non-numeric close -> cast null -> removed
        ("BAD", "2024-01-04", "95", "100", "90", "abc", "1000", ts, "x"),
        # negative volume -> removed
        ("BAD", "2024-01-05", "95", "100", "90", "96", "-5", ts, "x"),
        # duplicate (symbol, date): later extracted_at wins
        ("DUP", "2024-01-01", "10", "15", "9", "12", "100", ts, "first"),
        ("DUP", "2024-01-01", "11", "16", "10", "13", "200", later, "second"),
        # single-row symbol: kept, null-lag semantics downstream
        ("ONE", "2024-01-01", "50", "55", "48", "52", "500", ts, "x"),
    ]
    return spark.createDataFrame(rows + dirty, RAW_QUOTE_SCHEMA)


def await_drained(spark, q, timeout: int = 240, strict: bool = True) -> None:
    """Wait for an availableNow query to drain, stop it, then wait until the
    stream manager deregisters it: restarting on the same checkpoint before
    that trips the concurrent-use guard. ``strict`` raises if it never
    deregisters."""
    q.awaitTermination(timeout)
    q.stop()
    for _ in range(300):
        if all(a.id != q.id for a in spark.streams.active):
            return
        time.sleep(0.1)
    if strict:
        raise AssertionError("query did not deregister")


def crash_last_commit(ckpt: str) -> None:
    """Simulate dying between the newest micro-batch's sink write and its
    checkpoint commit: delete commits/N (and its CRC twin) so a restarted
    query replays batch N."""
    cdir = os.path.join(ckpt, "commits")
    nums = [
        int(f.lstrip(".").split(".")[0])
        for f in os.listdir(cdir)
        if not f.startswith(".")
    ]
    n = max(nums)
    for f in os.listdir(cdir):
        if f.lstrip(".").split(".")[0] == str(n):
            os.remove(os.path.join(cdir, f))
