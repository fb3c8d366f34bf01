"""Streaming open-orders balance (streaming/balance.py): batch parity
against the registered batch query, late-shipment retraction across
months, and crash-replay convergence."""

import json
import os
from datetime import date

from pyspark.sql import functions as F

import stock_market_etl_pipeline_spark.registry_stats3 as st3
from stock_market_etl_pipeline_spark.streaming.balance import (
    open_orders_balance_frame,
    start_balance_maintainer,
)

from conftest import SF_DIR, await_drained, crash_last_commit
import pytest

# Long-matrix tier (VERDICT r12 #1): multi-batch streaming / replay /
# restart-storm e2e tests. Excluded from the default run so the driver's
# verify window fits; run with `python -m pytest tests/ -m slow -q` (the
# round close-out ritual runs all tiers).
pytestmark = pytest.mark.slow



def _dirs(tmp_path):
    return {k: str(tmp_path / k) for k in ("landing", "state", "ckpt")}


def _land(d, events, name):
    """events: list of (kind, orderkey, 'YYYY-MM-DD')."""
    with open(os.path.join(d["landing"], name), "w") as f:
        for kind, okey, dt in events:
            f.write(json.dumps({"kind": kind, "orderkey": okey, "d": dt}))
            f.write("\n")


def _run(spark, d):
    q = start_balance_maintainer(
        spark, d["landing"], d["state"], d["ckpt"]
    )
    await_drained(spark, q)


def _snap(spark, d):
    return sorted(
        (str(r.month_start), r.n_opened, r.n_closed, r.open_balance)
        for r in open_orders_balance_frame(spark, d["state"]).collect()
    )


BATCH1 = [
    ("open", 1, "2024-01-05"), ("open", 2, "2024-01-20"),
    ("ship", 1, "2024-01-15"), ("ship", 2, "2024-01-25"),
]
BATCH2 = [
    ("open", 3, "2024-02-10"),
    ("ship", 1, "2024-02-03"),     # late line: order 1 close Jan -> Feb
    ("ship", 3, "2024-02-20"),
]
BATCH3 = [
    ("ship", 3, "2024-03-01"),     # order 3 close Feb -> Mar
    ("open", 4, "2024-04-01"), ("ship", 4, "2024-04-02"),
]


def test_balance_matches_batch_query(spark, tmp_path, monkeypatch):
    """The streamed balance is row-for-row the batch query's output on
    the equivalent orders/lineitem tables."""
    d = _dirs(tmp_path)
    os.makedirs(d["landing"])
    for i, b in enumerate((BATCH1, BATCH2, BATCH3)):
        _land(d, b, f"b{i}.json")
    _run(spark, d)

    events = BATCH1 + BATCH2 + BATCH3
    odf = spark.createDataFrame(
        [(k, date.fromisoformat(dt))
         for kind, k, dt in events if kind == "open"],
        "o_orderkey long, o_orderdate date",
    )
    ldf = spark.createDataFrame(
        [(k, date.fromisoformat(dt))
         for kind, k, dt in events if kind == "ship"],
        "l_orderkey long, l_shipdate date",
    )
    tabs = {"orders": odf, "lineitem": ldf}
    monkeypatch.setattr(st3, "load_table", lambda sp, dd, n: tabs[n])
    want = sorted(
        (str(r.month_start), r.n_opened, r.n_closed, r.open_balance)
        for r in st3.q_open_orders_balance(spark, SF_DIR).collect()
    )
    got = _snap(spark, d)
    # the batch query emits only months that appear on either side;
    # the streamed frame does the same full-outer shape
    assert got == want


def test_late_shipment_retracts_close_month(spark, tmp_path):
    """Order 1 closes in Jan after batch 1; batch 2's later line moves
    the close to Feb — the Jan close count must go DOWN (retraction via
    the merge change feed), not double-count."""
    d = _dirs(tmp_path)
    os.makedirs(d["landing"])
    _land(d, BATCH1, "b0.json")
    _run(spark, d)
    first = {m: (o, c) for m, o, c, _ in _snap(spark, d)}
    assert first["2024-01-01"] == (2, 2)  # both orders closed in Jan

    _land(d, BATCH2, "b1.json")
    _run(spark, d)
    snap = {m: (o, c, b) for m, o, c, b in _snap(spark, d)}
    # Jan: still 2 opened, but order 1's close RETRACTED to Feb
    assert snap["2024-01-01"] == (2, 1, 1)
    # Feb: order 3 opened+closed there, order 1 closes there too
    assert snap["2024-02-01"] == (1, 2, 0)


def test_balance_survives_restart_storm(spark, tmp_path):
    """Crash the checkpoint commit after every batch and replay: the
    txn-marked appends/merges and the cdc-marked view refreshes must
    converge to the same balance, with no duplicated counts."""
    d = _dirs(tmp_path)
    os.makedirs(d["landing"])
    for i, b in enumerate((BATCH1, BATCH2, BATCH3)):
        _land(d, b, f"b{i}.json")
        _run(spark, d)
        once = _snap(spark, d)
        crash_last_commit(d["ckpt"])
        _run(spark, d)
        assert _snap(spark, d) == once, f"replay diverged at batch {i}"
    final = {m: row for m, *row in _snap(spark, d)}
    assert final["2024-01-01"] == [2, 1, 1]   # order 2 closes Jan
    assert final["2024-02-01"] == [1, 1, 1]   # order 1's close moved here
    assert final["2024-03-01"] == [0, 1, 0]   # order 3's close moved here
    assert final["2024-04-01"] == [1, 1, 0]   # order 4 opens and closes


BATCH_CANCEL = [("cancel", 2, "2024-02-15")]


def test_cancellation_retracts_open(spark, tmp_path, monkeypatch):
    """DELETE-shaped event (VERDICT r10 #5): cancelling order 2 after
    batch 1 retracts BOTH its Jan open and its Jan close (−1 each via
    the merge-delete change feed), stays converged through a
    crash-replay storm, and the surviving frame equals the batch query
    over the facts with the cancelled order removed. A same-batch
    open+cancel pair nets to nothing (the emptied month drops from the
    view, as it never enters the batch facts)."""
    d = _dirs(tmp_path)
    os.makedirs(d["landing"])
    _land(d, BATCH1, "b0.json")
    _run(spark, d)
    first = {m: (o, c) for m, o, c, _ in _snap(spark, d)}
    assert first["2024-01-01"] == (2, 2)

    _land(d, BATCH_CANCEL, "b1.json")
    _run(spark, d)
    once = _snap(spark, d)
    snap = {m: (o, c, bl) for m, o, c, bl in once}
    assert snap["2024-01-01"] == (1, 1, 0)

    # crash-replay storm on the cancellation batch: the merge-deletes
    # are txn-marked, the view refresh is cdc-marked — replay converges
    crash_last_commit(d["ckpt"])
    _run(spark, d)
    assert _snap(spark, d) == once, "cancel replay diverged"

    # same-batch open+cancel: order 9 opens and cancels in March — the
    # month must NOT appear (the emptied group is deleted from the view)
    _land(
        d,
        [("open", 9, "2024-03-03"), ("cancel", 9, "2024-03-04")],
        "b2.json",
    )
    _run(spark, d)
    months = {m for m, *_ in _snap(spark, d)}
    assert "2024-03-01" not in months

    # batch parity on the surviving facts (order 2 and 9 cancelled)
    events = [e for e in BATCH1 if e[1] != 2]
    odf = spark.createDataFrame(
        [(k, date.fromisoformat(dt))
         for kind, k, dt in events if kind == "open"],
        "o_orderkey long, o_orderdate date",
    )
    ldf = spark.createDataFrame(
        [(k, date.fromisoformat(dt))
         for kind, k, dt in events if kind == "ship"],
        "l_orderkey long, l_shipdate date",
    )
    tabs = {"orders": odf, "lineitem": ldf}
    monkeypatch.setattr(st3, "load_table", lambda sp, dd, n: tabs[n])
    want = sorted(
        (str(r.month_start), r.n_opened, r.n_closed, r.open_balance)
        for r in st3.q_open_orders_balance(spark, SF_DIR).collect()
    )
    assert _snap(spark, d) == want


def test_ship_after_cancel_is_dropped(spark, tmp_path, monkeypatch):
    """ADVICE r11 (medium): a 'ship' arriving in a LATER batch than its
    order's 'cancel' must not resurrect a close row — before the
    tombstone table, the upsert merge re-inserted it (the open was
    deleted, so open_balance went negative). Late shipments are this
    module's motivating input, so ship-after-cancel is handled, not a
    contract violation. Same-batch cancel+ship must net out too, and
    the drop must survive a crash-replay storm."""
    d = _dirs(tmp_path)
    os.makedirs(d["landing"])
    _land(d, BATCH1, "b0.json")          # orders 1, 2 open+close Jan
    _run(spark, d)
    _land(d, BATCH_CANCEL, "b1.json")    # cancel order 2
    _run(spark, d)

    # the late shipment for cancelled order 2, plus same-batch
    # cancel+ship for order 7 (cancel lands before the ship path)
    _land(
        d,
        [
            ("ship", 2, "2024-02-20"),
            ("open", 7, "2024-03-05"),
            ("cancel", 7, "2024-03-06"),
            ("ship", 7, "2024-03-07"),
        ],
        "b2.json",
    )
    _run(spark, d)
    once = _snap(spark, d)
    snap = {m: (o, c, bl) for m, o, c, bl in once}
    assert snap["2024-01-01"] == (1, 1, 0)        # order 2 stays gone
    assert "2024-02-01" not in snap               # no resurrected close
    assert "2024-03-01" not in snap               # order 7 netted out
    assert all(bl >= 0 for *_, bl in once), "negative open balance"

    # crash-replay on the late-ship batch: tombstone marks are
    # txn-marked upserts, so the replayed batch re-drops the ships
    crash_last_commit(d["ckpt"])
    _run(spark, d)
    assert _snap(spark, d) == once, "late-ship replay diverged"

    # an even later batch (fresh tombstone READ path, not same-batch):
    # another ship for order 2 plus a genuinely live order
    _land(
        d,
        [("ship", 2, "2024-04-10"),
         ("open", 8, "2024-04-11"), ("ship", 8, "2024-04-12")],
        "b3.json",
    )
    _run(spark, d)
    snap = {m: (o, c, bl) for m, o, c, bl in _snap(spark, d)}
    assert snap["2024-04-01"] == (1, 1, 0)        # order 8 only

    # batch parity over the surviving facts (orders 2 and 7 cancelled,
    # their ships excluded)
    events = [e for e in BATCH1 if e[1] != 2] + [
        ("open", 8, "2024-04-11"), ("ship", 8, "2024-04-12"),
    ]
    odf = spark.createDataFrame(
        [(k, date.fromisoformat(dt))
         for kind, k, dt in events if kind == "open"],
        "o_orderkey long, o_orderdate date",
    )
    ldf = spark.createDataFrame(
        [(k, date.fromisoformat(dt))
         for kind, k, dt in events if kind == "ship"],
        "l_orderkey long, l_shipdate date",
    )
    tabs = {"orders": odf, "lineitem": ldf}
    monkeypatch.setattr(st3, "load_table", lambda sp, dd, n: tabs[n])
    want = sorted(
        (str(r.month_start), r.n_opened, r.n_closed, r.open_balance)
        for r in st3.q_open_orders_balance(spark, SF_DIR).collect()
    )
    assert _snap(spark, d) == want
