"""WAP-gated streaming ingest (streaming/ingest.start_wap_gated_ingest):
the per-micro-batch quality gate upgraded to write-audit-publish into
TxTables — atomic batch visibility, staged-file audit, quarantine
diversion, and exactly-once across crash replays at every seam."""

import os

from stock_market_etl_pipeline_spark.operators.txtable import TxTable
from stock_market_etl_pipeline_spark.schema import RAW_QUOTE_SCHEMA
from stock_market_etl_pipeline_spark.streaming.ingest import (
    start_wap_gated_ingest,
)

from conftest import await_drained, crash_last_commit, make_raw_rows
import pytest

# Long-matrix tier (VERDICT r12 #1): multi-batch streaming / replay /
# restart-storm e2e tests. Excluded from the default run so the driver's
# verify window fits; run with `python -m pytest tests/ -m slow -q` (the
# round close-out ritual runs all tiers).
pytestmark = pytest.mark.slow



def _drop(spark, rows, landing):
    spark.createDataFrame(rows, RAW_QUOTE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).json(landing)


def _dirs(tmp_path):
    return {
        k: str(tmp_path / k)
        for k in ("landing", "table", "quarantine", "ckpt")
    }


def _run(spark, d):
    q = start_wap_gated_ingest(
        spark, d["landing"], d["table"], d["quarantine"], d["ckpt"]
    )
    await_drained(spark, q)


def test_wap_gate_routes_good_and_bad(spark, tmp_path):
    d = _dirs(tmp_path)
    os.makedirs(d["landing"])
    table, quarantine = TxTable(d["table"]), TxTable(d["quarantine"])

    _drop(spark, make_raw_rows("GOOD", 10), d["landing"])
    _run(spark, d)
    assert table.read(spark).count() == 10
    assert quarantine.latest_snapshot() is None

    # out-of-range prices survive cleaning but fail the suite → the
    # whole batch lands in quarantine, the serving table is untouched,
    # and no pending WAP marker is left behind
    _drop(spark, make_raw_rows("HUGE", 10, base=20000.0), d["landing"])
    _run(spark, d)
    assert table.read(spark).count() == 10
    qrows = quarantine.read(spark).collect()
    assert len(qrows) == 10
    assert {r["symbol"] for r in qrows} == {"HUGE"}
    wap_dir = os.path.join(table.log_dir, "_wap")
    assert not os.path.isdir(wap_dir) or not os.listdir(wap_dir)
    # every snapshot on the serving table is a whole-batch atomic commit
    assert [h["action"] for h in table.history()] == ["append"]


def test_wap_gate_restart_storm(spark, tmp_path):
    """Crash the stream checkpoint after every wave (good and bad) and
    re-run: txn markers on whichever table won must make every replay a
    no-op — exact row counts, no duplicate batches, no stale staging."""
    d = _dirs(tmp_path)
    os.makedirs(d["landing"])
    table, quarantine = TxTable(d["table"]), TxTable(d["quarantine"])

    waves = [
        make_raw_rows("AAA", 8),
        make_raw_rows("BAD", 8, base=20000.0),
        make_raw_rows("BBB", 8),
    ]
    for w in waves:
        _drop(spark, w, d["landing"])
        _run(spark, d)
        crash_last_commit(d["ckpt"])
        _run(spark, d)  # replay of the same batch

    assert table.read(spark).count() == 16
    assert {r["symbol"] for r in table.read(spark).collect()} == {
        "AAA", "BBB"
    }
    assert quarantine.read(spark).count() == 8
    # exactly one commit per batch on each table
    t_txns = [h["txn_id"] for h in table.history() if h["txn_id"]]
    q_txns = [h["txn_id"] for h in quarantine.history() if h["txn_id"]]
    assert len(t_txns) == len(set(t_txns)) == 2
    assert len(q_txns) == len(set(q_txns)) == 1
    wap_dir = os.path.join(table.log_dir, "_wap")
    assert not os.path.isdir(wap_dir) or not os.listdir(wap_dir)


def test_wap_gate_stale_marker_after_publish_crash(spark, tmp_path):
    """Simulate the crash BETWEEN publish-commit and marker cleanup: a
    pending marker exists for a txn that already committed. The replay
    must drop the marker WITHOUT re-auditing or re-publishing."""
    d = _dirs(tmp_path)
    os.makedirs(d["landing"])
    table = TxTable(d["table"])

    _drop(spark, make_raw_rows("GOOD", 10), d["landing"])
    _run(spark, d)
    n0 = table.read(spark).count()
    snaps0 = table.snapshots()

    # forge the stale state: stage a pending WAP under batch 0's wap id
    # (as if publish_wap committed but died before unlinking)
    from pyspark.sql import functions as F

    table.stage_wap(
        table.read(spark).limit(3).withColumn("close", F.col("close")),
        "gate-0",
    )
    crash_last_commit(d["ckpt"])
    _run(spark, d)  # replay of batch 0

    assert table.read(spark).count() == n0
    assert table.snapshots() == snaps0  # no new commit
    wap_dir = os.path.join(table.log_dir, "_wap")
    assert not os.path.isdir(wap_dir) or not os.listdir(wap_dir)
