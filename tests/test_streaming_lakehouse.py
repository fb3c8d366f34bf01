"""End-to-end streaming lakehouse certification: file stream → TxTable
(exactly-once) → incrementally-refreshed aggregate view, under clean
runs AND a crash-replay storm. The components are certified separately
(test_txtable.py, test_txview.py); this proves the COMPOSITION recovers
from a crash at every seam — after write before checkpoint-commit, and
between the bronze append and the gold refresh."""


import pytest

# Long-matrix tier (VERDICT r12 #1): multi-batch streaming / replay /
# restart-storm e2e tests. Excluded from the default run so the driver's
# verify window fits; run with `python -m pytest tests/ -m slow -q` (the
# round close-out ritual runs all tiers).
pytestmark = pytest.mark.slow

import os

import pytest
from pyspark.sql import functions as F

from stock_market_etl_pipeline_spark.operators.txtable import TxTable
from stock_market_etl_pipeline_spark.operators.txview import (
    recompute_view,
    refresh_view,
)
from stock_market_etl_pipeline_spark.streaming.lakehouse import (

    start_lakehouse_ingest,
)
from conftest import crash_last_commit

SCHEMA = "k long, v long"
GROUPS = ["k"]
SUMS = ["v"]


def _feed(spark, lo, hi, src):
    spark.range(lo, hi).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    ).coalesce(1).write.mode("append").json(src)


def _view_rows(spark, view_root):
    return {
        (r.k): (r.n_rows, r.sum_v)
        for r in TxTable(view_root).read(spark).collect()
    }


def _expected(spark, table_root):
    t = TxTable(table_root)
    return {
        r.k: (r.n_rows, r.sum_v)
        for r in recompute_view(
            spark, t, GROUPS, SUMS
        ).collect()
    }


def _run(spark, src, troot, vroot, ckpt):
    q = start_lakehouse_ingest(
        spark, src, SCHEMA, troot, vroot, GROUPS, SUMS, ckpt
    )
    q.awaitTermination(120)


def test_lakehouse_ingest_view_tracks_table(spark, tmp_path):
    src = str(tmp_path / "src"); os.makedirs(src)
    troot, vroot = str(tmp_path / "t"), str(tmp_path / "v")
    ckpt = str(tmp_path / "ckpt")

    _feed(spark, 0, 50, src)
    _feed(spark, 50, 90, src)
    _run(spark, src, troot, vroot, ckpt)

    assert _view_rows(spark, vroot) == _expected(spark, troot)
    t = TxTable(troot)
    assert t.read(spark).count() == 90
    # one bronze commit per non-empty micro-batch
    assert len(t.snapshots()) == 2

    # late second wave picks up where the checkpoint left off
    _feed(spark, 90, 130, src)
    _run(spark, src, troot, vroot, ckpt)
    assert TxTable(troot).read(spark).count() == 130
    assert _view_rows(spark, vroot) == _expected(spark, troot)


def test_lakehouse_survives_checkpoint_crash_replay(spark, tmp_path):
    """Delete the newest checkpoint commit after every wave (the
    at-least-once crash point): the replayed batch must not duplicate
    bronze rows NOR double-apply the view delta."""
    src = str(tmp_path / "src"); os.makedirs(src)
    troot, vroot = str(tmp_path / "t"), str(tmp_path / "v")
    ckpt = str(tmp_path / "ckpt")

    bounds = [(0, 30), (30, 55), (55, 100)]
    for lo, hi in bounds:
        _feed(spark, lo, hi, src)
        _run(spark, src, troot, vroot, ckpt)
        crash_last_commit(ckpt)
        _run(spark, src, troot, vroot, ckpt)  # replay of the last batch

    t = TxTable(troot)
    rows = sorted(r.v for r in t.read(spark).collect())
    assert rows == list(range(100)), "bronze duplicated under replay"
    assert _view_rows(spark, vroot) == _expected(spark, troot)


def test_lakehouse_crash_between_append_and_refresh(spark, tmp_path):
    """The seam INSIDE the batch: bronze committed, gold refresh never
    ran (simulated by appending directly with the next batch's txn_id,
    then letting the stream replay). The replayed append no-ops on
    txn_id and the refresh applies exactly the missing delta."""
    src = str(tmp_path / "src"); os.makedirs(src)
    troot, vroot = str(tmp_path / "t"), str(tmp_path / "v")
    ckpt = str(tmp_path / "ckpt")

    _feed(spark, 0, 40, src)
    _run(spark, src, troot, vroot, ckpt)
    before = _view_rows(spark, vroot)

    # bronze-only append for the NEXT batch id, as if we crashed before
    # refresh_view ran
    nxt = spark.range(40, 70).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    )
    TxTable(troot).append(nxt, txn_id="batch-1")
    assert _view_rows(spark, vroot) == before  # gold is stale

    _feed(spark, 40, 70, src)  # same rows arrive through the stream
    _run(spark, src, troot, vroot, ckpt)

    t = TxTable(troot)
    assert sorted(r.v for r in t.read(spark).collect()) == list(range(70))
    assert _view_rows(spark, vroot) == _expected(spark, troot)
