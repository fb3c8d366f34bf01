"""Incremental aggregate view over the TxTable change feed
(operators/txview.py): delta-apply equivalence vs full recompute under
mixed append/merge/delete churn, single-commit replay idempotence,
crash-after-commit recovery, emptied-group removal, and the
tampered-state invariant."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_market_etl_pipeline_spark.operators.txtable import TxTable
from stock_market_etl_pipeline_spark.operators.txview import (
    last_synced_snapshot,
    recompute_view,
    refresh_view,
)

GROUPS = ["grp"]
SUMS = ["v"]


def mk(spark, rows):
    """rows: list of (id, grp, v)."""
    return spark.createDataFrame(rows, "id bigint, grp string, v bigint")


def snap_rows(df):
    return sorted(
        (r.grp, r.n_rows, r.sum_v) for r in df.collect()
    )


def assert_view_matches(spark, src, view):
    want = snap_rows(recompute_view(spark, src, GROUPS, SUMS))
    got = snap_rows(view.read(spark))
    assert got == want


def test_init_then_incremental_churn_matches_recompute(spark, tmp_path):
    src = TxTable(str(tmp_path / "src"))
    view = TxTable(str(tmp_path / "view"))
    src.append(
        mk(spark, [(i, f"g{i % 3}", i) for i in range(30)])
        .repartitionByRange(3, "id").sortWithinPartitions("id")
    )
    assert refresh_view(spark, src, view, GROUPS, SUMS) == 0
    assert_view_matches(spark, src, view)

    # churn wave 1: append new rows incl. a brand-new group
    src.append(mk(spark, [(100, "g0", 7), (101, "g9", 5)]))
    # churn wave 2: upsert moves a row's value AND group
    src.merge(spark, mk(spark, [(4, "g9", 400)]), ["id"])
    # churn wave 3: predicate delete
    src.delete_where(spark, "id >= 20 AND id < 25")
    assert refresh_view(spark, src, view, GROUPS, SUMS) == src.latest_snapshot()
    assert_view_matches(spark, src, view)
    # the refresh applied deltas, not a rescan: its commit is a merge
    assert view._manifest(view.latest_snapshot())["action"] == "merge"


def test_refresh_is_noop_when_in_sync(spark, tmp_path):
    src = TxTable(str(tmp_path / "src"))
    view = TxTable(str(tmp_path / "view"))
    src.append(mk(spark, [(1, "a", 10)]))
    refresh_view(spark, src, view, GROUPS, SUMS)
    before = view.latest_snapshot()
    assert refresh_view(spark, src, view, GROUPS, SUMS) == src.latest_snapshot()
    assert view.latest_snapshot() == before  # no new commit


def test_crash_after_commit_replay_recovers(spark, tmp_path):
    """A refresh that commits but dies before reporting must leave the
    next refresh a no-op (txn marker in the view's own log), never a
    double-apply."""
    src = TxTable(str(tmp_path / "src"))
    view = TxTable(str(tmp_path / "view"))
    src.append(mk(spark, [(i, "a", 1) for i in range(10)]))
    refresh_view(spark, src, view, GROUPS, SUMS)
    src.append(mk(spark, [(10, "a", 100)]))

    orig_merge = view.merge

    def crashing_merge(*a, **k):
        orig_merge(*a, **k)
        raise RuntimeError("died after commit")

    view.merge = crashing_merge
    with pytest.raises(RuntimeError):
        refresh_view(spark, src, view, GROUPS, SUMS)
    view.merge = orig_merge
    # marker already present -> replay path short-circuits, state correct
    assert last_synced_snapshot(view) == src.latest_snapshot()
    assert refresh_view(spark, src, view, GROUPS, SUMS) == src.latest_snapshot()
    assert_view_matches(spark, src, view)


def test_emptied_group_is_removed_not_zeroed(spark, tmp_path):
    src = TxTable(str(tmp_path / "src"))
    view = TxTable(str(tmp_path / "view"))
    src.append(mk(spark, [(1, "a", 10), (2, "b", 20), (3, "b", 30)]))
    refresh_view(spark, src, view, GROUPS, SUMS)
    src.delete_where(spark, "grp = 'a'")
    refresh_view(spark, src, view, GROUPS, SUMS)
    assert snap_rows(view.read(spark)) == [("b", 2, 50)]
    assert_view_matches(spark, src, view)


def test_tampered_view_state_raises_not_corrupts(spark, tmp_path):
    src = TxTable(str(tmp_path / "src"))
    view = TxTable(str(tmp_path / "view"))
    src.append(mk(spark, [(1, "a", 10), (2, "a", 20)]))
    refresh_view(spark, src, view, GROUPS, SUMS)
    # sabotage: understate the group count, keeping the sync marker
    cur = src.latest_snapshot()
    view.overwrite(
        view.read(spark).withColumn("n_rows", F.lit(1)),
        txn_id=None,
    )
    src.delete_where(spark, "grp = 'a'")  # removes 2 rows, view claims 1
    with pytest.raises(AssertionError, match="negative group count"):
        refresh_view(spark, src, view, GROUPS, SUMS)
    assert cur == 0  # silence lint: marker snapshot was the initial one


def test_reserved_alias_collisions_rejected(spark, tmp_path):
    """ADVICE r9: the reserved-alias namespace must be VALIDATED, not
    trusted — a sum column literally named '_rowcount' reproduces the
    same AMBIGUOUS_REFERENCE the '_d_n' rename fixed, and group columns
    named 'n_rows' / 'sum_<c>' / '_d_*' / '_change' were similarly
    unguarded."""
    src = TxTable(str(tmp_path / "src"))
    view = TxTable(str(tmp_path / "view"))
    src.append(mk(spark, [(1, "a", 10)]))

    bad = [
        (["grp"], ["_rowcount"]),      # delta alias _d__rowcount collides
        (["n_rows"], ["v"]),           # group col shadows the count col
        (["sum_v"], ["v"]),            # group col shadows the sum col
        (["_d_x"], ["v"]),             # group col in the delta namespace
        (["_change"], ["v"]),          # group col shadows the feed meta
        (["grp"], ["_d_v"]),           # sum col in the delta namespace
        (["grp"], ["_change"]),        # sum col shadows the feed meta
        (["grp"], ["v", "v"]),         # duplicate
        (["grp", "v"], ["v"]),         # group/sum overlap
    ]
    for g, s in bad:
        with pytest.raises(ValueError):
            refresh_view(spark, src, view, g, s)
        with pytest.raises(ValueError):
            recompute_view(spark, src, g, s)

    # the happy path still works after all the rejections (no state
    # was corrupted by a failed validation)
    assert refresh_view(spark, src, view, GROUPS, SUMS) == 0
    assert_view_matches(spark, src, view)
