"""Incrementally-maintained transition matrix (streaming/transitions.py):
bucket-level recompute must equal the batch query after every ingestion
wave — INCLUDING pairs that span wave boundaries, the case a per-batch
increment structurally misses — and replay must be a no-op."""

import datetime as dt

from pyspark.sql import functions as F

import stock_market_etl_pipeline_spark.registry_ext3 as ext3
from stock_market_etl_pipeline_spark import registry
from stock_market_etl_pipeline_spark.streaming.transitions import (
    start_transition_rollup,
    transition_matrix_from_store,
    transition_pairs,
)

from conftest import SF_DIR
import pytest

# Long-matrix tier (VERDICT r12 #1): multi-batch streaming / replay /
# restart-storm e2e tests. Excluded from the default run so the driver's
# verify window fits; run with `python -m pytest tests/ -m slow -q` (the
# round close-out ritual runs all tiers).
pytestmark = pytest.mark.slow



def _events(spark, rows):
    base = dt.datetime(2024, 3, 1, 9, 0, 0)
    data = [
        (eid, base + dt.timedelta(seconds=s), uid, et, 1.0, "{}")
        for eid, uid, et, s in rows
    ]
    return spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )


def _matrix(df) -> dict:
    return {
        (r.from_event, r.to_event): (r.n_transitions, r.transition_prob)
        for r in df.collect()
    }


def test_pair_definition_matches_registered_query(spark):
    """transition_pairs must be the registered event_transition_matrix's
    pair definition (summed over buckets) on the real testdata."""
    from stock_market_etl_pipeline_spark.sources.events import load_events

    ev = load_events(spark, SF_DIR)
    pairs = (
        transition_pairs(ev)
        .groupBy("from_event", "to_event")
        .agg(F.sum("n_transitions").alias("n"))
    )
    got = {(r.from_event, r.to_event): r.n for r in pairs.collect()}
    want = {
        (r.from_event, r.to_event): r.n_transitions
        for r in registry.queries()["event_transition_matrix"](
            spark, SF_DIR
        ).collect()
    }
    assert got == want


def test_incremental_matches_batch_across_wave_boundary(spark, tmp_path):
    """Wave 1 ends with u1's 'view'; wave 2 starts with u1's 'purchase'.
    The (view → purchase) pair exists only across the boundary — bucket
    recompute from source must surface it; re-running with the same
    checkpoint (replay) must change nothing."""
    landing = str(tmp_path / "landing")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    wave1 = _events(
        spark,
        [
            (1, 1, "signup", 0), (2, 1, "view", 10),
            (3, 2, "signup", 5), (4, 2, "click", 6),
        ],
    )
    wave2 = _events(
        spark,
        [
            (5, 1, "purchase", 20),       # boundary pair: view -> purchase
            (6, 2, "click", 30),          # boundary pair: click -> click
            (7, 3, "signup", 40), (8, 3, "error", 50),
        ],
    )

    wave1.write.mode("append").parquet(landing)
    q = start_transition_rollup(spark, landing, store, ckpt)
    q.awaitTermination(120)
    all1 = spark.read.parquet(landing)
    expected1 = _matrix(
        _registered_matrix_on(spark, all1)
    )
    assert _matrix(transition_matrix_from_store(spark, store)) == expected1

    wave2.write.mode("append").parquet(landing)
    q = start_transition_rollup(spark, landing, store, ckpt)
    q.awaitTermination(120)
    got = _matrix(transition_matrix_from_store(spark, store))
    all2 = spark.read.parquet(landing)
    assert got == _matrix(_registered_matrix_on(spark, all2))
    # the boundary pairs specifically
    assert got[("view", "purchase")][0] == 1
    assert ("click", "click") in got

    # replay: same checkpoint, no new files -> store unchanged
    q = start_transition_rollup(spark, landing, store, ckpt)
    q.awaitTermination(120)
    assert _matrix(transition_matrix_from_store(spark, store)) == got

    # cold restart (fresh checkpoint over the same landing data) must
    # converge to the same store — bucket overwrite is idempotent
    q = start_transition_rollup(
        spark, landing, store, str(tmp_path / "ckpt2")
    )
    q.awaitTermination(120)
    assert _matrix(transition_matrix_from_store(spark, store)) == got


def _registered_matrix_on(spark, events_df):
    """Run the registered batch query's logic over an arbitrary events
    frame (monkeypatch-free: swap the loader via the module attr)."""
    orig = ext3.load_events
    ext3.load_events = lambda s, d: events_df
    try:
        return registry.queries()["event_transition_matrix"](spark, SF_DIR)
    finally:
        ext3.load_events = orig


def _crash_last_commit(ckpt: str) -> None:
    """Simulate dying between the foreachBatch write and the checkpoint
    commit: remove the newest commit marker so the restart replays that
    micro-batch against an already-written store."""
    import os

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


def test_transition_store_survives_restart_storm(spark, tmp_path):
    """Seeded crash-between-write-and-commit at every wave boundary: the
    bucket-overwrite store must converge to the batch matrix under
    repeated replay, with boundary pairs intact and no double counts."""
    import random

    rng = random.Random(0xBEEF)
    landing = str(tmp_path / "landing")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    waves = [
        _events(spark, [(1, 1, "signup", 0), (2, 2, "view", 3)]),
        _events(spark, [(3, 1, "view", 10), (4, 2, "view", 12)]),
        _events(spark, [(5, 1, "purchase", 20), (6, 3, "signup", 21)]),
        _events(spark, [(7, 2, "purchase", 30), (8, 3, "error", 31)]),
    ]

    def run():
        q = start_transition_rollup(spark, landing, store, ckpt)
        q.awaitTermination(120)

    n_crashes = 0
    for w in waves:
        w.coalesce(1).write.mode("append").parquet(landing)
        run()
        for _ in range(rng.randint(0, 2)):
            n_crashes += 1
            _crash_last_commit(ckpt)
            run()
    assert n_crashes >= 3

    got = _matrix(transition_matrix_from_store(spark, store))
    expected = _matrix(
        _registered_matrix_on(spark, spark.read.parquet(landing))
    )
    assert got == expected
    # cross-wave pairs survived the storm (each user's chain spans waves)
    assert got[("signup", "view")][0] == 1    # u1 wave1 -> wave2
    assert got[("view", "purchase")][0] == 2  # u1 w2->w3, u2 w2->w4
