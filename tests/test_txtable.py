"""Transaction-log table certification: atomic visibility, snapshot
isolation / time travel, optimistic-concurrency conflicts, idempotent
re-commits under at-least-once delivery, crash-orphan invisibility, and
vacuum semantics."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from stock_market_etl_pipeline_spark.operators.txtable import (
    CommitConflict,
    SnapshotUnavailable,
    TxTable,
)


def mk(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )


def ids(df):
    return sorted(r.id for r in df.select("id").collect())


def test_append_and_time_travel(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    s0 = t.append(mk(spark, 0, 10))
    s1 = t.append(mk(spark, 10, 25))
    assert (s0, s1) == (0, 1)
    assert ids(t.read(spark)) == list(range(25))
    # time travel: snapshot 0 still reads the original 10 rows
    assert ids(t.read(spark, snapshot=0)) == list(range(10))


def test_overwrite_isolates_old_snapshot(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(mk(spark, 0, 10))
    t.overwrite(mk(spark, 100, 105))
    assert ids(t.read(spark)) == list(range(100, 105))
    assert ids(t.read(spark, snapshot=0)) == list(range(10))
    hist = t.history()
    assert [h["action"] for h in hist] == ["append", "overwrite"]
    assert hist[1]["n_files_live"] == hist[1]["n_files_added"]


def test_crash_before_manifest_is_invisible_then_vacuumed(spark, tmp_path):
    """Staged-but-uncommitted files (the crash point of every naive
    multi-file writer) must not change any reader's view, and vacuum must
    reclaim them."""
    t = TxTable(str(tmp_path / "t"))
    t.append(mk(spark, 0, 10))
    before = ids(t.read(spark))
    # simulate the crash: stage data files, never commit a manifest
    t._stage(mk(spark, 500, 600))
    assert ids(t.read(spark)) == before
    orphans = [
        n for n in os.listdir(t.data_dir) if n.endswith(".parquet")
    ]
    _, deleted = t.vacuum(keep_last=5)
    assert deleted > 0
    assert ids(t.read(spark)) == before
    live = [n for n in os.listdir(t.data_dir) if n.endswith(".parquet")]
    assert len(live) == len(orphans) - deleted


def test_commit_conflict_raises_not_overwrites(spark, tmp_path):
    """Two writers racing for the same snapshot: the loser must get
    CommitConflict, never silently clobber the winner's manifest."""
    t = TxTable(str(tmp_path / "t"))
    t.append(mk(spark, 0, 5))
    base = t.latest_snapshot()  # writer reads table state, then stages
    staged, n, _ = t._stage(mk(spark, 5, 10))
    # a racing writer claims snapshot 1 first
    racer = TxTable(t.root)
    racer.append(mk(spark, 1000, 1001))
    with pytest.raises(CommitConflict):
        t._commit("append", staged, n,
                  mk(spark, 5, 10).schema.simpleString(), None, True,
                  base=base)
    # the winner's commit is intact
    assert 1000 in ids(t.read(spark))


def test_txn_id_makes_replay_a_noop(spark, tmp_path):
    """foreachBatch is at-least-once: the same micro-batch may be
    delivered again after a crash. Re-appending with the same txn_id must
    not duplicate rows."""
    t = TxTable(str(tmp_path / "t"))
    batch = mk(spark, 0, 20)
    t.append(batch, txn_id="batch-7")
    t.append(batch, txn_id="batch-7")  # replay
    assert ids(t.read(spark)) == list(range(20))
    assert len(t.snapshots()) == 1
    t.append(mk(spark, 20, 30), txn_id="batch-8")
    assert ids(t.read(spark)) == list(range(30))


def test_vacuum_bounds_time_travel(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(mk(spark, 0, 10))
    t.overwrite(mk(spark, 50, 60))
    dropped, deleted = t.vacuum(keep_last=1)
    assert dropped == 1 and deleted > 0
    assert ids(t.read(spark)) == list(range(50, 60))
    with pytest.raises(SnapshotUnavailable):
        t.read(spark, snapshot=0)


def test_append_schema_mismatch_rejected(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(mk(spark, 0, 5))
    bad = spark.range(5).select(F.col("id").cast("string").alias("id"))
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(bad)
    # the failed append's staged files are orphans, reader untouched
    assert ids(t.read(spark)) == list(range(5))


def test_readers_never_list_the_data_directory(spark, tmp_path):
    """Snapshot isolation by construction: a read resolves the manifest's
    explicit file list, so files added by LATER commits (or loose junk in
    data/) cannot leak into an old snapshot's scan."""
    t = TxTable(str(tmp_path / "t"))
    t.append(mk(spark, 0, 10))
    df0 = t.read(spark, snapshot=0)
    t.append(mk(spark, 10, 20))
    # the pre-resolved reader still sees exactly snapshot 0
    assert ids(df0) == list(range(10))


def test_txtable_as_exactly_once_streaming_sink(spark, tmp_path):
    """Wire TxTable under foreachBatch with txn_id=batch_id and prove the
    exactly-once contract against Structured Streaming's real
    at-least-once replay: crash between the sink write and the
    checkpoint commit, restart, and the replayed batch must commit
    nothing new — same rows, no duplicate ids, one manifest per batch."""
    import os

    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    table = TxTable(str(tmp_path / "table"))

    mk(spark, 0, 40).coalesce(2).write.mode("append").json(src)

    def sink(batch_df, batch_id):
        if not batch_df.isEmpty():
            table.append(batch_df, txn_id=f"batch-{batch_id}")

    def run():
        q = (
            spark.readStream.schema("id long, v long")
            .option("maxFilesPerTrigger", 1)
            .json(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert ids(table.read(spark)) == list(range(40))
    n_commits = len(table.snapshots())

    # crash between write and commit of the newest batch, then restart:
    # the batch replays with the SAME batch_id -> txn dedup makes it a no-op
    cdir = os.path.join(ckpt, "commits")
    nums = [
        int(f.lstrip(".").split(".")[0])
        for f in os.listdir(cdir)
        if not f.startswith(".")
    ]
    for f in os.listdir(cdir):
        if f.lstrip(".").split(".")[0] == str(max(nums)):
            os.remove(os.path.join(cdir, f))
    run()

    assert ids(table.read(spark)) == list(range(40))
    assert len(table.snapshots()) == n_commits
    # replay staged orphan files; vacuum reclaims them without row loss
    table.vacuum(keep_last=len(table.snapshots()))
    assert ids(table.read(spark)) == list(range(40))


# ---------------------------------------------------------------------------
# Manifest column stats + data skipping (read_predicate / prune)
# ---------------------------------------------------------------------------


def _banded(spark, lo, hi, parts):
    # repartitionByRange gives each file a tight, disjoint id band —
    # the layout stats-skipping is designed for
    return (
        spark.range(lo, hi)
        .select("id", (F.col("id") % 7).alias("v"))
        .repartitionByRange(parts, "id")
        .sortWithinPartitions("id")
    )


def test_manifest_stats_recorded_per_file(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(_banded(spark, 0, 1000, 4))
    m = t._manifest(t.latest_snapshot())
    assert set(m["stats"]) == set(m["files"])
    for st in m["stats"].values():
        assert st["id"]["min"] <= st["id"]["max"]
        assert st["id"]["nulls"] == 0
    # the per-file bands tile 0..999 disjointly
    bands = sorted((s["id"]["min"], s["id"]["max"]) for s in m["stats"].values())
    assert bands[0][0] == 0 and bands[-1][1] == 999
    for (a, b), (c, d) in zip(bands, bands[1:]):
        assert b < c


def test_read_band_prunes_files_and_matches_full_filter(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(_banded(spark, 0, 1000, 8))
    kept, skipped = t.prune({"id": (100, 220)})
    assert len(skipped) >= 5, f"no skipping: kept={len(kept)}"
    got = ids(t.read_predicate(spark, {"id": (100, 220)}))
    want = ids(t.read(spark).filter("id BETWEEN 100 AND 220"))
    assert got == want == list(range(100, 221))
    # open bounds
    assert ids(t.read_predicate(spark, {"id": (950, None)})) == list(
        range(950, 1000)
    )
    assert ids(t.read_predicate(spark, {"id": (None, 49)})) == list(range(50))


def test_prune_band_is_safe_without_stats(spark, tmp_path):
    """Manifests written before stats existed (or columns whose stats
    were dropped) must read every file — pruning degrades to a no-op,
    never to a wrong answer."""
    import json

    t = TxTable(str(tmp_path / "t"))
    t.append(_banded(spark, 0, 100, 2))
    snap = t.latest_snapshot()
    path = os.path.join(t.log_dir, f"{snap:010d}.json")
    m = json.load(open(path))
    del m["stats"]
    json.dump(m, open(path, "w"))
    kept, skipped = t.prune({"id": (0, 10)})
    assert skipped == [] and sorted(kept) == sorted(m["files"])
    assert ids(t.read_predicate(spark, {"id": (0, 10)})) == list(range(11))


def test_stats_survive_merge_and_optimize(spark, tmp_path):
    """Stats are carried for surviving files and recomputed for
    rewritten ones — after a merge and an optimize, every live file
    still has a stats entry and skipping still works."""
    t = TxTable(str(tmp_path / "t"))
    t.append(_banded(spark, 0, 1000, 8))
    upd = spark.range(10, 20).select(
        "id", (F.col("id") * 100).alias("v")
    )
    t.merge(spark, upd, key_cols=["id"])
    m = t._manifest(t.latest_snapshot())
    assert set(m["stats"]) == set(m["files"])
    t.optimize(spark, n_files=4, zorder_by=["id"])
    m = t._manifest(t.latest_snapshot())
    assert set(m["stats"]) == set(m["files"])
    kept, skipped = t.prune({"id": (0, 99)})
    assert skipped, "z-ordered optimize should leave skippable bands"
    assert ids(t.read_predicate(spark, {"id": (0, 99)})) == list(range(100))


def test_stats_all_null_file_is_skipped_for_band(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(None, 1)] * 10, "id bigint, v bigint"
        ).coalesce(1)
    )
    t.append(_banded(spark, 0, 10, 1))
    kept, skipped = t.prune({"id": (0, 100)})
    assert len(skipped) == 1  # the all-null file can never match a band
    assert ids(t.read_predicate(spark, {"id": (0, 100)})) == list(range(10))


def test_every_leaf_kind_skips_all_null_file(spark, tmp_path):
    """Equality, IN and degenerate-band leaves share one rule: none can
    match NULL, so each skips the all-null file (no blooms involved) and
    still reads exactly what the unpruned filter returns."""
    t = TxTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(None, 1)] * 10, "id bigint, v bigint"
        ).coalesce(1)
    )
    null_file = t._manifest(t.latest_snapshot())["files"][0]
    t.append(_banded(spark, 0, 10, 1))
    for leaf, sql in (
        (("=", 5), "id = 5"),
        (("in", [5]), "id IN (5)"),
        ((5, 5), "id BETWEEN 5 AND 5"),
    ):
        kept, skipped = t.prune({"id": leaf})
        assert skipped == [null_file], leaf
        assert len(kept) == 1 and null_file not in kept, leaf
        got = sorted(t.read_predicate(spark, {"id": leaf}).collect())
        assert got == sorted(t.read(spark).filter(sql).collect()), leaf
        assert [r.id for r in got] == [5], leaf


def test_open_band_reads_non_null_rows_of_every_file(spark, tmp_path):
    """The open band ``(None, None)`` means ``c IS NOT NULL`` in both the
    skipping rule and the residual: the all-null file is skipped and the
    mixed file's NULL rows are filtered, so no NULL row survives anywhere."""
    t = TxTable(str(tmp_path / "t"))
    schema = "c bigint, v bigint"
    t.append(spark.createDataFrame([(None, i) for i in range(3)], schema).coalesce(1))
    t.append(
        spark.createDataFrame(
            [(None, 3), (1, 4), (None, 5), (2, 6)], schema
        ).coalesce(1)
    )
    assert t.read(spark).count() == 7
    got = sorted(t.read_predicate(spark, {"c": (None, None)}).collect(), key=lambda r: r.v)
    want = sorted(
        t.read(spark).filter(F.col("c").isNotNull()).collect(), key=lambda r: r.v
    )
    assert got == want
    assert [r.v for r in got] == [4, 6]


def test_read_band_on_date_column(spark, tmp_path):
    import datetime as dt

    t = TxTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [
            (dt.date(2024, 1, 1) + dt.timedelta(days=i), i)
            for i in range(200)
        ],
        "d date, v bigint",
    ).repartitionByRange(5, "d").sortWithinPartitions("d")
    t.append(df)
    lo, hi = dt.date(2024, 2, 1), dt.date(2024, 2, 10)
    kept, skipped = t.prune({"d": (lo, hi)})
    assert skipped, "date bands should skip files"
    got = sorted(r.d for r in t.read_predicate(spark, {"d": (lo, hi)}).collect())
    assert got[0] == lo and got[-1] == hi and len(got) == 10


def test_prune_bands_multi_column_zorder(spark, tmp_path):
    """2-D selection over a Z-ordered layout must skip on BOTH columns —
    the kept set is the intersection, the skip counts multiply."""
    t = TxTable(str(tmp_path / "t"))
    df = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
    )
    t.append(df.repartition(1))
    t.optimize(spark, n_files=16, zorder_by=["x", "y"])
    kept_x, _ = t.prune({"x": (0, 15)})
    kept_both, skipped = t.prune({"x": (0, 15), "y": (0, 15)})
    assert len(kept_both) <= len(kept_x)
    assert len(kept_both) + len(skipped) == 16
    assert len(kept_both) <= 4, f"z-order should isolate the quadrant: {len(kept_both)}"
    got = (
        t._read_files(spark, kept_both, t._manifest(t.latest_snapshot())["schema"])
        .filter("x BETWEEN 0 AND 15 AND y BETWEEN 0 AND 15")
        .count()
    )
    assert got == 16 * 16
