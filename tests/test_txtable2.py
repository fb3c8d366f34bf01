"""Row-level rewrite certification for the transaction-log table:
MERGE INTO (upsert / keyed delete) with copy-on-write file pruning,
predicate DELETE, the manifest-diff change-data-feed, OPTIMIZE
compaction (+ z-order clustering measured via footer skip stats), and
RESTORE. Companion to test_txtable.py's commit-protocol suite."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_market_etl_pipeline_spark.operators.layout import skip_ratio
from stock_market_etl_pipeline_spark.operators.txtable import (
    CommitConflict,
    SnapshotUnavailable,
    TxTable,
)


def mk(spark, lo, hi, n_files=4):
    """Keyed rows spread over n_files files with DISJOINT id ranges, so
    file pruning has something to prune."""
    return (
        spark.range(lo, hi)
        .select(F.col("id"), (F.col("id") * 2).alias("v"))
        .repartitionByRange(n_files, "id")
        .sortWithinPartitions("id")
    )


def rows(df):
    return sorted((r.id, r.v) for r in df.select("id", "v").collect())


def test_merge_upsert_values_and_file_pruning(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(mk(spark, 0, 100, n_files=4))
    before_files = set(t._manifest(0)["files"])
    # touch keys 0..9 (one range-file) and insert brand-new keys 200..204
    updates = spark.createDataFrame(
        [(i, i * 1000) for i in range(10)] + [(i, i * 1000) for i in range(200, 205)],
        "id bigint, v bigint",
    )
    snap = t.merge(spark, updates, ["id"])
    expected = sorted(
        [(i, i * 1000) for i in range(10)]
        + [(i, i * 2) for i in range(10, 100)]
        + [(i, i * 1000) for i in range(200, 205)]
    )
    assert rows(t.read(spark)) == expected
    m = t._manifest(snap)
    assert m["action"] == "merge"
    # pruning: only the file(s) whose range intersects 0..9 were rewritten
    assert 1 <= len(m["removed"]) < len(before_files)
    untouched = before_files - set(m["removed"])
    assert untouched and untouched <= set(m["files"])
    # time travel still shows the pre-merge table
    assert rows(t.read(spark, snapshot=0)) == [(i, i * 2) for i in range(100)]


def test_merge_delete_and_noop(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(mk(spark, 0, 40, n_files=4))
    tombstones = spark.createDataFrame(
        [(i,) for i in range(5)] + [(999,)], "id bigint"
    )
    snap = t.merge(spark, tombstones, ["id"], when_matched="delete")
    assert rows(t.read(spark)) == [(i, i * 2) for i in range(5, 40)]
    assert t._manifest(snap)["action"] == "merge"
    # nothing matches: no new snapshot is written
    again = t.merge(
        spark,
        spark.createDataFrame([(999,)], "id bigint"),
        ["id"],
        when_matched="delete",
    )
    assert again == snap


def test_merge_schema_mismatch_and_empty_table(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(mk(spark, 0, 10))
    bad = spark.createDataFrame([(1, "x")], "id bigint, v string")
    with pytest.raises(ValueError, match="schema mismatch"):
        t.merge(spark, bad, ["id"])
    # merge into an empty table degenerates to append
    t2 = TxTable(str(tmp_path / "t2"))
    ups = spark.createDataFrame([(1, 2)], "id bigint, v bigint")
    assert t2.merge(spark, ups, ["id"]) == 0
    assert rows(t2.read(spark)) == [(1, 2)]
    with pytest.raises(SnapshotUnavailable):
        TxTable(str(tmp_path / "t3")).merge(
            spark, ups, ["id"], when_matched="delete"
        )


def test_merge_txn_id_replay_is_noop(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(mk(spark, 0, 20))
    ups = spark.createDataFrame([(0, 111)], "id bigint, v bigint")
    snap = t.merge(spark, ups, ["id"], txn_id="batch-7")
    replay = t.merge(spark, ups, ["id"], txn_id="batch-7")
    assert replay == snap
    assert rows(t.read(spark)) == [(0, 111)] + [(i, i * 2) for i in range(1, 20)]


def test_merge_rebases_over_disjoint_racer(spark, tmp_path):
    """Writer liveness (Delta/Iceberg retry semantics): a merge that
    loses the snapshot race to a commit touching DISJOINT files and keys
    must rebase and land — both writers' changes survive."""
    t = TxTable(str(tmp_path / "t"))
    t.append(mk(spark, 0, 20))
    ups = spark.createDataFrame([(0, 111)], "id bigint, v bigint")
    orig_stage = t._stage

    def racing_stage(df):
        out = orig_stage(df)
        TxTable(t.root).append(mk(spark, 500, 510))  # racer wins the claim
        return out

    t._stage = racing_stage
    snap = t.merge(spark, ups, ["id"])  # rebases, does not raise
    t._stage = orig_stage
    got = dict(rows(t.read(spark)))
    assert got[0] == 111                      # our merge landed
    assert all(got[i] == i * 2 for i in range(500, 510))  # racer's too
    m = t._manifest(snap)
    assert m["action"] == "merge"


def test_merge_conflict_when_racer_touches_our_keys(spark, tmp_path):
    """Rebase must NOT happen when a racing commit ADDED rows matching
    our merge keys — the discovery scan's "no other file matches" claim
    is stale, so the loser raises instead of silently dropping the
    racer's version of the key."""
    t = TxTable(str(tmp_path / "t"))
    t.append(mk(spark, 0, 20))
    ups = spark.createDataFrame([(0, 111)], "id bigint, v bigint")
    orig_stage = t._stage

    def racing_stage(df):
        out = orig_stage(df)
        TxTable(t.root).append(mk(spark, 0, 1))  # racer writes key 0 too
        return out

    t._stage = racing_stage
    with pytest.raises(CommitConflict):
        t.merge(spark, ups, ["id"])
    t._stage = orig_stage


def test_merge_conflict_when_racer_rewrites_same_file(spark, tmp_path):
    """Two writers rewriting the SAME file is a true write-write
    conflict regardless of key disjointness: the loser's survivors were
    computed from a file version that no longer exists."""
    t = TxTable(str(tmp_path / "t"))
    t.append(mk(spark, 0, 20, n_files=1))  # one file: both merges touch it
    ups = spark.createDataFrame([(0, 111)], "id bigint, v bigint")
    orig_stage = t._stage

    def racing_stage(df):
        out = orig_stage(df)
        t2 = TxTable(t.root)
        t2.merge(
            spark,
            spark.createDataFrame([(1, 222)], "id bigint, v bigint"),
            ["id"],
        )
        return out

    t._stage = racing_stage
    with pytest.raises(CommitConflict):
        t.merge(spark, ups, ["id"])
    t._stage = orig_stage


def test_disjoint_merges_on_separate_files_both_land(spark, tmp_path):
    """The headline liveness case: two MERGEs over different key ranges
    living in different files — the loser rebases and BOTH upserts are
    in the final table, with both rewrites recorded."""
    t = TxTable(str(tmp_path / "t"))
    # two files with disjoint key ranges (one row-range per staged file)
    t.append(mk(spark, 0, 10, n_files=1))
    t.append(mk(spark, 1000, 1010, n_files=1))
    ups_low = spark.createDataFrame([(0, 111)], "id bigint, v bigint")
    ups_high = spark.createDataFrame([(1000, 999)], "id bigint, v bigint")
    orig_stage = t._stage

    def racing_stage(df):
        out = orig_stage(df)
        TxTable(t.root).merge(spark, ups_high, ["id"])  # racer: high file
        return out

    t._stage = racing_stage
    t.merge(spark, ups_low, ["id"])  # loser: low file — rebases
    t._stage = orig_stage
    got = dict(rows(t.read(spark)))
    assert got[0] == 111 and got[1000] == 999


def test_delete_where_prunes_and_deletes(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(mk(spark, 0, 100, n_files=4))
    before_files = set(t._manifest(0)["files"])
    snap = t.delete_where(spark, "id >= 90")
    assert rows(t.read(spark)) == [(i, i * 2) for i in range(90)]
    m = t._manifest(snap)
    assert m["action"] == "delete"
    assert 1 <= len(m["removed"]) < len(before_files)
    # predicate matching nothing: snapshot unchanged
    assert t.delete_where(spark, "id > 10000") == snap


def test_changes_append_only_and_after_merge(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(mk(spark, 0, 10))
    t.append(mk(spark, 10, 15))
    cdf = t.changes(spark, 0, 1)
    assert sorted((r.id, r._change) for r in cdf.collect()) == [
        (i, "insert") for i in range(10, 15)
    ]
    # an upsert of key 3 surfaces as delete(old) + insert(new); the
    # carried rows of the rewritten file cancel out
    ups = spark.createDataFrame([(3, 999)], "id bigint, v bigint")
    snap = t.merge(spark, ups, ["id"])
    cdf2 = t.changes(spark, 1)  # to latest
    got = sorted((r.id, r.v, r._change) for r in cdf2.collect())
    assert got == [(3, 6, "delete"), (3, 999, "insert")]
    assert snap == 2


def test_optimize_compacts_preserves_rows_and_history(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    for k in range(5):
        t.append(mk(spark, k * 10, k * 10 + 10, n_files=2))
    pre = t.latest_snapshot()
    n_live_before = len(t._manifest(pre)["files"])
    snap = t.optimize(spark, n_files=2)
    m = t._manifest(snap)
    assert m["action"] == "optimize"
    assert len(m["files"]) <= 2 < n_live_before
    assert rows(t.read(spark)) == [(i, i * 2) for i in range(50)]
    # pre-optimize snapshot is still time-travel readable, then vacuum
    # bounds history and the old files go away
    assert rows(t.read(spark, snapshot=pre)) == rows(t.read(spark))
    t.vacuum(keep_last=1)
    with pytest.raises(SnapshotUnavailable):
        t.read(spark, snapshot=pre)


def test_optimize_zorder_improves_skip_ratio(spark, tmp_path):
    """The maintenance loop end-to-end: ingest arrives unclustered, so a
    y-band probe can skip almost nothing; OPTIMIZE ZORDER BY (x, y)
    rewrites the same rows clustered, and the footer stats now skip most
    row groups for the same probe."""
    t = TxTable(str(tmp_path / "t"))
    grid = (
        spark.range(64 * 64)
        .select(
            (F.col("id") % 64).alias("x"),
            (F.col("id") / 64).cast("long").alias("y"),
        )
        # shuffle rows so arrival order correlates with neither axis
        .orderBy(F.xxhash64("id"))
    )
    t.append(grid.repartition(8))
    t.vacuum(keep_last=1)
    before = skip_ratio(t.data_dir, "y", 10, 12)
    t.optimize(spark, n_files=8, zorder_by=["x", "y"])
    t.vacuum(keep_last=1)
    after = skip_ratio(t.data_dir, "y", 10, 12)
    assert before <= 0.2
    assert after >= 0.5
    assert after > before
    got = sorted((r.x, r.y) for r in t.read(spark).collect())
    assert got == sorted((i % 64, i // 64) for i in range(64 * 64))


def test_restore_rolls_back_as_new_commit(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(mk(spark, 0, 10))
    t.overwrite(mk(spark, 100, 105))
    snap = t.restore(0)
    assert rows(t.read(spark)) == [(i, i * 2) for i in range(10)]
    hist = t.history()
    assert [h["action"] for h in hist] == ["append", "overwrite", "restore"]
    assert snap == 2
    # restore of a vacuumed snapshot must refuse, not resurrect garbage
    t.overwrite(mk(spark, 200, 203))
    t.vacuum(keep_last=1)
    with pytest.raises(SnapshotUnavailable):
        t.restore(1)


# ---------------------------------------------------------------------------
# MERGE schema evolution
# ---------------------------------------------------------------------------


def test_merge_schema_evolution_adds_column(spark, tmp_path):
    """Delta-style MERGE evolution: updates bring a NEW column — the
    upsert and the schema widening land in ONE commit; pre-existing
    rows (survivors and untouched files alike) null-fill by name."""
    from stock_market_etl_pipeline_spark.operators.txtable import TxTable

    t = TxTable(str(tmp_path / "t"))
    t.append(
        spark.range(0, 20).select(
            "id", (F.col("id") * 2).alias("v")
        ).repartition(4)
    )
    upd = spark.range(5, 10).select(
        "id", (F.col("id") * 100).alias("v"), F.lit("new").alias("tag")
    )
    with pytest.raises(ValueError, match="merge schema mismatch"):
        t.merge(spark, upd, key_cols=["id"])
    snap = t.merge(spark, upd, key_cols=["id"], merge_schema=True)
    got = {r.id: (r.v, r.tag) for r in t.read(spark).collect()}
    assert len(got) == 20
    for i in range(20):
        if 5 <= i < 10:
            assert got[i] == (i * 100, "new")
        else:
            assert got[i] == (i * 2, None)
    # time travel below the evolution still reads the narrow schema
    assert "tag" not in t.read(spark, snapshot=snap - 1).columns


def test_merge_schema_evolution_rejects_retype_and_fills_missing(
    spark, tmp_path
):
    from stock_market_etl_pipeline_spark.operators.txtable import TxTable

    t = TxTable(str(tmp_path / "t"))
    t.append(spark.range(0, 10).select("id", (F.col("id") * 2).alias("v")))
    bad = spark.range(0, 3).select(
        "id", F.col("id").cast("string").alias("v")
    )
    with pytest.raises(ValueError, match="cannot change column"):
        t.merge(spark, bad, key_cols=["id"], merge_schema=True)
    # evolve once, then merge updates MISSING the new column: inserts
    # null-fill it
    t.merge(
        spark,
        spark.range(0, 2).select(
            "id", (F.col("id") + 1000).alias("v"), F.lit(1).alias("x")
        ),
        key_cols=["id"],
        merge_schema=True,
    )
    t.merge(
        spark,
        spark.range(2, 4).select("id", (F.col("id") + 2000).alias("v")),
        key_cols=["id"],
        merge_schema=True,
    )
    got = {r.id: (r.v, r.x) for r in t.read(spark).collect()}
    assert got[0] == (1000, 1) and got[1] == (1001, 1)
    assert got[2] == (2002, None) and got[3] == (2003, None)
    assert got[5] == (10, None)


def test_rebase_never_crosses_a_racer_schema_change(spark, tmp_path):
    """ADVICE r7: a racer that EVOLVED the schema must always fail the
    loser's rebase — even when the loser itself passes merge_schema=True.
    The loser's union schema was derived from the stale base, so a
    silent rebase would drop the racer's new column from the logical
    schema (its data becomes unreadable)."""
    t = TxTable(str(tmp_path / "t"))
    t.append(mk(spark, 0, 10, n_files=1))
    t.append(mk(spark, 1000, 1010, n_files=1))
    # loser's batch brings its OWN new column -> merge_schema=True path
    ups = spark.createDataFrame(
        [(0, 111, "x")], "id bigint, v bigint, w string"
    )
    orig_stage = t._stage

    def racing_stage(df):
        out = orig_stage(df)
        # racer evolves the schema: disjoint keys, but adds column u
        racer = spark.createDataFrame(
            [(2000, 1, 7)], "id bigint, v bigint, u bigint"
        )
        TxTable(t.root).append(racer, merge_schema=True)
        return out

    t._stage = racing_stage
    with pytest.raises(CommitConflict):
        t.merge(spark, ups, ["id"], merge_schema=True)
    t._stage = orig_stage
    # a FRESH attempt (re-reads table state) lands, and the racer's
    # column survives in the final logical schema alongside ours
    t.merge(spark, ups, ["id"], merge_schema=True)
    cols = set(t.read(spark).columns)
    assert {"id", "v", "u", "w"} <= cols
    got = {r["id"]: r for r in t.read(spark).collect()}
    assert got[2000]["u"] == 7 and got[0]["w"] == "x"


def test_two_appends_race_both_land(spark, tmp_path):
    """VERDICT r11 #6 (write-write race matrix, append∥append): two
    writers APPENDING concurrently — the loser's exclusive-create
    fails, but appends depend on no existing content (no removes, no
    probe) so the loser rebases onto the winner's snapshot and BOTH
    batches land, each in its own commit. Completes the race matrix
    beside merge-loser cases (test_merge_rebases_over_disjoint_racer,
    test_merge_conflict_when_racer_*) and the raw-commit conflict
    (test_txtable.py::test_commit_conflict_raises_not_overwrites)."""
    t = TxTable(str(tmp_path / "t"))
    t.append(mk(spark, 0, 10))
    orig_stage = t._stage

    def racing_stage(df):
        out = orig_stage(df)
        TxTable(t.root).append(mk(spark, 2000, 2010))  # racer claims next id
        return out

    t._stage = racing_stage
    t.append(mk(spark, 1000, 1010))  # loser: rebases, does not raise
    t._stage = orig_stage
    got = {r.id for r in t.read(spark).collect()}
    assert got == set(range(0, 10)) | set(range(1000, 1010)) | set(
        range(2000, 2010)
    )
    # three data commits: nobody clobbered anybody
    acts = [h["action"] for h in t.history()]
    assert acts.count("append") == 3


def test_append_loser_rebases_over_racing_merge(spark, tmp_path):
    """Write-write race matrix, append-loser vs merge-winner: the merge
    rewrote (removed) a file, but the append removes nothing and its
    content depends on nothing, so the rebase is safe — the merge's
    rewrite AND the appended rows both survive, serialized merge-then-
    append."""
    t = TxTable(str(tmp_path / "t"))
    t.append(mk(spark, 0, 10, n_files=1))
    orig_stage = t._stage

    def racing_stage(df):
        out = orig_stage(df)
        TxTable(t.root).merge(
            spark,
            spark.createDataFrame([(0, 111)], "id bigint, v bigint"),
            ["id"],
        )
        return out

    t._stage = racing_stage
    t.append(mk(spark, 1000, 1010))  # loser: rebases over the merge
    t._stage = orig_stage
    got = dict((r.id, r.v) for r in t.read(spark).collect())
    assert got[0] == 111, "racing merge's rewrite was lost in the rebase"
    assert set(got) == set(range(0, 10)) | set(range(1000, 1010))
