"""TxTable bloom-filter file skipping (VERDICT r6 #5): point lookups on
high-cardinality keys where min/max bands prune nothing — ids are
interleaved across files so every file's [min, max] spans the whole key
space — must skip ≥90% of files via the manifest blooms with ZERO false
skips (bloom=maybe semantics), carry across OPTIMIZE/RESTORE like the
r6 column stats, and pre-prune MERGE's discovery scan."""

import json
import os

import pytest

from stock_market_etl_pipeline_spark.operators.txtable import TxTable

# Long-matrix tier (VERDICT r12 #1): multi-batch streaming / replay /
# restart-storm e2e tests. Excluded from the default run so the driver's
# verify window fits; run with `python -m pytest tests/ -m slow -q` (the
# round close-out ritual runs all tiers).
pytestmark = pytest.mark.slow


N_FILES = 20
PER_FILE = 500  # 10k ids total, id % N_FILES decides the file


def _mk(spark, residue: int):
    ids = [i for i in range(N_FILES * PER_FILE) if i % N_FILES == residue]
    return spark.createDataFrame(
        [(i, f"v{i}") for i in ids], "id bigint, payload string"
    )


def _build(spark, path) -> TxTable:
    t = TxTable(str(path), bloom_columns=["id"])
    for r in range(N_FILES):
        t.append(_mk(spark, r).coalesce(1))
    return t


def test_bloom_skips_point_lookups_minmax_cannot(spark, tmp_path):
    t = _build(spark, tmp_path / "t")
    m = t._manifest(t.latest_snapshot())
    assert len(m["files"]) == N_FILES
    # min/max is useless here by construction: every file spans ~all ids
    for f in m["files"]:
        st = m["stats"][f]["id"]
        assert st["min"] < 100 and st["max"] > N_FILES * PER_FILE - 100
        assert "bloom" in st
    # a degenerate band IS an equality leaf: the one leaf rule probes
    # the bloom for it (VERDICT r7 #4) — covered in depth by
    # test_band_read_equality_probes_bloom_like_prune_keys; a REAL band
    # stays stats-only and reads everything on this interleaved layout
    band_kept, band_skipped = t.prune({"id": (5_432, 5_433)})
    assert len(band_skipped) == 0

    total_kept = 0
    probes = [27, 123, 4_444, 9_979, 6_012, 5_432]
    for key in probes:
        kept, skipped = t.prune({"id": ("in", [key])})
        total_kept += len(kept)
        # zero false skips: the file that truly holds the key is kept
        rows = t.read_predicate(spark, {"id": ("in", [key])}).collect()
        assert [(r.id, r.payload) for r in rows] == [(key, f"v{key}")]
        # parity with the unpruned read whatever the blooms say
        base = t.read(spark).filter(f"id = {key}").collect()
        assert rows == base
    # ≥90% of files skipped on average (expected: exactly 1 kept per
    # probe up to bloom false positives)
    assert total_kept <= len(probes) * 2
    assert 1 - total_kept / (len(probes) * N_FILES) >= 0.9

    # absent key: nothing read, nothing returned
    kept, _ = t.prune({"id": ("in", [10**9])})
    assert len(kept) <= 2
    assert t.read_predicate(spark, {"id": ("in", [10**9])}).count() == 0


def test_bloom_multi_value_probe_unions_files(spark, tmp_path):
    t = _build(spark, tmp_path / "t")
    keys = [0, 1, 2]  # three different residues → three files
    kept, _ = t.prune({"id": ("in", keys)})
    assert 3 <= len(kept) <= 5
    got = sorted(
        (r.id, r.payload)
        for r in t.read_predicate(spark, {"id": ("in", keys)}).collect()
    )
    assert got == [(k, f"v{k}") for k in keys]


def test_bloom_carried_across_optimize_and_restore(spark, tmp_path):
    t = _build(spark, tmp_path / "t")
    pre = t.latest_snapshot()
    # OPTIMIZE rewrites files; the optimizing writer carries the bloom
    # config so the compacted files get fresh blooms
    t.optimize(spark, n_files=4, zorder_by=["id"])
    m = t._manifest(t.latest_snapshot())
    assert len(m["files"]) <= 6
    assert all("bloom" in m["stats"][f]["id"] for f in m["files"])
    # z-order clustering makes min/max effective AND blooms still probe
    rows = t.read_predicate(spark, {"id": ("in", [4_444])}).collect()
    assert [(r.id, r.payload) for r in rows] == [(4_444, "v4444")]
    # RESTORE re-points at the old files — their blooms come back via
    # the stats carry, and skipping still works
    t.restore(pre)
    kept, skipped = t.prune({"id": ("in", [4_444])})
    assert len(kept) <= 2 and len(skipped) >= N_FILES - 2
    rows = t.read_predicate(spark, {"id": ("in", [4_444])}).collect()
    assert [(r.id, r.payload) for r in rows] == [(4_444, "v4444")]


def test_bloom_prunes_merge_discovery_scan(spark, tmp_path):
    t = _build(spark, tmp_path / "t")
    seen: list[list[str]] = []
    orig = t._read_files

    def spy(spark_, files, schema, struct=None):
        seen.append(list(files))
        return orig(spark_, files, schema, struct=struct)

    t._read_files = spy
    ups = spark.createDataFrame(
        [(4_444, "NEW")], "id bigint, payload string"
    )
    t.merge(spark, ups, ["id"])
    t._read_files = orig
    # the discovery scan (first _read_files call) saw only the
    # bloom-surviving files, not all 20
    assert len(seen[0]) <= 2
    got = t.read(spark).filter("id = 4444").collect()
    assert [(r.id, r.payload) for r in got] == [(4_444, "NEW")]
    # only the one matching file was rewritten
    m = t._manifest(t.latest_snapshot())
    assert len(m.get("removed") or []) == 1


def test_bloomless_writers_and_saturation_stay_safe(spark, tmp_path):
    # writer WITHOUT bloom_columns: no blooms, an IN leaf keeps all
    t0 = TxTable(str(tmp_path / "plain"))
    t0.append(_mk(spark, 0).coalesce(1))
    t0.append(_mk(spark, 1).coalesce(1))
    m = t0._manifest(t0.latest_snapshot())
    assert all("bloom" not in (m["stats"][f].get("id") or {}) for f in m["files"])
    kept, skipped = t0.prune({"id": ("in", [20])})
    assert skipped == [] and len(kept) == 2

    # saturated bitmap (too many distinct values for the bits) is
    # DROPPED at build time — unprunable, never wrong
    t1 = TxTable(str(tmp_path / "sat"), bloom_columns=["id"], bloom_bits=1024)
    t1.append(
        spark.createDataFrame(
            [(i, "x") for i in range(5_000)], "id bigint, payload string"
        ).coalesce(1)
    )
    m1 = t1._manifest(t1.latest_snapshot())
    f = m1["files"][0]
    assert "bloom" not in m1["stats"][f]["id"]
    kept, skipped = t1.prune({"id": ("in", [17])})
    assert skipped == [] and kept == [f]


def test_bloom_string_keys_and_cross_writer_reads(spark, tmp_path):
    t = TxTable(str(tmp_path / "s"), bloom_columns=["k"])
    for part in range(8):
        rows = [(f"key-{i:05d}", part) for i in range(part, 4_000, 8)]
        t.append(
            spark.createDataFrame(rows, "k string, part int").coalesce(1)
        )
    # a bloom-unaware READER instance still prunes from the manifest
    reader = TxTable(t.root)
    kept, skipped = reader.prune({"k": ("in", ["key-00123"])})
    assert len(kept) <= 2 and len(skipped) >= 6
    got = reader.read_predicate(spark, {"k": ("in", ["key-00123"])}).collect()
    assert [(r.k, r.part) for r in got] == [("key-00123", 123 % 8)]


def test_bloom_log_stays_kb_scale(spark, tmp_path):
    """The manifest must stay metadata-sized with blooms on: 8 KB bitmap
    → ~10 KB base85 per file per bloom column."""
    t = _build(spark, tmp_path / "t")
    path = os.path.join(t.log_dir, f"{t.latest_snapshot():010d}.json")
    size = os.path.getsize(path)
    assert size < N_FILES * 16_000 + 50_000
    # and it round-trips as plain JSON
    with open(path) as fh:
        json.load(fh)


def test_band_read_equality_probes_bloom_like_prune_keys(spark, tmp_path):
    """VERDICT r7 #4: a DEGENERATE band (lo == hi) is an equality leaf —
    prune must skip exactly the files an IN leaf skips for that
    value (min/max bands prune nothing here: ids interleave across
    every file), with zero false skips."""
    t = _build(spark, tmp_path / "t")
    key = 7_777  # lives in file id % 20 == 17
    kept_k, skipped_k = t.prune({"id": ("in", [key])})
    kept_b, skipped_b = t.prune({"id": (key, key)})
    assert set(kept_b) == set(kept_k)
    assert set(skipped_b) == set(skipped_k)
    assert len(skipped_b) >= N_FILES - 2  # blooms actually bit
    # zero false skips: the banded read returns exactly the row
    got = t.read_predicate(spark, {"id": (key, key)}).collect()
    assert [(r.id, r.payload) for r in got] == [(key, f"v{key}")]
    # a REAL band (lo < hi) must not consult blooms (they cannot
    # serve ranges): nothing skipped on the interleaved layout
    kept_r, skipped_r = t.prune({"id": (100, 200)})
    assert not skipped_r and len(kept_r) == N_FILES


def test_prune_bands_equality_and_in_leaves(spark, tmp_path):
    """prune's op-tagged leaves: ('=', v) and ('in', [..]) compose
    bloom + min/max skipping with plain band leaves under AND, and
    read_predicate returns exactly read().filter(...)."""
    t = _build(spark, tmp_path / "t")
    kept, skipped = t.prune({"id": ("=", 4_242)})
    k2, s2 = t.prune({"id": ("in", [4_242])})
    assert set(kept) == set(k2) and set(skipped) == set(s2)
    kept_in, _ = t.prune({"id": ("in", [4_242, 4_243])})
    assert set(kept_in) == set(t.prune({"id": ("in", [4_242, 4_243])})[0])
    # conjunction with a band leaf can only shrink the kept set
    kept_and, _ = t.prune(
        {"id": ("in", [4_242, 4_243]), "payload": ("v4242", "v4243")}
    )
    assert set(kept_and) <= set(kept_in)
    got = t.read_predicate(spark, {"id": ("in", [4_242, 4_243])}).collect()
    assert sorted((r.id, r.payload) for r in got) == [
        (4_242, "v4242"), (4_243, "v4243")
    ]
    eq = t.read_predicate(spark, {"id": ("=", 4_242)}).collect()
    assert [(r.id, r.payload) for r in eq] == [(4_242, "v4242")]


def test_merge_discovery_minmax_prunes_bloomless_writer(spark, tmp_path):
    """MERGE discovery pruning must now work for bloom-LESS writers too:
    on a range-clustered layout the manifest min/max alone excludes
    every non-matching file (VERDICT r7 #4 — the txview incremental
    refresh path, whose view tables are written without blooms)."""
    t = TxTable(str(tmp_path / "t"))  # no bloom_columns
    for part in range(10):  # range-clustered: file p holds [1000p, 1000p+999]
        rows = [(i, f"v{i}") for i in range(part * 1000, part * 1000 + 1000)]
        t.append(
            spark.createDataFrame(rows, "id bigint, payload string")
            .coalesce(1)
        )
    seen: list[list[str]] = []
    orig = t._read_files

    def spy(spark_, files, schema, struct=None):
        seen.append(list(files))
        return orig(spark_, files, schema, struct=struct)

    t._read_files = spy
    ups = spark.createDataFrame([(5_500, "NEW")], "id bigint, payload string")
    t.merge(spark, ups, ["id"])
    t._read_files = orig
    # discovery saw only the one file whose [min, max] brackets 5500
    assert len(seen[0]) == 1
    got = t.read(spark).filter("id = 5500").collect()
    assert [(r.id, r.payload) for r in got] == [(5_500, "NEW")]
    assert t.read(spark).count() == 10_000
