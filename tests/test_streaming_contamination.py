"""Continuous decontamination monitor (streaming/contamination.py): the
streamed hit-set report must equal the one-shot batch computation over
the same corpus, stay monotone across waves, and converge under a
crash-replay storm (batch_id-keyed idempotent state writes)."""

import pytest

# Long-matrix tier (VERDICT r12 #1): multi-batch streaming / replay /
# restart-storm e2e tests. Excluded from the default run so the driver's
# verify window fits; run with `python -m pytest tests/ -m slow -q` (the
# round close-out ritual runs all tiers).
pytestmark = pytest.mark.slow

import os

from stock_market_etl_pipeline_spark.streaming.contamination import (

    build_benchmark_grams,
    contamination_report,
    doc_gram_hashes,
    probe_batch,
    start_contamination_monitor,
)
from conftest import await_drained, crash_last_commit

WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform"
).split()


def _doc(i: int) -> str:
    # 12 unique-ish tokens per doc; docs share no 8-grams across ids
    return " ".join(f"{w}{i}" for w in WORDS[:12])


def _bench(spark):
    return spark.createDataFrame(
        [(i, _doc(i)) for i in range(5)], ["doc_id", "text"]
    )


def _run(spark, landing, bench_dir, hits, ckpt):
    q = start_contamination_monitor(spark, landing, bench_dir, hits, ckpt)
    await_drained(spark, q, timeout=120)


def _report(spark, bench_dir, hits):
    return {
        r.doc_id: (r.n_grams, r.n_contaminated, r.contamination_rate)
        for r in contamination_report(spark, bench_dir, hits).collect()
    }


def test_monitor_matches_batch_and_is_monotone(spark, tmp_path):
    """Three waves: wave 1 is clean, wave 2 leaks a 9-token prefix of
    bench doc 0 (two 8-grams of its five), wave 3 leaks ALL of bench
    doc 1. The report after each wave must equal the one-shot batch
    probe over the union so far, and rates never decrease."""
    landing = str(tmp_path / "landing")
    bench_dir = str(tmp_path / "bench")
    hits = str(tmp_path / "hits")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    build_benchmark_grams(spark, _bench(spark), bench_dir)

    # each bench doc has 12 tokens → 5 distinct 8-grams
    base = _report(spark, bench_dir, hits)
    assert base == {i: (5, 0, 0.0) for i in range(5)}

    waves = [
        spark.createDataFrame(
            [(100 + i, _doc(50 + i)) for i in range(3)], ["doc_id", "text"]
        ),
        spark.createDataFrame(
            [(200, " ".join(_doc(0).split()[:9]))], ["doc_id", "text"]
        ),
        spark.createDataFrame([(300, _doc(1))], ["doc_id", "text"]),
    ]
    seen = []
    prev = {i: 0.0 for i in range(5)}
    for w in waves:
        w.coalesce(1).write.mode("append").parquet(landing)
        seen.append(w)
        _run(spark, landing, bench_dir, hits, ckpt)
        got = _report(spark, bench_dir, hits)
        # one-shot batch reference over the union so far
        union = seen[0]
        for s in seen[1:]:
            union = union.unionByName(s)
        bench_grams = spark.read.parquet(bench_dir)
        ref_hits = (
            probe_batch(doc_gram_hashes(union), bench_grams)
            .groupBy("doc_id")
            .count()
        )
        ref = {r.doc_id: r["count"] for r in ref_hits.collect()}
        for d in range(5):
            assert got[d][1] == ref.get(d, 0)
            assert got[d][2] >= prev[d]  # monotone
            prev[d] = got[d][2]

    # wave-2: 9-token prefix → grams at offsets 0,1 → 2 of 5
    assert _report(spark, bench_dir, hits)[0] == (5, 2, 0.4)
    # wave-3: full leak → 5 of 5
    assert _report(spark, bench_dir, hits)[1] == (5, 5, 1.0)
    # untouched docs stay clean
    for d in (2, 3, 4):
        assert _report(spark, bench_dir, hits)[d] == (5, 0, 0.0)


def test_monitor_survives_restart_storm(spark, tmp_path):
    """Crash between hit-write and checkpoint-commit after every wave
    (2 replays each): the distinct-over-partitions report must equal
    the clean single-run result — idempotent dynamic-overwrite state."""
    import random

    rng = random.Random(0xC047A)
    landing = str(tmp_path / "landing")
    bench_dir = str(tmp_path / "bench")
    hits = str(tmp_path / "hits")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    build_benchmark_grams(spark, _bench(spark), bench_dir)

    waves = [
        spark.createDataFrame(
            [(200, " ".join(_doc(0).split()[:9]))], ["doc_id", "text"]
        ),
        spark.createDataFrame([(300, _doc(1))], ["doc_id", "text"]),
        spark.createDataFrame(
            [(400, _doc(77))], ["doc_id", "text"]
        ),
    ]
    n_crashes = 0
    for w in waves:
        w.coalesce(1).write.mode("append").parquet(landing)
        _run(spark, landing, bench_dir, hits, ckpt)
        for _ in range(rng.randint(1, 2)):
            n_crashes += 1
            crash_last_commit(ckpt)
            _run(spark, landing, bench_dir, hits, ckpt)
    assert n_crashes >= 3

    rep = _report(spark, bench_dir, hits)
    assert rep[0] == (5, 2, 0.4)
    assert rep[1] == (5, 5, 1.0)
    assert rep[2] == (5, 0, 0.0)
