"""Streaming drift monitor (streaming/drift_monitor.py): KL-vs-frozen-
reference parity with a Python reference, drift detection on a planted
shift, and crash-replay convergence."""

import pytest

# Long-matrix tier (VERDICT r12 #1): multi-batch streaming / replay /
# restart-storm e2e tests. Excluded from the default run so the driver's
# verify window fits; run with `python -m pytest tests/ -m slow -q` (the
# round close-out ritual runs all tiers).
pytestmark = pytest.mark.slow

import math
import os

from pyspark.sql import functions as F

from stock_market_etl_pipeline_spark.streaming.drift_monitor import (

    _REF_VOCAB,
    drift_metrics,
    freeze_reference,
    start_drift_monitor,
)
from conftest import await_drained, crash_last_commit


def _docs(spark, rows, start_id=0):
    """rows: (text, source)."""
    return spark.createDataFrame(
        [(start_id + i, t, "xx", s, len(t)) for i, (t, s) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def _dirs(tmp_path):
    return {k: str(tmp_path / k) for k in ("landing", "state", "ckpt")}


def _run(spark, d):
    q = start_drift_monitor(spark, d["landing"], d["state"], d["ckpt"])
    await_drained(spark, q)


def _kl_reference(live_counts, ref_counts):
    """Python mirror of _kl_per_source for one source."""
    vocab = sorted(ref_counts)
    v = len(vocab)
    tot = sum(live_counts.get(t, 0) for t in vocab)
    rtot = sum(ref_counts.values())
    kl = 0.0
    for t in vocab:
        p = (live_counts.get(t, 0) + 1) / (tot + v)
        q = (ref_counts[t] + 1) / (rtot + v)
        kl += p * math.log(p / q)
    return round(kl, 6)


REF_TEXT = "the quick brown fox jumps over the lazy dog the end"
LIKE_REF = "the quick brown fox naps under the lazy dog the end"
# shares only 'the' with the reference support, hammered hard
SHIFTED = "zebra zebra the the the the zebra flux flux the the flux"
ALIEN = "zebra zebra zebra quantum quantum flux flux flux zebra flux"


def _counts(*texts):
    c = {}
    for text in texts:
        for t in text.lower().split():
            c[t] = c.get(t, 0) + 1
    return c


def test_drift_metrics_match_python_reference(spark, tmp_path):
    d = _dirs(tmp_path)
    os.makedirs(d["landing"])
    freeze_reference(spark, _docs(spark, [(REF_TEXT, "s1")]), d["state"])
    _docs(
        spark, [(LIKE_REF, "s1"), (SHIFTED, "s2"), (ALIEN, "s3")]
    ).coalesce(1).write.mode("append").parquet(d["landing"])
    _run(spark, d)
    out = {r.source: r for r in drift_metrics(spark, d["state"]).collect()}

    ref = _counts(REF_TEXT)  # < _REF_VOCAB distinct tokens: full support
    assert len(ref) < _REF_VOCAB
    for src, text in (("s1", LIKE_REF), ("s2", SHIFTED), ("s3", ALIEN)):
        live = _counts(text)
        assert out[src].kl_vs_reference == _kl_reference(
            {t: n for t, n in live.items() if t in ref}, ref
        ), src
    # the skewed source reads more divergent than the faithful one
    assert out["s2"].kl_vs_reference > out["s1"].kl_vs_reference
    assert bool(out["s1"].drifted) is False
    # s3 shares NO support with the reference: invisible to restricted
    # KL, caught by the OOV-share channel
    assert out["s3"].n_tokens_in_vocab == 0
    assert out["s3"].oov_share == 1.0
    assert bool(out["s3"].drifted) is True
    assert out["s1"].oov_share == 2 / 11  # naps, under


def test_drift_accumulates_across_batches(spark, tmp_path):
    """Counts are cumulative: batch 2's metric reflects batch 1 + 2."""
    d = _dirs(tmp_path)
    os.makedirs(d["landing"])
    freeze_reference(spark, _docs(spark, [(REF_TEXT, "s1")]), d["state"])
    _docs(spark, [(LIKE_REF, "s1")]).coalesce(1).write.mode("append").parquet(d["landing"])
    _run(spark, d)
    _docs(spark, [(SHIFTED, "s1")], start_id=100).coalesce(1).write.mode("append").parquet(
        d["landing"]
    )
    _run(spark, d)
    rows = sorted(
        drift_metrics(spark, d["state"]).collect(), key=lambda r: r.batch_id
    )
    assert [r.batch_id for r in rows] == [0, 1]
    # after the skewed batch the CUMULATIVE distribution moved away
    assert rows[1].kl_vs_reference > rows[0].kl_vs_reference

    ref = _counts(REF_TEXT)
    want = _kl_reference(
        {t: n for t, n in _counts(LIKE_REF, SHIFTED).items() if t in ref}, ref
    )
    assert rows[1].kl_vs_reference == want


def test_drift_monitor_survives_restart_storm(spark, tmp_path):
    d = _dirs(tmp_path)
    os.makedirs(d["landing"])
    freeze_reference(spark, _docs(spark, [(REF_TEXT, "s1")]), d["state"])
    # replayed freeze is a no-op
    freeze_reference(spark, _docs(spark, [(SHIFTED, "s9")]), d["state"])
    _docs(spark, [(LIKE_REF, "s1")]).coalesce(1).write.mode("append").parquet(d["landing"])
    _run(spark, d)
    once = sorted(
        (r.batch_id, r.source, r.kl_vs_reference)
        for r in drift_metrics(spark, d["state"]).collect()
    )
    # crash AFTER the work, BEFORE the checkpoint commit: full replay
    crash_last_commit(d["ckpt"])
    _run(spark, d)
    again = sorted(
        (r.batch_id, r.source, r.kl_vs_reference)
        for r in drift_metrics(spark, d["state"]).collect()
    )
    assert again == once  # no duplicate metrics rows
    # counts table committed exactly once per batch txn
    from stock_market_etl_pipeline_spark.streaming.drift_monitor import (
        _drift_tables,
    )
    t = _drift_tables(d["state"])
    live = t["counts"].read(spark).groupBy().agg(
        F.sum("n").alias("s")
    ).collect()[0].s
    assert live == len(LIKE_REF.split())


# planted IN-SUPPORT skew: every token is in the frozen support, so the
# restricted-KL channel (not the OOV channel) must do the flagging
IN_SKEW = "the the the the the the the the the the the the"


def test_multi_source_planted_drift_restart_storm(spark, tmp_path):
    """VERDICT r9 #8: cross-source SELECTIVITY under a restart storm —
    three sources stream three batches each, exactly one (s2) drifts
    with in-support skew; after every batch the last checkpoint commit
    is crashed and the batch replayed. The frozen-support KL must flag
    s2 and ONLY s2 in every per-batch metrics row, across replays, with
    no duplicate or diverging metric rows."""
    d = _dirs(tmp_path)
    os.makedirs(d["landing"])
    freeze_reference(spark, _docs(spark, [(REF_TEXT, "s1")]), d["state"])

    ref = _counts(REF_TEXT)
    seen = {}
    for b in range(3):
        _docs(
            spark,
            [(LIKE_REF, "s1"), (IN_SKEW, "s2"), (LIKE_REF, "s3")],
            start_id=100 * b,
        ).coalesce(1).write.mode("append").parquet(d["landing"])
        _run(spark, d)
        once = sorted(
            (r.batch_id, r.source, r.kl_vs_reference, bool(r.drifted))
            for r in drift_metrics(spark, d["state"]).collect()
        )
        # crash AFTER the work, BEFORE the commit: full batch replay
        crash_last_commit(d["ckpt"])
        _run(spark, d)
        again = sorted(
            (r.batch_id, r.source, r.kl_vs_reference, bool(r.drifted))
            for r in drift_metrics(spark, d["state"]).collect()
        )
        assert again == once, f"replay diverged at batch {b}"
        seen = {
            (r.batch_id, r.source): r
            for r in drift_metrics(spark, d["state"]).collect()
        }

    # 3 batches x 3 sources, no duplicates
    assert len(seen) == 9
    for (bid, src), r in seen.items():
        if src == "s2":
            assert bool(r.drifted) is True, (bid, src)
            # in-support skew: the OOV channel must NOT be what fired
            assert r.oov_share == 0.0
        else:
            assert bool(r.drifted) is False, (bid, src)
    # KL parity with the Python reference on the CUMULATIVE counts at
    # every batch (NOT constant across batches even though proportions
    # are: add-one smoothing is deliberately not scale-invariant — more
    # evidence shrinks the smoothing mass, so a skewed source's KL
    # RISES as its skew accumulates)
    batch_ids = sorted({b for b, _ in seen})
    for src, text in (("s1", LIKE_REF), ("s2", IN_SKEW), ("s3", LIKE_REF)):
        for k, bid in enumerate(batch_ids, start=1):
            live = _counts(*([text] * k))
            want = _kl_reference(
                {t: n for t, n in live.items() if t in ref}, ref
            )
            assert seen[(bid, src)].kl_vs_reference == want, (src, bid)
    # and the skewed source's KL is monotonically sharpening
    s2_kls = [seen[(b, "s2")].kl_vs_reference for b in batch_ids]
    assert s2_kls == sorted(s2_kls)
