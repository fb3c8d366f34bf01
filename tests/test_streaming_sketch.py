"""Incrementally-merged HLL sketch table (streaming/sketch_rollup.py):
the merge-maintained sketches must equal a one-shot sketch over all
landed data after every ingestion step, and batch REPLAY must be a no-op
— HLL union idempotence is the sink's exactly-once story, so it gets
asserted directly, not assumed."""

from pyspark.sql import functions as F

from stock_market_etl_pipeline_spark.sources.tables import load_table
from stock_market_etl_pipeline_spark.streaming.sketch_rollup import (
    distinct_estimates,
    merge_into_store,
    sketch_batch,
    start_distinct_sketch_rollup,
)

from conftest import SF_DIR, crash_last_commit
import pytest

# Long-matrix tier (VERDICT r12 #1): multi-batch streaming / replay /
# restart-storm e2e tests. Excluded from the default run so the driver's
# verify window fits; run with `python -m pytest tests/ -m slow -q` (the
# round close-out ritual runs all tiers).
pytestmark = pytest.mark.slow


KEYS = ["o_orderpriority"]


def _oneshot(df):
    return {
        r["o_orderpriority"]: r["est"]
        for r in df.groupBy("o_orderpriority")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("o_custkey", F.lit(12))
            ).alias("est")
        )
        .collect()
    }


def _maintained(spark, sketch_dir):
    return {
        r["o_orderpriority"]: r["approx_distinct"]
        for r in distinct_estimates(spark, sketch_dir, KEYS).collect()
    }


def test_sketch_rollup_incremental_equals_oneshot(spark, tmp_path):
    o = load_table(spark, SF_DIR, "orders").cache()
    landing = str(tmp_path / "landing")
    sketches = str(tmp_path / "sketches")
    ckpt = str(tmp_path / "ckpt")

    cutoff = o.agg(F.percentile_approx("o_orderdate", 0.5)).collect()[0][0]
    chunk1 = o.filter(F.col("o_orderdate") <= F.lit(cutoff))
    chunk2 = o.filter(F.col("o_orderdate") > F.lit(cutoff))
    assert chunk1.count() > 0 and chunk2.count() > 0

    chunk1.write.mode("append").parquet(landing)
    q = start_distinct_sketch_rollup(
        spark, landing, sketches, ckpt, KEYS, "o_orderdate", "o_custkey"
    )
    q.awaitTermination(120)
    assert _maintained(spark, sketches) == _oneshot(chunk1)

    # second arrival merges into existing day partitions without rescan
    chunk2.write.mode("append").parquet(landing)
    q = start_distinct_sketch_rollup(
        spark, landing, sketches, ckpt, KEYS, "o_orderdate", "o_custkey"
    )
    q.awaitTermination(120)
    assert _maintained(spark, sketches) == _oneshot(o)
    o.unpersist()


def test_sketch_merge_replay_is_noop(spark, tmp_path):
    """Crash-between-write-and-commit: the restarted query re-delivers the
    last batch. Re-merging an already-merged batch sketch must leave the
    store in the identical state (register-wise max is idempotent)."""
    o = load_table(spark, SF_DIR, "orders")
    sketches = str(tmp_path / "sketches")

    first = o.filter(F.col("o_orderkey") % 3 == 0)
    replayed = o.filter(F.col("o_orderkey") % 3 == 1)

    merge_into_store(
        spark, sketch_batch(first, KEYS, "o_orderdate", "o_custkey"), sketches, KEYS
    )
    merge_into_store(
        spark, sketch_batch(replayed, KEYS, "o_orderdate", "o_custkey"), sketches, KEYS
    )
    before = _maintained(spark, sketches)

    # the replay: same batch merged AGAIN, simulating redelivery
    merge_into_store(
        spark, sketch_batch(replayed, KEYS, "o_orderdate", "o_custkey"), sketches, KEYS
    )
    assert _maintained(spark, sketches) == before


def test_theta_rollup_incremental_set_algebra_equals_oneshot(spark, tmp_path):
    """The merge-maintained THETA store must answer set-algebra questions
    over ALL landed history identically to sketches built one-shot over
    the full data — including after a second arrival that merges into
    existing day partitions, and after a redelivered batch (theta union
    is a retained-hash-set union: idempotent, so replay is a no-op)."""
    from stock_market_etl_pipeline_spark.operators.sketches import (
        theta_merged_per_group,
        theta_set_algebra,
    )
    from stock_market_etl_pipeline_spark.streaming.sketch_rollup import (
        merge_into_store,
        set_algebra_from_store,
        start_theta_sketch_rollup,
        theta_batch,
    )

    o = load_table(spark, SF_DIR, "orders").cache()
    landing = str(tmp_path / "landing")
    sketches = str(tmp_path / "theta")
    ckpt = str(tmp_path / "ckpt")
    A, B = "1-URGENT", "5-LOW"

    def oneshot_algebra(df):
        rollup = df.groupBy("o_orderpriority").agg(
            F.theta_sketch_agg("o_custkey", F.lit(12)).alias("theta")
        )
        return theta_set_algebra(rollup, "o_orderpriority", A, B).collect()[0]

    cutoff = o.agg(F.percentile_approx("o_orderdate", 0.5)).collect()[0][0]
    chunk1 = o.filter(F.col("o_orderdate") <= F.lit(cutoff))
    chunk2 = o.filter(F.col("o_orderdate") > F.lit(cutoff))

    chunk1.write.mode("append").parquet(landing)
    q = start_theta_sketch_rollup(
        spark, landing, sketches, ckpt, KEYS, "o_orderdate", "o_custkey"
    )
    q.awaitTermination(120)
    assert set_algebra_from_store(
        spark, sketches, "o_orderpriority", A, B
    ).collect()[0] == oneshot_algebra(chunk1)

    chunk2.write.mode("append").parquet(landing)
    q = start_theta_sketch_rollup(
        spark, landing, sketches, ckpt, KEYS, "o_orderdate", "o_custkey"
    )
    q.awaitTermination(120)
    full = oneshot_algebra(o)
    assert set_algebra_from_store(
        spark, sketches, "o_orderpriority", A, B
    ).collect()[0] == full

    # redelivery: merging chunk2's batch sketch AGAIN must change nothing
    merge_into_store(
        spark,
        theta_batch(chunk2, KEYS, "o_orderdate", "o_custkey"),
        sketches,
        KEYS,
        sketch_col="theta",
        union_agg=lambda c: F.theta_union_agg(c, F.lit(12)),
    )
    assert set_algebra_from_store(
        spark, sketches, "o_orderpriority", A, B
    ).collect()[0] == full
    o.unpersist()


def _stored_p50s(spark, sketch_dir):
    """Per-(key, day) exact medians read off each stored sketch (all
    day-groups at test scale hold < k items, so KLL is exact here)."""
    return {
        (r["o_orderpriority"], str(r["day"])): r["p50"]
        for r in spark.read.parquet(sketch_dir)
        .select(
            "o_orderpriority",
            "day",
            F.kll_sketch_get_quantile_double("kll", F.lit(0.5)).alias("p50"),
        )
        .collect()
    }


def test_kll_rollup_recompute_matches_and_rerun_is_noop(spark, tmp_path):
    from stock_market_etl_pipeline_spark.streaming.sketch_rollup import (
        start_quantile_sketch_rollup,
    )
    from stock_market_etl_pipeline_spark.sources.tables import load_table

    o = load_table(spark, SF_DIR, "orders").cache()
    landing = str(tmp_path / "landing")
    sketches = str(tmp_path / "kll")

    cutoff = o.agg(F.percentile_approx("o_orderdate", 0.5)).collect()[0][0]
    o.filter(F.col("o_orderdate") <= F.lit(cutoff)).write.mode("append").parquet(landing)
    q = start_quantile_sketch_rollup(
        spark, landing, sketches, str(tmp_path / "c1"), KEYS,
        "o_orderdate", "o_totalprice",
    )
    q.awaitTermination(120)

    o.filter(F.col("o_orderdate") > F.lit(cutoff)).write.mode("append").parquet(landing)
    q = start_quantile_sketch_rollup(
        spark, landing, sketches, str(tmp_path / "c1"), KEYS,
        "o_orderdate", "o_totalprice",
    )
    q.awaitTermination(120)
    after_incremental = _stored_p50s(spark, sketches)

    # oneshot rebuild over the same landing = ground truth
    oneshot_dir = str(tmp_path / "kll2")
    q = start_quantile_sketch_rollup(
        spark, landing, oneshot_dir, str(tmp_path / "c2"), KEYS,
        "o_orderdate", "o_totalprice",
    )
    q.awaitTermination(120)
    assert after_incremental == _stored_p50s(spark, oneshot_dir)

    # replay from a FRESH checkpoint: recompute-overwrite must be a no-op
    q = start_quantile_sketch_rollup(
        spark, landing, sketches, str(tmp_path / "c3"), KEYS,
        "o_orderdate", "o_totalprice",
    )
    q.awaitTermination(120)
    assert _stored_p50s(spark, sketches) == after_incremental
    o.unpersist()


def test_kll_naive_double_merge_shifts_quantiles(spark):
    """Why KLL gets recompute, not merge: re-merging a redelivered batch
    over-weights it. A(0..99) ∪ B(1000..1099) has median ~550; naively
    merging B again drags it to ~1000. (HLL's register-max union makes
    the same replay a no-op — test_sketch_merge_replay_is_noop.)"""
    a = spark.createDataFrame([(float(i),) for i in range(100)], ["v"])
    b = spark.createDataFrame([(1000.0 + i,) for i in range(100)], ["v"])
    sk = lambda df: df.agg(F.kll_sketch_agg_double("v", F.lit(200)).alias("s"))
    store = sk(a.unionAll(b)).collect()[0]["s"]
    replayed = sk(b).collect()[0]["s"]
    one = spark.createDataFrame([(bytearray(store), bytearray(replayed))], ["s1", "s2"])
    p50_before = spark.createDataFrame([(bytearray(store),)], ["s1"]).select(
        F.kll_sketch_get_quantile_double("s1", F.lit(0.5))
    ).collect()[0][0]
    p50_after = one.select(
        F.kll_sketch_get_quantile_double(
            F.kll_sketch_merge_double("s1", "s2"), F.lit(0.5)
        )
    ).collect()[0][0]
    assert p50_before < 600
    assert p50_after >= 900  # replay visibly corrupts the distribution


def test_sliding_mau_from_streaming_store_equals_batch(spark, tmp_path):
    """Feed events in two waves through the HLL maintainer, then read the
    30-day sliding distinct off the store: estimates must equal a batch
    one-shot sketch build bit-for-bit (register-max union is
    order-independent), on the same day set."""
    import datetime as dt

    from stock_market_etl_pipeline_spark.operators.sketches import (
        hll_daily_rollup,
        hll_sliding_distinct,
    )
    from stock_market_etl_pipeline_spark.streaming.sketch_rollup import (
        sliding_distinct_from_store,
        start_distinct_sketch_rollup,
    )

    landing = str(tmp_path / "landing")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    base = dt.datetime(2024, 5, 1, 8, 0, 0)

    def wave(rows):
        return spark.createDataFrame(
            [
                (i, base + dt.timedelta(days=d, minutes=i), u)
                for i, (u, d) in enumerate(rows)
            ],
            "event_id long, ts timestamp, user_id long",
        )

    w1 = wave([(1, 0), (2, 0), (1, 3), (3, 5)])
    w2 = wave([(2, 5), (4, 40), (1, 41)])  # reopens day 5, adds far days

    w1.write.mode("append").parquet(landing)
    q = start_distinct_sketch_rollup(
        spark, landing, store, ckpt, key_cols=[], day_col="ts",
        value_col="user_id",
    )
    q.awaitTermination(120)
    w2.write.mode("append").parquet(landing)
    q = start_distinct_sketch_rollup(
        spark, landing, store, ckpt, key_cols=[], day_col="ts",
        value_col="user_id",
    )
    q.awaitTermination(120)

    got = {
        str(r["day"]): r["approx_distinct"]
        for r in sliding_distinct_from_store(spark, store).collect()
    }
    all_events = spark.read.parquet(landing)
    batch = hll_sliding_distinct(
        hll_daily_rollup(all_events, [], F.col("ts").cast("date"), "user_id"),
        window_days=30,
    )
    want = {
        str(r["day"]): r["approx_distinct"] for r in batch.collect()
    }
    assert got == want  # identical estimates, not just close
    # sanity: the day-5 window sees users {1,2,3}; day 41 sees {4,1,2?}
    # (day 41 window covers days 12..41 -> users 4 and 1)
    assert got[str(dt.date(2024, 5, 6))] == 3.0
    assert got[str(dt.date(2024, 6, 11))] == 2.0


# ---------------------------------------------------------------------------
# Count-min delta store (batch-partitioned idempotent maintenance)
# ---------------------------------------------------------------------------


def _cm_est(spark, store, toks):
    from stock_market_etl_pipeline_spark.streaming.sketch_rollup import (
        frequency_estimates,
    )

    keys = toks.select("token").distinct()
    return {
        r.token: r.est_n
        for r in frequency_estimates(spark, store, keys, "token").collect()
    }


def _tok_table(spark):
    from stock_market_etl_pipeline_spark.functions.text import ws_tokens
    from stock_market_etl_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    return docs.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("token")
    )


def test_cm_delta_store_incremental_equals_oneshot_and_compacts(spark, tmp_path):
    """Two ingestion waves through the streaming maintainer must yield
    the SAME estimates as one batch-built sketch of everything (counter
    linearity), and compaction must fold the batch partitions without
    changing a single estimate."""
    from stock_market_etl_pipeline_spark.operators.sketches import (
        count_min_estimate,
        count_min_rollup,
    )
    from stock_market_etl_pipeline_spark.streaming.sketch_rollup import (
        compact_frequency_store,
        start_frequency_sketch_rollup,
    )

    toks = _tok_table(spark).cache()
    landing = str(tmp_path / "landing")
    store = str(tmp_path / "cm")
    ckpt = str(tmp_path / "ckpt")

    toks.filter(F.col("doc_id") % 2 == 0).write.mode("append").parquet(landing)
    q = start_frequency_sketch_rollup(spark, landing, store, ckpt, "token")
    q.awaitTermination(120)
    toks.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(landing)
    q = start_frequency_sketch_rollup(spark, landing, store, ckpt, "token")
    q.awaitTermination(120)

    keys = toks.select("token").distinct()
    oneshot = {
        r.token: r.est_n
        for r in count_min_estimate(
            count_min_rollup(toks, [], "token"), keys, "token"
        ).collect()
    }
    assert _cm_est(spark, store, toks) == oneshot

    n_parts = spark.read.parquet(store).select("batch_id").distinct().count()
    assert n_parts >= 2
    compact_frequency_store(spark, store)
    assert spark.read.parquet(store).select("batch_id").distinct().count() == 1
    assert _cm_est(spark, store, toks) == oneshot
    toks.unpersist()


def test_cm_replayed_batch_overwrites_its_own_partition(spark, tmp_path):
    """The exactly-once mechanism itself: re-running a batch under the
    same batch_id replaces its partition instead of double-counting —
    while a NAIVE additive merge of the same delivery visibly inflates
    counts (the reason pure merge is wrong for CM)."""
    from stock_market_etl_pipeline_spark.operators.sketches import (
        count_min_merge,
        count_min_rollup,
    )

    toks = _tok_table(spark).limit(500).cache()
    store = str(tmp_path / "cm")
    cm = count_min_rollup(toks, [], "token").withColumn("batch_id", F.lit(7))
    for _ in range(2):  # deliver, then replay the SAME batch
        (
            cm.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(store)
        )
    est = _cm_est(spark, store, toks)
    true_n = {
        r.token: r.n
        for r in toks.groupBy("token").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert all(est[t] >= n for t, n in true_n.items())
    total = sum(true_n.values())
    # replay did NOT double-count: estimates stay within the CM bound
    import math

    assert all(
        est[t] <= n + math.e / 1024 * total for t, n in true_n.items()
    )
    # the naive double-merge DOES double-count every heavy token
    doubled = count_min_merge(
        spark.read.parquet(store).drop("batch_id").unionByName(
            cm.drop("batch_id")
        ),
        [],
    )
    top = max(true_n, key=true_n.get)
    from stock_market_etl_pipeline_spark.operators.sketches import (
        count_min_estimate,
    )

    d_est = {
        r.token: r.est_n
        for r in count_min_estimate(
            doubled, toks.select("token").distinct(), "token"
        ).collect()
    }
    assert d_est[top] >= 2 * true_n[top]
    toks.unpersist()


def test_kll_rollup_survives_restart_storm(spark, tmp_path):
    """Seeded multi-crash schedule over a four-wave feed (the same storm
    the near-dedup maintainer passes): the KLL recompute-overwrite must
    CONVERGE under repeated checkpoint-commit loss and replay — after
    every crash schedule the stored per-(key, day) sketches read the same
    quantiles as a one-shot rebuild over all landed data. This is the
    exactly-once story for the NON-idempotent sketch family: merge-replay
    visibly corrupts KLL (test above), so correctness rests entirely on
    the touched-day partition recompute being an idempotent overwrite."""
    import random

    from stock_market_etl_pipeline_spark.streaming.sketch_rollup import (
        start_quantile_sketch_rollup,
    )

    rng = random.Random(0x511C)
    landing = str(tmp_path / "landing")
    sketches = str(tmp_path / "kll")
    ckpt = str(tmp_path / "ckpt")

    o = load_table(spark, SF_DIR, "orders").cache()
    qs = list(
        o.agg(
            *[
                F.percentile_approx("o_orderdate", q).alias(f"q{i}")
                for i, q in enumerate((0.25, 0.5, 0.75))
            ]
        ).collect()[0]
    )
    waves = [
        o.filter(F.col("o_orderdate") <= qs[0]),
        o.filter(
            (F.col("o_orderdate") > qs[0]) & (F.col("o_orderdate") <= qs[1])
        ),
        o.filter(
            (F.col("o_orderdate") > qs[1]) & (F.col("o_orderdate") <= qs[2])
        ),
        o.filter(F.col("o_orderdate") > qs[2]),
    ]

    def _run():
        q = start_quantile_sketch_rollup(
            spark, landing, sketches, ckpt, KEYS,
            "o_orderdate", "o_totalprice",
        )
        q.awaitTermination(120)

    n_crashes = 0
    for w in waves:
        assert w.count() > 0
        w.write.mode("append").parquet(landing)
        _run()
        for _ in range(rng.randint(0, 2)):
            n_crashes += 1
            crash_last_commit(ckpt)
            _run()
    assert n_crashes >= 3

    oneshot_dir = str(tmp_path / "kll_oneshot")
    q = start_quantile_sketch_rollup(
        spark, landing, oneshot_dir, str(tmp_path / "c2"), KEYS,
        "o_orderdate", "o_totalprice",
    )
    q.awaitTermination(120)
    assert _stored_p50s(spark, sketches) == _stored_p50s(spark, oneshot_dir)
    # exactly one sketch row per (key, day) — replays never duplicate
    dupes = (
        spark.read.parquet(sketches)
        .groupBy(*KEYS, "day").count().filter("count > 1").count()
    )
    assert dupes == 0
    o.unpersist()
