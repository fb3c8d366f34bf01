"""Correctness certificates for the mergeable-sketch surface
(operators/sketches.py, registry_sketch.py).

The sketch queries are rows-only in the driver gate (approximate
algorithms differ across engines by design), so — per the repo's
`ann_ivf_full_probe` convention — their correctness evidence lives here:

1. merge-losslessness: the union of per-day HLL sketches yields the SAME
   estimate as one sketch over the whole table (incremental maintenance
   is exact w.r.t. a one-shot build);
2. bounded error vs the exact hash-green twin
   (`distinct_custkeys_by_priority`);
3. KLL merged quantiles honor the rank-error bound vs exact percentiles;
4. inclusion-exclusion overlap from sketches tracks the exact overlap.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from conftest import SF_DIR  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402

from stock_market_etl_pipeline_spark import registry  # noqa: E402
from stock_market_etl_pipeline_spark.operators.sketches import (  # noqa: E402
    hll_daily_rollup,
    hll_merged_distinct,
    theta_daily_rollup,
    theta_merged_per_group,
    theta_set_algebra,
)
from stock_market_etl_pipeline_spark.sources.tables import load_table  # noqa: E402

# 2^12 registers → relative standard error ~1.04/sqrt(4096) ≈ 1.6%; we
# assert within 5 RSE ≈ 8% (a >5-sigma bound — loose enough to never flake,
# tight enough to catch a wiring bug, which shows up as orders-of-magnitude
# error or zero).
REL_TOL = 0.08


def test_hll_merge_is_lossless(spark):
    """Union of per-day sketches == one-shot sketch, exactly."""
    o = load_table(spark, SF_DIR, "orders")
    rollup = hll_daily_rollup(
        o, ["o_orderpriority"], F.to_date("o_orderdate"), "o_custkey"
    )
    merged = {
        r["o_orderpriority"]: r["approx_distinct"]
        for r in hll_merged_distinct(rollup, ["o_orderpriority"]).collect()
    }
    oneshot = {
        r["o_orderpriority"]: r["est"]
        for r in o.groupBy("o_orderpriority")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("o_custkey", F.lit(12))
            ).alias("est")
        )
        .collect()
    }
    assert merged == oneshot  # bit-identical estimates, not just close


def test_hll_estimate_within_error_of_exact_twin(spark):
    exact = {
        r["priority"]: r["n_distinct_cust"]
        for r in registry.queries()["distinct_custkeys_by_priority"](
            spark, SF_DIR
        ).collect()
    }
    approx = {
        r["priority"]: r["approx_distinct_cust"]
        for r in registry.queries()["sketch_distinct_rollup_merge"](
            spark, SF_DIR
        ).collect()
    }
    assert set(exact) == set(approx)
    for p, n in exact.items():
        assert abs(approx[p] - n) <= max(1, REL_TOL * n), (p, approx[p], n)


def test_kll_merged_quantiles_within_rank_error(spark):
    """Merged-KLL p50/p95 land within the ±1.65% rank-error band of the
    exact distribution: value(p-eps) <= kll(p) <= value(p+eps)."""
    o = load_table(spark, SF_DIR, "orders")
    kll = {
        r["priority"]: (r["p50"], r["p95"])
        for r in registry.queries()["sketch_price_quantiles"](
            spark, SF_DIR
        ).collect()
    }
    eps = 0.0165 * 2  # rank error roughly composes under one merge level
    bands = {
        r["o_orderpriority"]: r["b"]
        for r in o.groupBy("o_orderpriority")
        .agg(
            F.percentile_approx(
                "o_totalprice",
                [max(0.0, q) for q in (0.5 - eps, 0.5 + eps, 0.95 - eps, min(1.0, 0.95 + eps))],
                10_000,
            ).alias("b")
        )
        .collect()
    }
    for p, (p50, p95) in kll.items():
        lo50, hi50, lo95, hi95 = bands[p]
        assert lo50 <= p50 <= hi50, (p, p50, lo50, hi50)
        assert lo95 <= p95 <= hi95, (p, p95, lo95, hi95)


def test_theta_merge_is_lossless(spark):
    """theta_union_agg over per-day sketches == one-shot sketch, per
    group — the property that makes the persisted level-1 theta table
    maintainable by pure merge (same algebra as HLL's register max:
    associative, commutative, idempotent)."""
    o = load_table(spark, SF_DIR, "orders")
    rollup = theta_daily_rollup(
        o, ["o_orderpriority"], F.to_date("o_orderdate"), "o_custkey"
    )
    merged = {
        r["o_orderpriority"]: r["est"]
        for r in theta_merged_per_group(rollup, ["o_orderpriority"])
        .select(
            "o_orderpriority",
            F.theta_sketch_estimate("theta").alias("est"),
        )
        .collect()
    }
    oneshot = {
        r["o_orderpriority"]: r["est"]
        for r in o.groupBy("o_orderpriority")
        .agg(
            F.theta_sketch_estimate(
                F.theta_sketch_agg("o_custkey", F.lit(12))
            ).alias("est")
        )
        .collect()
    }
    assert merged == oneshot


def test_theta_set_algebra_within_error_of_exact_twin(spark):
    """Every sketch-side set cardinality (|A|, |B|, |A∪B|, |A∩B|, |A∖B|,
    |B∖A|) lands within the RSE band of the exact hash-green twin — and
    the algebra stays internally CONSISTENT (A∩B + A∖B == A exactly, as
    identities on the same retained sample set)."""
    exact = registry.queries()["customer_priority_set_algebra"](
        spark, SF_DIR
    ).collect()[0]
    est = registry.queries()["theta_customer_set_algebra"](
        spark, SF_DIR
    ).collect()[0]
    pairs = [
        ("a_est", "a_cnt"),
        ("b_est", "b_cnt"),
        ("union_est", "union_cnt"),
        ("intersect_est", "intersect_cnt"),
        ("a_minus_b_est", "a_minus_b_cnt"),
        ("b_minus_a_est", "b_minus_a_cnt"),
    ]
    # intersection/difference error is bounded by the UNION's sample, so
    # scale every band by the union cardinality, not the (possibly tiny)
    # exact value itself
    band = max(2, 3 * REL_TOL * exact["union_cnt"])
    for e_col, x_col in pairs:
        assert abs(est[e_col] - exact[x_col]) <= band, (
            e_col, est[e_col], exact[x_col], band,
        )
    assert est["intersect_est"] + est["a_minus_b_est"] == est["a_est"]
    assert est["intersect_est"] + est["b_minus_a_est"] == est["b_est"]


def test_theta_rollup_survives_parquet_roundtrip(spark, tmp_path):
    """Persisted theta sketches must merge to the same set-algebra
    answers as live ones — the 100 TB path reads the level-1 table, not
    the facts."""
    o = load_table(spark, SF_DIR, "orders")
    rollup = theta_daily_rollup(
        o, ["o_orderpriority"], F.to_date("o_orderdate"), "o_custkey"
    )
    path = str(tmp_path / "theta_rollup")
    rollup.write.parquet(path)
    def algebra(r):
        merged = theta_merged_per_group(r, ["o_orderpriority"])
        return theta_set_algebra(
            merged, "o_orderpriority", "1-URGENT", "5-LOW"
        ).collect()[0]
    assert algebra(rollup) == algebra(spark.read.parquet(path))


def test_sketch_rollup_plan_is_two_level_partial_agg(spark):
    """The level-1 build must partial-aggregate map-side: the physical
    plan carries HashAggregate(partial) below the exchange, so at 100 TB
    the shuffle moves sketches, not raw customer keys."""
    df = registry.queries()["sketch_distinct_rollup_merge"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hll_union_agg" in plan or "hll_sketch_agg" in plan
    assert plan.count("Exchange") <= 3  # rollup + merge + final orderBy


def test_hll_rollup_survives_parquet_roundtrip(spark, tmp_path):
    """The 100 TB story requires the level-1 sketch table to be PERSISTED
    and merged later (possibly by a different job): binary sketches must
    round-trip through parquet and merge to the same estimates."""
    o = load_table(spark, SF_DIR, "orders")
    rollup = hll_daily_rollup(
        o, ["o_orderpriority"], F.to_date("o_orderdate"), "o_custkey"
    )
    path = str(tmp_path / "rollup")
    rollup.write.parquet(path)
    live = {
        r["o_orderpriority"]: r["approx_distinct"]
        for r in hll_merged_distinct(rollup, ["o_orderpriority"]).collect()
    }
    persisted = {
        r["o_orderpriority"]: r["approx_distinct"]
        for r in hll_merged_distinct(
            spark.read.parquet(path), ["o_orderpriority"]
        ).collect()
    }
    assert live == persisted


def test_hll_sliding_mau_within_error_of_exact_twin(spark):
    """Per-day sketch-merged MAU tracks the exact covered-day twin within
    the RSE band on EVERY day, and covers exactly the same day set (same
    coverage + max-day cut semantics)."""
    exact = {
        str(r["day"]): r["mau_30d"]
        for r in registry.queries()["rolling_active_users"](
            spark, SF_DIR
        ).collect()
    }
    approx = {
        str(r["day"]): r["mau_30d_est"]
        for r in registry.queries()["sketch_rolling_active_users"](
            spark, SF_DIR
        ).collect()
    }
    assert set(exact) == set(approx)
    for day, n in exact.items():
        assert abs(approx[day] - n) <= max(1, REL_TOL * n), (
            day, approx[day], n,
        )


# ---------------------------------------------------------------------------
# Count-min frequency sketch (relational encoding)
# ---------------------------------------------------------------------------


def _corpus_tokens(spark):
    from stock_market_etl_pipeline_spark.functions.text import ws_tokens
    from stock_market_etl_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    return docs.select(
        "source", F.explode(ws_tokens(F.col("text"))).alias("tok")
    ).select("source", F.lower("tok").alias("token"))


def test_count_min_never_underestimates_and_bounds_overestimate(spark):
    """The two CM guarantees, measured against the exact hash-green twin
    on every top-100 token: est >= true always (hard guarantee — any
    violation is a hashing bug), and est <= true + (e/width)·N (holds
    w.p. 1-e^-depth per key; deterministic here since data and seeds are
    fixed)."""
    import math

    from stock_market_etl_pipeline_spark.operators.sketches import (
        CM_WIDTH,
        count_min_estimate,
        count_min_merge,
        count_min_rollup,
    )

    toks = _corpus_tokens(spark).cache()
    n_total = toks.count()
    exact = {
        r.token: r.n
        for r in registry.queries()["token_frequencies"](spark, SF_DIR).collect()
    }
    sketch = count_min_merge(count_min_rollup(toks, ["source"], "token"), [])
    keys = spark.createDataFrame([(t,) for t in exact], "token string")
    est = {
        r.token: r.est_n
        for r in count_min_estimate(sketch, keys, "token").collect()
    }
    slack = math.e / CM_WIDTH * n_total
    assert set(est) == set(exact)
    for t, true_n in exact.items():
        assert est[t] >= true_n, f"CM underestimated {t!r}: {est[t]} < {true_n}"
        assert est[t] <= true_n + slack, (
            f"CM overestimate bound violated for {t!r}: "
            f"{est[t]} > {true_n} + {slack:.1f}"
        )
    toks.unpersist()


def test_count_min_merge_is_lossless(spark):
    """Sum-merging per-source sketches equals the sketch of the whole
    corpus ROW FOR ROW — the linearity property that lets fine-grained
    persisted sketches answer any coarser rollup exactly as well as a
    one-shot build."""
    from stock_market_etl_pipeline_spark.operators.sketches import (
        count_min_merge,
        count_min_rollup,
    )

    toks = _corpus_tokens(spark)
    merged = count_min_merge(count_min_rollup(toks, ["source"], "token"), [])
    direct = count_min_rollup(toks, [], "token")
    assert merged.exceptAll(direct).isEmpty()
    assert direct.exceptAll(merged).isEmpty()


def test_count_min_recovers_heavy_hitters(spark):
    """The exact top-10 tokens all surface in the sketch query's top-100
    — the heavy-hitter recovery the workflow exists for."""
    exact_top10 = [
        r.token
        for r in registry.queries()["token_frequencies"](spark, SF_DIR)
        .orderBy(F.col("n").desc(), "token")
        .limit(10)
        .collect()
    ]
    sketch_top = {
        r.token
        for r in registry.queries()["sketch_token_counts"](
            spark, SF_DIR
        ).collect()
    }
    assert set(exact_top10) <= sketch_top
