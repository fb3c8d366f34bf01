"""Mergeable-sketch rollups: the 100 TB pre-aggregation pattern.

At 100 TB you cannot rescan the fact table for every distinct-count or
quantile question. The DataSketches pattern (Agarwal et al., "Mergeable
Summaries", PODS 2012): build a small sketch per natural partition (per
day, per source, per file), PERSIST the sketches, and answer queries by
MERGING them — new data appends new sketches and re-merges; history is
never rescanned. Spark 4 ships Apache DataSketches aggregates natively
(``hll_sketch_agg``/``hll_union_agg`` for distinct counts,
``kll_sketch_*`` for quantiles, ``theta_sketch_*`` for set algebra), all
JVM-side, mergeable by construction, and a few KB per sketch regardless
of input size.

This module wires them into two-level rollups. Correctness certificates
(tests/test_sketches.py):

- **merge-losslessness**: the union of per-day HLL sketches produces the
  SAME estimate as one sketch over the whole table at the same lgK — the
  property that makes incremental maintenance exact w.r.t. a one-shot
  build (HLL union takes the register-wise max; grouping of the inputs
  cannot change the result).
- **bounded error**: HLL estimates sit within the published relative
  standard error of the exact COUNT DISTINCT twin
  (`distinct_custkeys_by_priority`, hash-green vs DuckDB); KLL merged
  quantiles honor the rank-error bound vs exact percentiles.

The reference has no sketch surface (its scale tops out at pandas in one
process — reference ``src/transform.py`` computes exact aggregates only);
this is the documented 100 TB extension of SURVEY.md §4 alongside
`approx_stats`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Default HLL precision: 2^12 registers ≈ 1.6% relative standard error,
#: 4 KB per sketch. Bump to 14-16 for sub-percent error at 64 KB.
DEFAULT_LGK = 12


def hll_daily_rollup(
    df: DataFrame,
    group_cols: list[str],
    day_col,
    value_col: str,
) -> DataFrame:
    """Level 1: one HLL sketch of ``value_col``'s distinct values per
    (group, day). This is the table you PERSIST: ~4 KB per (group, day)
    row, built with one shuffle on (group, day) — partial aggregation
    means each map task contributes a partial sketch, so the shuffle
    payload is sketches, not raw values."""
    return df.groupBy(*group_cols, day_col.alias("day")).agg(
        F.hll_sketch_agg(value_col, F.lit(DEFAULT_LGK)).alias("hll")
    )


def hll_merged_distinct(rollup: DataFrame, group_cols: list[str]) -> DataFrame:
    """Level 2: answer "distinct over any day range / whole history" by
    unioning the persisted sketches — never touching the fact table.
    ``hll_union_agg`` is register-wise max, associative and commutative:
    any grouping of the inputs yields the identical merged sketch."""
    return rollup.groupBy(*group_cols).agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll", F.lit(False))).alias(
            "approx_distinct"
        )
    )


def kll_daily_rollup(
    df: DataFrame,
    group_cols: list[str],
    day_col,
    value_col: str,
) -> DataFrame:
    """Per-(group, day) KLL quantile sketch of a double column. k=200 ⇒
    ~1.65% one-sided rank error at 99% confidence (KLL paper, Karnin et
    al., FOCS 2016), a few KB per sketch."""
    return df.groupBy(*group_cols, day_col.alias("day")).agg(
        F.kll_sketch_agg_double(value_col, F.lit(200)).alias("kll")
    )


def kll_merged_quantiles(
    rollup: DataFrame, group_cols: list[str], quantiles: list[float]
) -> DataFrame:
    """Merge per-day KLL sketches and read quantiles off the merged
    sketch. Rank error composes under merge (stays ~eps for same-k
    inputs), so the merged quantile carries the same guarantee as a
    one-shot sketch.

    Spark exposes KLL merge as a BINARY scalar (`kll_sketch_merge_double`),
    not a group aggregate — so the group merge is collect_list + a JVM
    higher-order reduce over the sketch array. Bounded state: one ~KB
    sketch per day per group (≤ a few thousand elements for years of
    history), and the reduce runs inside codegen, not Python."""
    merged = rollup.groupBy(*group_cols).agg(
        F.collect_list("kll").alias("sks")
    ).select(
        *group_cols,
        F.reduce(
            F.slice("sks", 2, F.greatest(F.size("sks") - 1, F.lit(0))),
            F.col("sks")[0],
            lambda acc, x: F.kll_sketch_merge_double(acc, x),
        ).alias("kll"),
    )
    cols = [
        F.kll_sketch_get_quantile_double("kll", F.lit(q)).alias(
            f"p{int(q * 100):02d}"
        )
        for q in quantiles
    ]
    return merged.select(*group_cols, *cols)


def theta_daily_rollup(
    df: DataFrame,
    group_cols: list[str],
    day_col,
    value_col: str,
) -> DataFrame:
    """Level 1 for SET-ALGEBRA questions: one theta sketch of
    ``value_col``'s distinct values per (group, day). Same persisted-
    rollup shape as `hll_daily_rollup`, but theta sketches keep hashed
    SAMPLES (not just registers), so the merged sketches support
    intersection and difference — the questions HLL's inclusion-exclusion
    can only approximate indirectly, with error compounding per estimate.
    lgk=12 ⇒ 4096 nominal entries/sketch (exact below that, ~1.6% RSE
    above), a few KB per row."""
    return df.groupBy(*group_cols, day_col.alias("day")).agg(
        F.theta_sketch_agg(value_col, F.lit(DEFAULT_LGK)).alias("theta")
    )


def theta_merged_per_group(
    rollup: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Level 2: one merged sketch per group from the persisted per-day
    sketches (`theta_union_agg` — associative/commutative/idempotent like
    HLL union, so incremental maintenance is pure merge)."""
    return rollup.groupBy(*group_cols).agg(
        F.theta_union_agg("theta", F.lit(DEFAULT_LGK)).alias("theta")
    )


def theta_set_algebra(merged: DataFrame, group_col: str, a, b) -> DataFrame:
    """Full set algebra between two groups' populations from their MERGED
    theta sketches alone: |A|, |B|, |A∪B|, |A∩B|, |A∖B|, |B∖A| — never
    touching the fact table. This is what theta buys over HLL: the
    intersection/difference come from the sketches' retained samples
    (``theta_intersection``/``theta_difference`` scalars), not from
    inclusion-exclusion arithmetic over three ±RSE estimates.

    The two one-row sketch frames are localCheckpoint'd before the fan-out
    into five estimates (same rescan hazard `hll_set_overlap` documents);
    everything downstream is one 1×1 crossJoin."""
    sa = (
        merged.filter(F.col(group_col) == a)
        .select(F.col("theta").alias("ta"))
        .localCheckpoint()
    )
    sb = (
        merged.filter(F.col(group_col) == b)
        .select(F.col("theta").alias("tb"))
        .localCheckpoint()
    )
    return sa.crossJoin(sb).select(
        F.theta_sketch_estimate("ta").alias("a_est"),
        F.theta_sketch_estimate("tb").alias("b_est"),
        F.theta_sketch_estimate(
            F.theta_union("ta", "tb", F.lit(DEFAULT_LGK))
        ).alias("union_est"),
        F.theta_sketch_estimate(
            F.theta_intersection("ta", "tb")
        ).alias("intersect_est"),
        F.theta_sketch_estimate(
            F.theta_difference("ta", "tb")
        ).alias("a_minus_b_est"),
        F.theta_sketch_estimate(
            F.theta_difference("tb", "ta")
        ).alias("b_minus_a_est"),
    )


def hll_set_overlap(left: DataFrame, right: DataFrame,
                    value_col: str) -> DataFrame:
    """Approximate set overlap between two populations from their sketches
    alone: |A∩B| ≈ est(A) + est(B) − est(A∪B) by inclusion-exclusion,
    where est(A∪B) merges the two already-built sketches. At 100 TB this
    answers audience-overlap / contamination-rate questions without a
    distinct-join — each side's sketch is built once (or read from the
    persisted rollup) and the answer is computed from three estimates.

    The two one-row sketch frames are localCheckpoint'd before fan-out:
    without it, lazy re-evaluation would rescan + re-sketch each input
    once for the union estimate and once for its own estimate — doubling
    the dominant cost at the scale this function targets. All three
    estimates then come from ONE 1×1 crossJoin of the materialized
    sketch rows, via the scalar ``hll_union``."""
    a = left.agg(
        F.hll_sketch_agg(value_col, F.lit(DEFAULT_LGK)).alias("sa")
    ).localCheckpoint()
    b = right.agg(
        F.hll_sketch_agg(value_col, F.lit(DEFAULT_LGK)).alias("sb")
    ).localCheckpoint()
    return (
        a.crossJoin(b)
        .select(
            F.hll_sketch_estimate("sa").alias("a_est"),
            F.hll_sketch_estimate("sb").alias("b_est"),
            F.hll_sketch_estimate(F.hll_union("sa", "sb")).alias("union_est"),
        )
        .select(
            "a_est",
            "b_est",
            "union_est",
            (F.col("a_est") + F.col("b_est") - F.col("union_est")).alias(
                "overlap_est"
            ),
        )
    )


def hll_sliding_distinct(rollup: DataFrame,
                         window_days: int = 30) -> DataFrame:
    """Sliding-window distinct from the PERSISTED daily sketch table: for
    every day, union the trailing ``window_days`` daily sketches and
    estimate — the mergeable answer to "30-day active users" that never
    rescans history and never explodes the fact table (contrast
    rolling_active_users' covered-day decomposition, which explodes the
    deduplicated user-day table 30×; here the 30× fan-out is over
    KB-sized sketch ROWS, one per day, regardless of user volume).

    Same coverage semantics as the exact query: a day's sketch covers the
    next ``window_days`` output days; output is cut at the last observed
    day (1-row broadcast max).
    """
    bounds = rollup.agg(F.max("day").alias("__max_day"))
    covered = (
        rollup.select(
            F.explode(
                F.sequence(
                    F.col("day"),
                    F.date_add(F.col("day"), window_days - 1),
                )
            ).alias("cover_day"),
            "hll",
        )
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("cover_day") <= F.col("__max_day"))
    )
    return covered.groupBy(F.col("cover_day").alias("day")).agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll", F.lit(False))).alias(
            "approx_distinct"
        )
    )


# ---------------------------------------------------------------------------
# Count-min sketch as a DataFrame-native table (heavy-hitter frequencies)
# ---------------------------------------------------------------------------

CM_DEPTH = 4
CM_WIDTH = 1024


def count_min_rollup(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Level 1 of the frequency-sketch family: a count-min sketch per
    group, stored as PLAIN ROWS ``(group..., seed, bucket, cnt)`` rather
    than an opaque binary — ≤ CM_DEPTH·CM_WIDTH rows per group regardless of
    how many values the group saw.

    Why rows, not a binary blob: Spark exposes ``count_min_sketch`` as
    an aggregate but no SQL function to QUERY or MERGE the blob, so the
    relational encoding IS the portable one — merging sketches is
    ``SUM(cnt) GROUP BY (seed, bucket)`` (exact, associative,
    commutative: counters are linear), estimation is a join + MIN, and
    both stay inside codegen. The counters are additive, so the
    streaming maintainer pattern is the HLL merge-based one
    (streaming/sketch_rollup.py), not KLL's recompute.

    Row i of the depth axis uses ``xxhash64(value, seed=i) mod CM_WIDTH``;
    per-row independence across seeds is what the min-estimate needs.
    One shuffle on (group, seed, bucket); partial aggregation compresses
    each map task's contribution to sketch size before the exchange.
    """
    seeds = F.array(*[F.lit(i) for i in range(CM_DEPTH)])
    e = df.select(
        *group_cols,
        F.explode(seeds).alias("seed"),
        F.col(value_col).alias("__v"),
    )
    bucket = F.pmod(F.xxhash64("__v", "seed"), F.lit(CM_WIDTH)).cast("int")
    return e.groupBy(
        *group_cols, "seed", bucket.alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))


def count_min_merge(rollup: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge per-subgroup sketches by dropping the extra grouping levels:
    counters add LOSSLESSLY (the merged table equals the sketch of the
    concatenated input — asserted in tests/test_sketches.py), the
    defining property that lets the 100 TB path persist fine-grained
    sketches and answer any coarser rollup without rescanning."""
    return rollup.groupBy(*group_cols, "seed", "bucket").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )


def count_min_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
) -> DataFrame:
    """Point-frequency estimates for ``keys`` from a (merged, ungrouped)
    sketch: hash each key with every seed, look up the CM_DEPTH counters,
    take the MIN (missing bucket ⇒ 0). Guarantees (Cormode–Muthukrishnan):
    never an underestimate; overestimate ≤ (e/CM_WIDTH)·N with probability
    ≥ 1 − e^(−CM_DEPTH) per key. The sketch side is ≤ CM_DEPTH·CM_WIDTH
    rows — broadcast to the keys, so estimation never shuffles the key
    set."""
    seeds = F.array(*[F.lit(i) for i in range(CM_DEPTH)])
    probes = keys.select(
        F.col(key_col),
        F.explode(seeds).alias("seed"),
    ).withColumn(
        "bucket",
        F.pmod(F.xxhash64(key_col, "seed"), F.lit(CM_WIDTH)).cast("int"),
    )
    joined = probes.join(F.broadcast(sketch), ["seed", "bucket"], "left")
    return joined.groupBy(key_col).agg(
        F.min(F.coalesce("cnt", F.lit(0))).cast("long").alias("est_n")
    )
