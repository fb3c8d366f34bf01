"""Weighted sampling operators for corpus curation.

Priority sampling (Duffield, Lund, Thorup — "Priority sampling for
estimation of arbitrary subset sums", JACM 54(6), 2007): a deterministic
weighted sample-without-replacement of k items with an unbiased
subset-sum estimator.  For each item draw u_i ~ U(0,1], give it priority
q_i = w_i / u_i, keep the k highest priorities, and let τ be the
(k+1)-th priority; then Σ over the sample of max(w_i, τ) is an unbiased
estimate of Σ w_i over the population (certified statistically in
tests/test_llm_ops3.py).

Engine-portability (NOTES rules 3/11): u_i derives from the shared
md5_hash60 primitive — (h+1)/2^60 where the int→double conversion is
correctly rounded identically in Spark and DuckDB and the divisor is an
exact power of two — and the priority w/u is ONE double division of
bit-identical inputs, so priorities are bit-identical across engines and
emitted raw.

Scale: the only full-data work is one scan + a distributed top-(k+1)
(TakeOrderedAndProject — per-partition heaps of k+1 rows, driver merges
k+1 rows, no global sort).  τ, the sample, and the estimator all derive
from that (k+1)-row frame, localCheckpoint-materialized so the corpus is
scanned ONCE.

The reference has no sampling operator (its pipeline is full-table,
``src/transform.py``); this is part of the training-data-curation
extension surface (brief: quality-weighted corpus sampling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import md5_hash60

_TWO_60 = float(1 << 60)


def priority_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    salt: str = "prio",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Deterministic k-item priority sample with the max(w, τ) estimator.

    Returns (doc_id, *keep_cols, weight, priority, est_weight) for the k
    highest-priority rows; Σ est_weight is an unbiased estimate of the
    population's Σ weight.  Assumes the population has > k rows (true at
    every verify scale; with ≤ k rows the τ row would not exist and the
    estimator degenerates — callers own that check).

    Weights must be positive integers < 2^53 (exact as doubles).
    """
    u = (md5_hash60(F.concat_ws("|", F.lit(salt), F.col("doc_id")))
         + F.lit(1)).cast("double") / F.lit(_TWO_60)
    scored = df.select(
        "doc_id",
        *keep_cols,
        F.col(weight_col).cast("long").alias("weight"),
        (F.col(weight_col).cast("double") / u).alias("priority"),
    )
    # distributed top-(k+1): TakeOrderedAndProject, then every later step
    # runs over ≤ k+1 checkpointed rows (corpus scanned once).
    top = scored.orderBy(
        F.col("priority").desc(), F.col("doc_id")
    ).limit(k + 1).localCheckpoint(eager=True)
    tau = top.agg(F.min("priority").alias("tau"))
    sample = top.orderBy(F.col("priority").desc(), F.col("doc_id")).limit(k)
    return sample.crossJoin(F.broadcast(tau)).select(
        "doc_id",
        *keep_cols,
        "weight",
        "priority",
        F.greatest(F.col("weight").cast("double"), F.col("tau")).alias(
            "est_weight"
        ),
    )
