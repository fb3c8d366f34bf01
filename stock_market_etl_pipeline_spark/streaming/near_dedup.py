"""Continuous near-dedup of an arriving document stream: the streaming
composition of operators/dedup.py's incremental batch-vs-corpus path.

Per micro-batch:

1. compute the batch's MinHash band signatures (operators/dedup.py
   machinery — deterministic md5 hashing, same geometry as the batch
   queries);
2. probe the PERSISTED corpus band index with an equi-join on
   (band, band_sig) — the corpus never self-joins, so each batch costs
   |batch|·bands bucket probes regardless of corpus size;
3. emit match pairs with the SIGNATURE-estimated Jaccard (fraction of
   equal minhash components — the standard at-scale estimator; exact
   shingle verification would require re-reading corpus text, which is
   exactly what the index exists to avoid; est-vs-exact agreement on
   candidates is certified in tests);
4. append the batch's own signatures to the index.

Exactly-once comes from batch_id keying, not transactions: the index is
partitioned by batch_id and each batch dynamically overwrites ONLY its
own partition (a replayed batch rewrites identical rows), matches land
in matches_dir/batch_id=N the same way, and the probe reads the index
FILTERED to batch_id != current — so a crash between index-append and
checkpoint-commit replays into the identical end state instead of
matching the batch against its own half-written signatures.
tests/test_streaming_near_dedup.py proves batch parity and replay
idempotence.

The reference has no streaming or dedup surface (reference
``src/transform.py:199-204`` is a single-process keyed drop_duplicates);
this extends SURVEY §2.10 with the curation-pipeline composition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import _doc_shingles, minhash_banded, minhash_signatures
from .drive import (
    _read_store_if_exists,
    drain,
    overwrite_partitions,
    parquet_landing,
)

# MinHash geometry shared by the stored index and every probe: 3-word
# shingles, 16 hashes in 4 bands; a pair is a match at estimated
# Jaccard ≥ 0.5.
SHINGLE_K = 3
NUM_HASHES = 16
BANDS = 4
MATCH_THRESHOLD = 0.5

def batch_index_rows(batch: DataFrame) -> DataFrame:
    """(doc_id, band, band_sig, sig) for one batch: the band signatures
    used for probing plus the packed minhash vector used for similarity
    estimation — one row per (doc, band), KBs per thousand docs. The
    batch's shingle explode is localCheckpoint-materialized once and
    shared by the banding and the packed-signature branches (the
    dedup_jaccard_lsh_verified trade, measured winning at sf1)."""
    sh = _doc_shingles(batch, SHINGLE_K).localCheckpoint(eager=True)
    banded = minhash_banded(
        batch, k=SHINGLE_K, num_hashes=NUM_HASHES, bands=BANDS, shingles=sh
    )
    sig = (
        minhash_signatures(batch, k=SHINGLE_K, num_hashes=NUM_HASHES,
                           shingles=sh)
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("hash_idx", "minhash"))
                ),
                lambda s: s["minhash"],
            ).alias("sig")
        )
    )
    return banded.join(sig, "doc_id")


def estimated_jaccard(sig_a, sig_b, num_hashes: int):
    """Fraction of equal minhash components — an unbiased estimator of
    the true Jaccard (each component matches with probability J)."""
    eq = F.size(
        F.filter(
            F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
            lambda m: m == 1,
        )
    )
    return F.round(eq / F.lit(float(num_hashes)), 6)


def match_batch_against_index(
    batch_rows: DataFrame, index: DataFrame
) -> DataFrame:
    """(corpus_doc, new_doc, est_jaccard ≥ MATCH_THRESHOLD): probe the stored
    band index with the batch's bands; estimate similarity from the two
    stored signature vectors. Distinct-pair dedup BEFORE estimation so a
    pair agreeing in several bands is estimated once."""
    new = batch_rows.select(
        F.col("doc_id").alias("new_doc"), "band", "band_sig",
        F.col("sig").alias("sig_new"),
    )
    old = index.select(
        F.col("doc_id").alias("corpus_doc"), "band", "band_sig",
        F.col("sig").alias("sig_old"),
    )
    cand = (
        new.join(old, ["band", "band_sig"])
        .select("corpus_doc", "new_doc", "sig_old", "sig_new")
        .distinct()
    )
    est = estimated_jaccard(F.col("sig_old"), F.col("sig_new"), NUM_HASHES)
    return (
        cand.select(
            "corpus_doc", "new_doc", est.alias("est_jaccard")
        )
        .filter(F.col("est_jaccard") >= MATCH_THRESHOLD)
    )


def start_near_dedup_stream(
    spark: SparkSession,
    landing_dir: str,
    index_dir: str,
    matches_dir: str,
    checkpoint_dir: str,
):
    """Maintain the corpus MinHash band index incrementally and emit
    near-dup matches for every arriving batch (availableNow). Returns
    the started StreamingQuery."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # computed once: probed AND appended below
        rows = batch_index_rows(batch_df).localCheckpoint()
        stored = _read_store_if_exists(spark, index_dir)
        if stored is not None:
            # exclude this batch's own partition: on replay after a crash
            # between append and commit, the probe must not see the
            # half-written copy of itself
            corpus = stored.filter(F.col("batch_id") != batch_id)
            matches = match_batch_against_index(rows, corpus)
        else:
            matches = None
        if matches is not None:
            (
                matches.write.mode("overwrite")
                .parquet(f"{matches_dir}/batch_id={batch_id}")
            )
        overwrite_partitions(
            rows.withColumn("batch_id", F.lit(batch_id)), index_dir, "batch_id"
        )

    return drain(parquet_landing(spark, landing_dir), checkpoint_dir, process)
