"""Incremental SemDeDup: continuous semantic dedup of an arriving
embedding stream against a persisted survivor corpus.

The batch operator (operators/similarity.semantic_dedup) is one-shot —
it re-clusters and re-pairs the whole corpus. The corpus-ingest reality
is a STREAM of new vectors against an ever-growing survivor set; this
maintainer mirrors ``dedup_incremental_near``'s persisted-index pattern
(operators/dedup.py:515, streaming/near_dedup.py) with the k-means
cluster id playing the band-signature role:

1. centroids are trained ONCE, on the first batch (seeded KMeans via
   ivf_assignments), and persisted in their own TxTable — later batches
   ASSIGN to the frozen centroids (broadcast k-row table, argmin
   squared distance, JVM higher-order arithmetic). Frozen geometry is
   what makes "compare only within the assigned cluster" stable across
   batches; when the corpus outgrows it, the offline :func:`recluster`
   refresh re-trains on a bounded survivor sample and atomically swaps
   BOTH the centroid table and the survivors' cluster labels
   (replay-idempotent two-commit protocol — see its docstring).
2. the survivor set lives in a TxTable (operators/txtable.py) keyed by
   vec_id — one row per kept vector, and under the min-id survivorship
   rule the invariant ``vec_id == group_id`` holds for every survivor.
3. per batch: candidate pairs are (batch × survivors) and
   (batch × batch), both WITHIN a cluster only (the SemDeDup cap
   contract — never all-pairs); cosine ≥ threshold edges feed the same
   bounded min-label propagation as the batch operator; each resulting
   component keeps its SMALLEST id (so a later batch can demote an
   existing survivor whose twin has a smaller id).
4. the survivor update lands as ONE atomic TxTable MERGE with
   txn_id = "semdedup-<batch_id>": new/confirmed keepers upsert, and
   demoted survivors ride the same commit as tombstone rows
   (``v IS NULL`` + ``delete_where``) — the Delta conditional-delete
   shape. Exactly-once at BOTH seams, including the decision log:
   the batch checks ``txn_committed`` FIRST and skips entirely when
   the merge already landed (a post-merge replay would otherwise
   recompute decisions against the post-merge survivor set and log
   choices that were never applied — ADVICE r7); the decision log is
   written BEFORE the merge, so every pre-merge crash point replays
   against the unchanged survivor table and overwrites the partition
   with byte-identical decisions.

Semantics vs the one-shot operator: duplicate edges through PREVIOUSLY
DROPPED members are invisible here (only survivors are stored), so a
chain a~b~c split across batches where cos(a,c) < threshold can keep
both a and c while the one-shot run keeps only a. That is the same
bounded recall loss SemDeDup itself accepts for cross-cluster pairs;
for pairwise duplicate structure (the planted-twin certificate) the
stream equals ``semantic_dedup(union, survivor='min_id')`` exactly —
proven in tests/test_streaming_semdedup.py, storm-replay included.

100 TB story: per batch the work is |batch| · (cluster slice) — the
corpus never self-joins; survivor reads prune to the batch's touched
clusters; the MERGE's copy-on-write rewrites only files containing a
demoted key (manifest file pruning); centroid training is the one
driver-bounded step, on the first batch only (same bound as
pq_codebooks' sample). Reference: no streaming/dedup surface (single
process pandas ``src/transform.py:199-204``); extension per SURVEY
§2.10/§2.12.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import _spread, bucket_pairs
from ..operators.graph import connected_components
from ..operators.similarity import (
    _to_double,
    cosine,
    ivf_assignments,
)
from ..operators.txtable import TxTable
from .drive import drain, parquet_landing

_SURVIVOR_SCHEMA = "vec_id bigint, cluster int, v array<double>"
# the first batch's k-means k and the cosine at which two vectors are
# duplicates
N_CLUSTERS = 8
THRESHOLD = 0.95


def _train_centroids_df(
    vectors: DataFrame, n_clusters: int, seed: int
) -> DataFrame:
    """Seeded KMeans (the batch ANN/semdedup machinery) → k-row
    (cluster, centroid) DataFrame. ``vectors`` needs (vec_id,
    embedding)."""
    spark = vectors.sparkSession
    _, model = ivf_assignments(vectors, n_clusters, seed)
    rows = [
        (int(i), [float(x) for x in c])
        for i, c in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(
        rows, "cluster int, centroid array<double>"
    ).coalesce(1)


def train_and_store_centroids(
    batch: DataFrame, centroids_dir: str, n_clusters: int, seed: int
) -> None:
    """First-batch centroid training, committed to the centroid TxTable
    (one atomic k-row overwrite): a crash mid-stage leaves no manifest
    and replay retrains; once snapshot 0 exists the geometry is frozen
    until :func:`recluster` swaps it."""
    TxTable(centroids_dir).overwrite(
        _train_centroids_df(batch, n_clusters, seed),
        txn_id="centroids-init",
    )


def recluster(
    spark: SparkSession,
    survivors_dir: str,
    centroids_dir: str,
    n_clusters: int | None = None,
) -> int | None:
    """Offline centroid refresh (VERDICT r7 #7): first-batch geometry
    drifts as the corpus grows — clusters inflate past the pair cap or
    stop separating new content. Re-train on a BOUNDED hash-ordered
    survivor sample (≤ 100,000 vectors, the pq_codebooks driver-bound
    contract), re-assign every survivor in one batch, and swap both
    tables atomically via TxTable commits:

    1. new centroids land as one overwrite commit on the centroid
       TxTable (txn-marked);
    2. survivors are re-assigned against the COMMITTED centroids (read
       back from the table, not the in-memory model) and land as one
       overwrite commit on the survivor TxTable (same txn tag).

    Crash between the commits: rerunning recluster recomputes the same
    txn tag ``recluster-src<n>`` (derived from the survivor snapshot n it
    read — which step 2 had not yet advanced), so the centroid commit
    replays as a txn no-op and step 2 completes against the
    already-committed geometry — the two-table swap is replay-idempotent
    without a cross-table transaction (the BM25-maintainer pattern). Run
    with the stream QUIESCED (between availableNow runs), like OPTIMIZE.

    Survivorship is untouched by design: the survivor SET (vec_ids and
    vectors) is byte-identical before and after — only cluster labels
    move — so keep/drop decisions stay min-id-stable across the refresh
    boundary (asserted in tests/test_streaming_semdedup.py). Returns
    the new survivor snapshot id, or None when the survivor table is
    empty (nothing to recluster — the stream's first batch trains as
    usual)."""
    table = TxTable(survivors_dir)
    ctable = TxTable(centroids_dir)
    src_snap = table.latest_snapshot()
    if src_snap is None:
        return None
    tag = f"recluster-src{src_snap}"
    survivors = table.read(spark)
    if n_clusters is None:
        n_clusters = ctable.read(spark).count()
    sample = (
        survivors.orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(100_000)
        .select("vec_id", F.col("v").alias("embedding"))
    )
    ctable.overwrite(
        _train_centroids_df(sample, int(n_clusters), 43), txn_id=tag
    )
    centroids = ctable.read(spark).select("cluster", "centroid")
    reassigned = assign_to_centroids(
        survivors.select("vec_id", F.col("v").alias("embedding")), centroids
    ).select("vec_id", "cluster", "v")
    return table.overwrite(reassigned, txn_id=tag)


def assign_to_centroids(batch: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, cluster, v): nearest frozen centroid by squared
    Euclidean distance (argmin via min(struct(dist, cluster)) — the
    native-aggregate argmax identity from NOTES r5; smallest cluster id
    breaks exact ties deterministically). Centroids broadcast; distance
    is JVM zip_with/aggregate — no Python on the data path."""
    d2 = F.aggregate(
        F.zip_with("v", "centroid", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        _spread(batch)
        .select("vec_id", _to_double(F.col("embedding")).alias("v"))
        .crossJoin(F.broadcast(centroids))
        .groupBy("vec_id")
        .agg(
            F.min(F.struct(d2.alias("d"), F.col("cluster"))).alias("__best"),
            F.first("v").alias("v"),
        )
        .select("vec_id", F.col("__best.cluster").alias("cluster"), "v")
    )


def resolve_batch(
    assigned: DataFrame,
    survivors: DataFrame | None,
    threshold: float,
    max_cluster: int,
) -> DataFrame:
    """Keep/drop decisions for one assigned batch against the survivor
    corpus: (vec_id, cluster, group_id, keep_id, is_kept, was_survivor).

    Rows with was_survivor=True are EXISTING survivors pulled into a
    component (their is_kept=False rows are the demotions the caller
    must tombstone). Batch vectors absent from every edge keep
    themselves. Under min-id survivorship every survivor row satisfies
    vec_id == group_id, so a component's final group/keep id is simply
    the min over its member ids."""
    batch_nodes = assigned.select("vec_id", "cluster", "v").localCheckpoint(
        eager=True
    )
    # within-batch candidates: the batch operator's grouped pair pass,
    # capped per cluster (cap-to-widen contract)
    cand_bb = bucket_pairs(
        batch_nodes.select("cluster", "vec_id"), ["cluster"],
        id_col="vec_id", out=("id_a", "id_b"), max_bucket=max_cluster,
    )
    va = batch_nodes.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    vb = batch_nodes.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    edges = (
        cand_bb.join(va, "id_a").join(vb, "id_b")
        .filter(F.round(cosine(F.col("va"), F.col("vb")), 6) >= threshold)
        .select("id_a", "id_b")
    )
    surv_nodes = None
    if survivors is not None:
        touched = batch_nodes.select("cluster").distinct()
        surv_nodes = (
            survivors.join(F.broadcast(touched), "cluster")
            .select("vec_id", "cluster", "v")
            .localCheckpoint(eager=True)
        )
        sv = surv_nodes.select(
            F.col("vec_id").alias("id_b"), F.col("cluster").alias("__c"),
            F.col("v").alias("vb"),
        )
        cross = (
            batch_nodes.join(sv, batch_nodes.cluster == sv.__c)
            .filter(
                F.round(cosine(F.col("v"), F.col("vb")), 6) >= threshold
            )
            .select(F.col("vec_id").alias("id_a"), "id_b")
        )
        edges = edges.unionByName(cross)
    comp = connected_components(edges, src="id_a", dst="id_b")
    all_nodes = batch_nodes.select(
        "vec_id", "cluster", F.lit(False).alias("was_survivor")
    )
    if surv_nodes is not None:
        all_nodes = all_nodes.unionByName(
            surv_nodes.select(
                "vec_id", "cluster", F.lit(True).alias("was_survivor")
            )
        )
    labeled = all_nodes.join(
        comp.select(F.col("node").alias("vec_id"), "cluster_id"),
        "vec_id",
        "left",
    ).select(
        "vec_id", "cluster", "was_survivor",
        F.coalesce("cluster_id", F.col("vec_id")).alias("group_id"),
    )
    # min-id survivorship: the component label IS the min node id, so
    # group_id == keep_id — no second aggregate needed
    return labeled.select(
        "vec_id", "cluster", "was_survivor", "group_id",
        F.col("group_id").alias("keep_id"),
        (F.col("group_id") == F.col("vec_id")).alias("is_kept"),
    ).filter(
        # survivors only appear in the output when something changed
        # for them (demotion); their steady-state rows stay implicit
        ~F.col("was_survivor") | ~F.col("is_kept")
    )


def start_semantic_dedup_stream(
    spark: SparkSession,
    landing_dir: str,
    survivors_dir: str,
    centroids_dir: str,
    decisions_dir: str,
    checkpoint_dir: str,
):
    """availableNow stream: maintain the survivor TxTable + frozen
    centroids (:data:`N_CLUSTERS` of them), emit per-batch keep/drop
    decisions at cosine ≥ :data:`THRESHOLD`. Returns the started
    StreamingQuery."""
    table = TxTable(survivors_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # Replay guard BEFORE any recompute (ADVICE r7): if this batch's
        # merge already committed (crash landed between merge-commit and
        # stream-checkpoint-commit), the survivor table has ALREADY
        # moved — recomputing decisions now would log keep/drop choices
        # that were never applied (e.g. a vector whose only duplicate
        # edge ran through a now-demoted survivor logged is_kept=True).
        # The decision log is written BEFORE the merge below, so a
        # committed txn marker implies the log partition is complete —
        # skip the whole batch.
        txn_id = f"semdedup-{batch_id}"
        if table.txn_committed(txn_id):
            return
        ctable = TxTable(centroids_dir)
        if ctable.latest_snapshot() is None:
            train_and_store_centroids(
                batch_df, centroids_dir, N_CLUSTERS, seed=42
            )
        centroids = ctable.read(spark).select("cluster", "centroid")
        assigned = assign_to_centroids(batch_df, centroids)
        survivors = (
            table.read(spark) if table.latest_snapshot() is not None else None
        )
        decisions = resolve_batch(
            assigned, survivors, THRESHOLD, max_cluster=4096
        ).localCheckpoint(eager=True)  # consumed by merge AND the log
        # Log first, merge second: every pre-merge crash point replays
        # against the UNCHANGED survivor table and deterministically
        # recomputes byte-identical decisions (idempotent overwrite);
        # every post-merge crash point is caught by the txn guard above.
        (
            decisions.filter(~F.col("was_survivor"))
            .select("vec_id", "cluster", "group_id", "keep_id", "is_kept")
            .write.mode("overwrite")
            .parquet(f"{decisions_dir}/batch_id={batch_id}")
        )
        keepers = (
            decisions.filter(F.col("is_kept") & ~F.col("was_survivor"))
            .join(assigned.select("vec_id", "v"), "vec_id")
            .select("vec_id", "cluster", "v")
        )
        demoted = decisions.filter(
            F.col("was_survivor") & ~F.col("is_kept")
        ).select(
            "vec_id", "cluster",
            F.lit(None).cast("array<double>").alias("v"),  # tombstone
        )
        updates = keepers.unionByName(demoted)
        if not updates.isEmpty():
            table.merge(
                spark, updates, ["vec_id"],
                txn_id=txn_id,
                delete_where=F.col("v").isNull(),
            )

    return drain(parquet_landing(spark, landing_dir), checkpoint_dir, process)
