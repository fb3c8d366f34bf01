"""Similarity search over embedding columns (array<float>).

Two paths:

- brute-force cosine top-k: exact baseline. Queries are a small set →
  broadcast; the corpus streams through executors, dot products computed
  JVM-side with higher-order functions (no Python in the hot path).
- bit-sampling LSH (sign of md5-selected dimension differences): candidate
  buckets shrink the scan; portable hashing so it stays oracle-checkable.

Float policy: dot products are left-fold sums over ≤ a-few-hundred dims —
scores are rounded to 6dp and ranked by (rounded score, vec_id) so Spark
and the DuckDB oracle order identically (see oracles.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _spread


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in double (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 10,
) -> DataFrame:
    """Exact top-k neighbors per query vector (brute force baseline).

    (query_id, neighbor_id, score, rank). Query side is tiny → broadcast
    nested-loop; at 100 TB the corpus scan is embarrassingly parallel and
    the per-query top-k is a TakeOrdered inside one window partition.
    """
    # Norms are precomputed per ROW on each side before the pair join:
    # cosine(qv, v) inline would re-fold l2_norm(v) once per (query, row)
    # pair — k× redundant work on the corpus side — and the optimizer
    # cannot share it across join output rows (guide §1.2 step 2). Same
    # fold order and operand order (norm_q * norm_v) as cosine(), so the
    # doubles are bit-identical. The query side is built from the RAW
    # input (not the spread corpus): its rows are broadcast anyway, so
    # fanning them through the round-robin exchange first was a useless
    # shuffle stage in the broadcast-build branch.
    emb = _spread(embeddings).select(
        F.col("vec_id"), _to_double(F.col("embedding")).alias("v")
    )
    emb = emb.select("vec_id", "v", l2_norm(F.col("v")).alias("__nv"))
    # Deterministic fallback (r13, ADVICE r12): a bare limit(10) is
    # order-nondeterministic, so the default query set could silently
    # change across plan changes. No registry caller uses the fallback
    # (all pass explicit query_ids), but the operator contract should
    # not depend on scan order.
    q = (
        embeddings.filter(F.col("vec_id").isin(query_ids))
        if query_ids
        else embeddings.orderBy("vec_id").limit(10)
    )
    q = q.select(
        F.col("vec_id").alias("query_id"),
        _to_double(F.col("embedding")).alias("qv"),
    )
    q = q.select("query_id", "qv", l2_norm(F.col("qv")).alias("__nq"))
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot(F.col("qv"), F.col("v"))
                / (F.col("__nq") * F.col("__nv")),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def embedding_near_pairs(
    embeddings: DataFrame, threshold: float = 0.95
) -> DataFrame:
    """All vector pairs with cosine ≥ threshold (embedding-space near-dup).

    All-pairs here (the exact baseline / oracle surface); the banded LSH
    candidate path below is the scale route.
    """
    # per-row norm precompute, as in cosine_topk: inline cosine() would
    # re-fold each row's norm once per PAIR (n× redundant); same operand
    # order (norm_a * norm_b) keeps the doubles bit-identical.
    emb = _spread(embeddings).select(
        F.col("vec_id"), _to_double(F.col("embedding")).alias("v")
    )
    emb = emb.select("vec_id", "v", l2_norm(F.col("v")).alias("__n"))
    a = emb.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"),
        F.col("__n").alias("__na"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"),
        F.col("__n").alias("__nb"),
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb"))
                / (F.col("__na") * F.col("__nb")),
                6,
            ).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def perturbation_constants(dim: int) -> list[float]:
    """Deterministic per-dimension additive noise for planting near-dups.

    A fixed rational pattern (no RNG, no libm) so the Spark expression and
    the generated DuckDB oracle SQL add the SAME double constants — keeps
    the planted corpus bit-identical across engines. For UNIT-NORM 64-dim
    vectors (the testdata embeddings) the 0.05 scale puts the planted
    twin at cosine ≈ 0.97 from its original — a realistic near-dup, not a
    trivially-identical copy (measured 0.9669–0.9751 at sf0.001).
    """
    return [0.05 * (((j * 37) % 11) - 5) / 5.0 for j in range(dim)]


def plant_near_duplicates(
    embeddings: DataFrame,
    n: int = 100,
    id_offset: int = 1_000_000,
    dim: int | None = None,
) -> DataFrame:
    """Corpus ∪ perturbed twins of the first ``n`` vectors.

    The recall harness for near-dup search: every planted twin is a known
    ground-truth near-pair (original_id, original_id + id_offset), so
    recall of any candidate scheme can be measured as the fraction of
    planted pairs it recovers. Derived data only — vec_id arithmetic plus
    :func:`perturbation_constants` — so it stays oracle-expressible.
    """
    if dim is None:
        dim = len(embeddings.select("embedding").first()["embedding"])
    pert = F.array(*[F.lit(c) for c in perturbation_constants(dim)])
    base = embeddings.select(
        "vec_id", _to_double(F.col("embedding")).alias("embedding")
    )
    twins = base.filter(F.col("vec_id") < n).select(
        (F.col("vec_id") + id_offset).alias("vec_id"),
        F.zip_with(F.col("embedding"), pert, lambda x, c: x + c).alias(
            "embedding"
        ),
    )
    return base.unionByName(twins)


def random_projection_buckets(
    embeddings: DataFrame, n_planes: int = 8, dim: int | None = None,
) -> DataFrame:
    """Sign-random-projection LSH bucket per vector (the ANN scale path).

    Hyperplanes are pseudo-random ±1 vectors derived from md5(42,plane,dim)
    parity — fully deterministic and engine-portable. Bucket = n_planes sign
    bits packed into an int. Vectors in the same bucket are ANN candidates;
    search cost drops from O(n) per query to O(bucket).

    Pass ``dim`` explicitly at scale; the ``.first()`` sniff is a
    small-data convenience only.
    """
    if dim is None:
        dim = len(embeddings.select("embedding").first()["embedding"])
    emb = embeddings.select(
        F.col("vec_id"), _to_double(F.col("embedding")).alias("v")
    )
    # The plane matrix enters as ONE parsed-and-constant-folded literal
    # (r12): the per-plane formulation built n_planes separate 64-literal
    # arrays + zip_with/aggregate lambda trees through py4j — thousands
    # of expression nodes whose ANALYSIS dominated the query (measured on
    # the banded variant: 19.6 s build + ~9 s/run compile → 1.3 s / 0.9 s
    # with this shape, identical buckets). The fold order per plane is
    # unchanged (index order, zip_with → aggregate), so buckets are
    # bit-identical.
    P = _planes_literal(42, 0, n_planes, dim)
    bits = F.expr(
        "array(" + ",".join(str(1 << p) for p in range(n_planes)) + ")"
    )
    bucket = F.aggregate(
        F.sequence(F.lit(0), F.lit(n_planes - 1)),
        F.lit(0),
        lambda acc, p: acc
        + F.when(
            F.aggregate(
                F.zip_with(F.col("v"), P[p], lambda x, s: x * s),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            > 0,
            bits[p],
        ).otherwise(F.lit(0)),
    )
    return emb.select("vec_id", bucket.cast("int").alias("bucket"))


def recommended_planes_per_band(n_vectors: int) -> int:
    """Executable form of the geometry advice in
    :func:`embedding_near_pairs_lsh`'s docstring: the smallest
    planes-per-band whose 2^planes buckets hold ≤ 8 vectors on average,
    clamped to [4, 16]. Integer arithmetic only —
    no log2 — so callers that must mirror the choice in an oracle can
    reproduce it exactly (cf. ADVICE r3 on cross-engine log2 ulps).

    Sizing, not semantics: rerunning with a different plane count changes
    which candidates are found (recall), so fix the count per corpus
    generation, don't auto-resize between incremental batches.
    """
    p = 4
    while p < 16 and (n_vectors >> p) > 8:
        p += 1
    return p


def _md5_parity(seed: int, plane: int, dim: int) -> bool:
    import hashlib

    h = hashlib.md5(f"{seed}|{plane}|{dim}".encode()).hexdigest()
    return int(h[0], 16) % 2 == 0


def _planes_literal(seed: int, first_plane: int, n_planes: int, dim: int):
    """The ±1 plane matrix as ONE constant expression.

    Rendered as a SQL ``array(array(...))`` string and parsed JVM-side in
    a single call, then constant-folded to a literal by the optimizer —
    instead of building thousands of literal nodes through py4j (guide
    §7.3 "very large plans": the expression-tree size, not the data, was
    the cost)."""
    return F.expr(
        "array(" + ",".join(
            "array(" + ",".join(
                "1.0" if s > 0 else "-1.0"
                for s in plane_signs(seed, first_plane + p, dim)
            ) + ")"
            for p in range(n_planes)
        ) + ")"
    )


def plane_signs(seed: int, plane: int, dim: int) -> list[float]:
    """The ±1 hyperplane components for one plane — shared by the Spark
    expression and the generated DuckDB oracle SQL (bit-identical planes)."""
    return [1.0 if _md5_parity(seed, plane, i) else -1.0 for i in range(dim)]


def banded_projection_buckets(
    embeddings: DataFrame,
    n_bands: int = 8,
    planes_per_band: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """(vec_id, band, bucket): one sign-LSH bucket per vector per band.

    OR-amplified LSH for pair search: each band hashes the vector with its
    own ``planes_per_band`` hyperplanes; a pair is a candidate if it agrees
    in ANY band. Recall for a pair at angle θ is 1-(1-(1-θ/π)^r)^L — more
    bands raise recall, more planes per band sharpen selectivity.
    """
    if dim is None:
        dim = len(embeddings.select("embedding").first()["embedding"])
    emb = _spread(embeddings).select(
        F.col("vec_id"), _to_double(F.col("embedding")).alias("v")
    )
    # One constant plane matrix + nested higher-order folds (r12): the
    # per-(band, plane) formulation created n_bands·planes_per_band
    # separate sign arrays and lambda trees via py4j — measured 19.6 s of
    # plan ANALYSIS plus ~9 s/run of codegen on the registered 16×4
    # geometry, against 1.3 s / 0.9 s for this shape with bit-identical
    # (vec_id, band, bucket) rows (guide §7.3: plan size was the cost,
    # not the data). Fold order per plane is unchanged.
    P = _planes_literal(seed, 0, n_bands * planes_per_band, dim)
    bits = F.expr(
        "array("
        + ",".join(str(1 << p) for p in range(planes_per_band))
        + ")"
    )
    r = planes_per_band
    bands_expr = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            F.aggregate(
                F.sequence(F.lit(0), F.lit(r - 1)),
                F.lit(0),
                lambda acc, j: acc
                + F.when(
                    F.aggregate(
                        F.zip_with(
                            F.col("v"), P[b * r + j], lambda x, s: x * s
                        ),
                        F.lit(0.0),
                        lambda a, x: a + x,
                    )
                    > 0,
                    bits[j],
                ).otherwise(F.lit(0)),
            ).cast("int").alias("bucket"),
        ),
    )
    return emb.select(
        "vec_id", F.explode(bands_expr).alias("bb")
    ).select("vec_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def embedding_near_pairs_lsh(
    embeddings: DataFrame,
    threshold: float = 0.45,
    n_bands: int = 8,
    planes_per_band: int = 4,
    seed: int = 42,
    dim: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-pairs at scale: banded sign-LSH candidates + exact cosine verify.

    The scale-safe counterpart of :func:`embedding_near_pairs` — the join
    key is (band, bucket), so the plan is a hash/sort-merge join over LSH
    buckets (cost Σ bucket², never the all-pairs broadcast-nested-loop).
    Every candidate is verified with the exact cosine, so precision is 1.0
    vs the brute-force truth and recall follows the banding formula (tested
    in tests/test_llm_ops.py). Deterministic md5-parity hyperplanes keep the
    whole operator oracle-checkable bit-for-bit in DuckDB.

    Scale dial: ``planes_per_band`` sets the bucket count per band
    (2^planes). The registered defaults (4 planes → 16 buckets) are tuned
    for the low 0.45 threshold on cluster-free gaussian testdata; at
    production near-dup thresholds (cosine ≥ 0.9) use 8–16 planes per band
    (256–65k buckets per band) — collision probability per plane rises
    with similarity, so selective bands keep both recall AND Σ bucket²
    sub-quadratic on a corpus with real duplicate structure.

    ``max_bucket`` is the hard cost bound when the geometry is outgrown:
    pair expansion skips buckets above it (dedup.bucket_pairs), so a
    10×-bigger corpus on unchanged planes degrades recall visibly instead
    of going quadratic silently (round-4 sf1 sweep measured ×43 wall
    uncapped). Size it so it never trips at the scale the geometry was
    tuned for.
    """
    from .dedup import bucket_pairs

    bb = banded_projection_buckets(
        embeddings, n_bands=n_bands, planes_per_band=planes_per_band,
        seed=seed, dim=dim,
    )
    # one grouped pass over the (band, bucket) table — the projection
    # subtree (32 hyperplane dot products per vector) is computed once,
    # not once per self-join side (see dedup.bucket_pairs)
    cand = bucket_pairs(
        bb, ["band", "bucket"], id_col="vec_id", out=("id_a", "id_b"),
        max_bucket=max_bucket,
    )
    # norms ride along from the per-vector projection (one fold per
    # vector) instead of re-folding inside cosine() once per candidate
    # pair; same operand order (norm_a * norm_b) → bit-identical doubles
    emb = embeddings.select(
        F.col("vec_id"), _to_double(F.col("embedding")).alias("v")
    )
    emb = emb.select("vec_id", "v", l2_norm(F.col("v")).alias("__n"))
    va = emb.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"),
        F.col("__n").alias("__na"),
    )
    vb = emb.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"),
        F.col("__n").alias("__nb"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb"))
                / (F.col("__na") * F.col("__nb")),
                6,
            ).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def ann_topk_lsh(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_planes: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: exact rerank restricted to same-LSH-bucket candidates."""
    buckets = random_projection_buckets(embeddings, n_planes=n_planes, dim=dim)
    # per-row norm precompute (see cosine_topk): one fold per vector, not
    # one per candidate pair; operand order kept as norm_q * norm_v
    emb = embeddings.join(buckets, "vec_id").select(
        "vec_id", _to_double(F.col("embedding")).alias("v"), "bucket"
    )
    emb = emb.select("vec_id", "v", "bucket", l2_norm(F.col("v")).alias("__nv"))
    q = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("qbucket"),
        F.col("__nv").alias("__nq"),
    )
    cand = emb.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("qbucket"))
        & (F.col("vec_id") != F.col("query_id")),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot(F.col("qv"), F.col("v"))
                / (F.col("__nq") * F.col("__nv")),
                6,
            ).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def _ivf_assign_full(
    embeddings: DataFrame, n_clusters: int = 16, seed: int = 42
) -> tuple[DataFrame, "KMeansModel"]:
    """KMeans-assign every corpus vector and KEEP the feature vector in the
    output: (vec_id, v array<double>, cluster), plus the fitted model.

    ``v`` comes back through ``vector_to_array(features)`` — an exact
    round-trip of the ``array_to_vector(_to_double(embedding))`` the model
    was fed, so consumers that need the raw vector alongside the cluster id
    can use THIS frame directly instead of re-scanning the corpus and
    joining assignments back on vec_id (§2.4: that join was a corpus-sized
    SortMergeJoin in semantic_dedup/ivf_topk for data the transform output
    already carries)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feat = _spread(embeddings).select(
        "vec_id", array_to_vector(_to_double(F.col("embedding"))).alias("features")
    )
    model = KMeans(k=n_clusters, seed=seed, featuresCol="features").fit(feat)
    assigned = model.transform(feat).select(
        "vec_id",
        vector_to_array(F.col("features")).alias("v"),
        F.col("prediction").alias("cluster"),
    )
    return assigned, model


def ivf_assignments(
    embeddings: DataFrame, n_clusters: int = 16, seed: int = 42
) -> tuple[DataFrame, "KMeansModel"]:
    """IVF coarse quantizer: KMeans over the corpus; each vector gets its
    nearest-centroid cluster id. The inverted-file ANN scale path — at
    query time only the closest cluster(s) are scanned instead of the
    whole corpus. Returns (vec_id → cluster assignments, fitted model)."""
    full, model = _ivf_assign_full(embeddings, n_clusters, seed)
    return full.select("vec_id", "cluster"), model


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF ANN: exact rerank restricted to each query's n_probe nearest
    clusters. Search cost ~ (n_probe / n_clusters) of brute force; recall
    rises with n_probe (n_probe = n_clusters degrades to exact search)."""
    import numpy as np

    # the transform output already carries (vec_id, v, cluster) — no
    # corpus re-scan + assignment join needed (§2.4; v is the exact
    # array_to_vector round-trip of _to_double(embedding))
    emb, model = _ivf_assign_full(embeddings, n_clusters)
    centers = np.array([np.asarray(c) for c in model.clusterCenters()])
    queries = {
        r["vec_id"]: np.array(r["v"])
        for r in emb.filter(F.col("vec_id").isin(query_ids)).collect()
    }
    # n_probe nearest centroids per query (euclidean, same metric as KMeans)
    probe_rows = []
    for qid, qv in queries.items():
        d = ((centers - qv) ** 2).sum(axis=1)
        for c in np.argsort(d)[:n_probe]:
            probe_rows.append((int(qid), int(c)))
    spark = embeddings.sparkSession
    probes = spark.createDataFrame(probe_rows, "query_id long, cluster int")
    qdf = spark.createDataFrame(
        [(int(qid), [float(x) for x in qv]) for qid, qv in queries.items()],
        "query_id long, qv array<double>",
    )
    # norm folds hoisted out of the per-candidate projection: the corpus
    # norm is one column per vector, the query norm is evaluated once per
    # broadcast row (same l2_norm expression → bit-identical doubles)
    emb = emb.select("vec_id", "v", "cluster", l2_norm(F.col("v")).alias("__nv"))
    qdf = qdf.select("query_id", "qv", l2_norm(F.col("qv")).alias("__nq"))
    cand = (
        emb.join(F.broadcast(probes), "cluster")
        .join(F.broadcast(qdf), "query_id")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot(F.col("qv"), F.col("v"))
                / (F.col("__nq") * F.col("__nv")),
                6,
            ).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization — the 4×-smaller storage/scan path
# ---------------------------------------------------------------------------

def quantize_int8(arr: Column) -> Column:
    """Per-vector symmetric int8 quantization: q_j = ⌊x_j·127/s + 0.5⌋
    with s = max|x_j| (so q ∈ [-127, 127] and at least one |q| = 127).

    Portability (NOTES rule 11): the chain is mul → div → add → floor —
    each a single correctly-rounded IEEE op on identical doubles, and the
    ``+ 0.5`` follows a DIVISION so no engine can FMA-contract it; ⌊t+0.5⌋
    is explicit half-up rounding, immune to the engines' differing
    ROUND(double) conventions (NOTES rule 5). Zero vectors (s = 0) are the
    caller's concern — quantized cosine is undefined for them.
    """
    s = F.array_max(F.transform(arr, F.abs))
    return F.transform(
        arr, lambda x: F.floor(x * F.lit(127.0) / s + F.lit(0.5)).cast("long")
    )


def quantized_cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
) -> DataFrame:
    """Brute-force top-k over int8-QUANTIZED vectors — exact integer dot
    products and norms (≤ 127²·dim per term, overflow-free in int64),
    closed by sqrt/mul/div on identical exact integers (bit-portable,
    the rolling_corr_20 pattern).

    The 100 TB story: int8 vectors are 4× smaller than float32 — 4× less
    scan IO and shuffle for the same brute-force sweep — at a recall cost
    certified against the exact ``cosine_topk`` baseline in
    tests/test_llm_ops3.py. Same plan shape as the exact path: broadcast
    query side, embarrassingly-parallel corpus scan, per-query top-k
    window. Zero-scale vectors are excluded on both engines (cosine is
    undefined for them).
    """
    emb = _spread(embeddings).select(
        "vec_id", _to_double(F.col("embedding")).alias("v")
    )
    emb = emb.filter(
        F.array_max(F.transform("v", F.abs)) > 0
    ).select("vec_id", quantize_int8(F.col("v")).alias("q"))
    qside = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    idot = F.aggregate(
        F.zip_with(F.col("qq"), F.col("q"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )

    def inorm(c: str) -> Column:
        return F.sqrt(
            F.aggregate(
                F.col(c),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x * x,
            ).cast("double")
        )

    scored = (
        emb.crossJoin(F.broadcast(qside))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(idot.cast("double") / (inorm("qq") * inorm("q")), 6).alias(
                "score_q"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_q").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("nn_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("nn_rank") <= k)
    )


def hadamard_projection(
    embeddings: DataFrame,
    out_dims: int = 16,
    dims: int = 64,
) -> DataFrame:
    """Deterministic dimensionality reduction: the subsampled randomized
    Hadamard transform (SRHT) — flip each input coordinate by a fixed
    pseudo-random sign (the diagonal D of SRHT: d_i from the parity of
    popcount(i · 2654435761 mod 2³²), Knuth-hash bits), then project onto
    ``out_dims`` distinct rows of the order-``dims`` Hadamard matrix
    (sign(i, r) = (−1)^popcount(i & r), rows r_j = (19j + 7) mod dims
    distinct since gcd(19, dims) = 1 — mutually orthogonal). Without the
    diagonal, coordinate-aligned data structure correlates with the
    Hadamard rows and distances smear (measured: squared-distance
    correlation 0.40 plain vs ≥0.8 with the diagonal on the sf0.001
    embeddings); the diagonal is exactly what SRHT adds to fix that.

    Storage/scan story: 64 float32 dims → 16 at 4× less ANN scan and
    shuffle IO; the JL distortion actually achieved is certified against
    exact pairwise distances in tests/test_llm_ops3.py, and the
    projection is parameter-free and deterministic — any worker
    regenerates the same matrix from (i, j) alone, nothing is stored or
    broadcast beyond ``out_dims · dims`` sign rows (KB).

    Exactness: elements quantize to 1e-6 ints; each output coordinate is
    an int64 signed sum closed by ONE double division by
    ``1e6 · sqrt(out_dims)`` (norm-preserving in expectation:
    E‖Pv‖² = ‖v‖² since each ±1 row's squared dot carries ‖v‖²·dims/dims;
    exactly 4e6 for out_dims=16) — bit-identical cross-engine.

    Plan: posexplode → broadcast-join the tiny sign matrix → one
    (vec_id, out_dim) groupBy. All codegen: the window-array lesson
    (NOTES r5) says 1024 interpreted lambda terms per row lose to an
    exploded shuffle that stays in Tungsten; fan-out is
    |vectors|·dims·out_dims rows of 3 longs, linear in data.
    """
    if dims & (dims - 1):
        raise ValueError(
            f"dims must be a power of two (Hadamard order), got {dims}"
        )
    spark = embeddings.sparkSession
    scale = 1_000_000.0 * float(out_dims ** 0.5)
    e = _spread(embeddings).select(
        "vec_id", F.posexplode(_to_double(F.col("embedding")))
    ).select(
        "vec_id",
        F.col("pos").alias("i"),
        F.round(F.col("col") * 1_000_000.0, 0).cast("long").alias("qv"),
    )
    i_col = F.col("id") % dims
    j_col = (F.col("id") / dims).cast("long")
    hadamard = F.lit(1) - 2 * (
        F.bit_count(i_col.bitwiseAND((j_col * 19 + 7) % dims)) % 2
    )
    diagonal = F.lit(1) - 2 * (
        F.bit_count((i_col * 2654435761) % 4294967296) % 2
    )
    m = spark.range(out_dims * dims).select(
        j_col.alias("j"),
        i_col.alias("i"),
        (hadamard * diagonal).cast("long").alias("sign"),
    )
    return (
        e.join(F.broadcast(m), "i")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("qv") * F.col("sign")).alias("dot_q"))
        .select(
            "vec_id",
            F.col("j").cast("bigint").alias("out_dim"),
            (F.col("dot_q").cast("bigint") / F.lit(scale)).alias("value"),
        )
    )


# ---------------------------------------------------------------------------
# SemDeDup — semantic (embedding-space) deduplication
# ---------------------------------------------------------------------------

def semantic_dedup(
    embeddings: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.95,
    survivor: str = "centroid",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means the
    embedding space, call within-cluster pairs above a cosine threshold
    semantic duplicates, connected-component the duplicate graph, and keep
    ONE representative per group — the centroid-nearest member (highest
    cosine to its k-means centroid; smallest vec_id breaks exact ties).

    Returns one row per corpus vector:
    (vec_id, cluster, centroid_sim, group_id, keep_id, is_kept) —
    group_id/keep_id are the vector's own id for non-duplicates, so
    ``filter(is_kept)`` is the deduplicated corpus and row count always
    equals corpus size (stable under clustering nondeterminism).

    100 TB story: the only all-pairs work is WITHIN a k-means cluster —
    n_clusters grows with the corpus (SemDeDup's own recipe: k ≈ √N or
    N/10k) so cluster size stays bounded; the pair expansion reuses
    dedup.bucket_pairs' single grouped pass with a 4096-member cluster as
    the quadratic-cost cap (a capped cluster means "raise n_clusters", the
    same cap-to-widen contract as the LSH near-pair paths). Centroids are
    a broadcast k-row table; component resolution is the bounded
    min-label propagation from operators/graph.py (dup graphs are
    near-cliques). Cross-cluster near-pairs are the recall loss SemDeDup
    accepts by design; the planted-twin certificate in
    tests/test_llm_ops.py pins recall >= 0.95 at production settings.
    """
    from .dedup import bucket_pairs
    from .graph import connected_components

    spark = embeddings.sparkSession
    # (vec_id, v, cluster) straight from the KMeans transform — the old
    # embeddings ⋈ assigned re-join was a corpus-sized SortMergeJoin for
    # columns the transform output already carries (§2.4); v is the exact
    # array_to_vector round-trip of _to_double(embedding), so centroid_sim
    # and the pair cosines below see bit-identical doubles.
    assigned, model = _ivf_assign_full(embeddings, n_clusters, 42)
    centroids = spark.createDataFrame(
        [
            (int(i), [float(x) for x in c])
            for i, c in enumerate(model.clusterCenters())
        ],
        "cluster int, centroid array<double>",
    )
    emb = (
        assigned.join(F.broadcast(centroids), "cluster")
        .select(
            "vec_id",
            "cluster",
            "v",
            F.round(cosine(F.col("v"), F.col("centroid")), 6)
            .alias("centroid_sim"),
            # per-ROW norm, hoisted out of the per-PAIR cosine below:
            # cosine(va, vb) inline re-folds each side's l2_norm once per
            # pair — O(pairs) redundant folds; same fold + operand order
            # (norm_a * norm_b), so the filter sees bit-identical doubles
            # (§1.2 step 2, the cosine_topk r12 treatment).
            l2_norm(F.col("v")).alias("__n"),
        )
        # reused by the candidate phase, both verify join sides, and the
        # final decision join — cut the lineage once instead of 4 KMeans
        # rescans of the corpus
        .localCheckpoint(eager=True)
    )
    cand = bucket_pairs(
        emb.select("cluster", "vec_id"), ["cluster"], id_col="vec_id",
        out=("id_a", "id_b"), max_bucket=4096,
        # each vec_id lives in exactly ONE cluster, so intra-bucket i<j
        # pairs cannot repeat across buckets — the distinct() would be a
        # pure extra Exchange (§2.4)
        distinct=False,
    )
    va = emb.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"),
        F.col("__n").alias("__na"),
    )
    vb = emb.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"),
        F.col("__n").alias("__nb"),
    )
    dup_edges = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .filter(
            F.round(
                dot(F.col("va"), F.col("vb"))
                / (F.col("__na") * F.col("__nb")),
                6,
            )
            >= threshold
        )
        .select("id_a", "id_b")
    )
    comp = connected_components(dup_edges, src="id_a", dst="id_b")
    members = comp.join(
        emb.select(F.col("vec_id").alias("node"), "centroid_sim"), "node"
    )
    # representative: max (centroid_sim, -node) — centroid-nearest, then
    # smallest id; one tiny agg per duplicate group. survivor="min_id"
    # keeps the smallest member id instead — a centroid-independent rule
    # (the group minimum is stable under re-clustering), which is what
    # the incremental maintainer (streaming/semantic_dedup.py) needs for
    # batch parity: its centroids are trained on the FIRST batch, not
    # the union, so centroid_sim ordering is not comparable across the
    # two paths but min-id is.
    if survivor == "min_id":
        keep = members.groupBy(F.col("cluster_id").alias("group_id")).agg(
            F.min("node").alias("keep_id")
        )
    elif survivor == "centroid":
        keep = members.groupBy(F.col("cluster_id").alias("group_id")).agg(
            F.max(
                F.struct(
                    F.col("centroid_sim"),
                    (-F.col("node")).alias("__neg"),
                    F.col("node").alias("keep_id"),
                )
            ).alias("__s")
        ).select("group_id", F.col("__s.keep_id").alias("keep_id"))
    else:
        raise ValueError(f"survivor must be centroid|min_id, got {survivor!r}")
    decisions = (
        comp.join(keep, comp.cluster_id == keep.group_id)
        .select("node", "group_id", "keep_id")
    )
    return (
        emb.join(decisions, emb.vec_id == decisions.node, "left")
        .select(
            "vec_id",
            "cluster",
            "centroid_sim",
            F.coalesce("group_id", F.col("vec_id")).alias("group_id"),
            F.coalesce("keep_id", F.col("vec_id")).alias("keep_id"),
            (F.coalesce("keep_id", F.col("vec_id")) == F.col("vec_id"))
            .alias("is_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-bound ANN path
# ---------------------------------------------------------------------------


def pq_codebooks(embeddings: DataFrame):
    """Train per-subspace PQ codebooks: split the D-dim space into m = 8
    contiguous subspaces and run Lloyd's k-means (k_codes = 16,
    20 fixed iterations, init seeded with 7) on each, over a BOUNDED
    deterministic sample (hash-ordered, ≤ 4096 vectors collected to
    the driver — codebook training is the one step that does not need the
    corpus, exactly like ivf_topk's centroid collect). Returns a numpy
    array of shape (m, k_codes, D // m).

    Why PQ at 100 TB: a 64-dim float32 vector is 256 B; its PQ code at
    m=8, k=16 is 8 nibbles = 4 B — a 64× smaller scan/shuffle footprint,
    which is the difference between an in-memory candidate sweep and an
    IO-bound one. Accuracy is certified by the planted-twin recall test
    (tests/test_llm_ops3.py), not assumed."""
    import numpy as np

    m, k_codes = 8, 16
    rows = (
        _spread(embeddings)
        .select("vec_id", _to_double(F.col("embedding")).alias("v"))
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(4096)
        .collect()
    )
    x = np.array([r["v"] for r in rows])
    if x.ndim != 2 or x.shape[0] < k_codes:
        # rng.choice(n, k_codes, replace=False) would raise an opaque
        # numpy error; name the actual contract violation (ADVICE r6)
        raise ValueError(
            f"PQ codebook training needs >= k_codes={k_codes} sample "
            f"vectors, got {0 if x.ndim != 2 else x.shape[0]}"
        )
    n, d = x.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    rng = np.random.RandomState(7)
    books = np.zeros((m, k_codes, sub))
    for s in range(m):
        xs = x[:, s * sub : (s + 1) * sub]
        centers = xs[rng.choice(n, size=k_codes, replace=False)].copy()
        for _ in range(20):
            d2 = ((xs[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k_codes):
                pts = xs[assign == c]
                if len(pts):
                    centers[c] = pts.mean(axis=0)
        books[s] = centers
    return books


def pq_encode(embeddings: DataFrame, books) -> DataFrame:
    """Assign every vector its m-byte PQ code: explode into subvectors,
    broadcast the (m · k_codes)-row codebook, argmin squared distance via
    min(struct(dist, code)) — one shuffle on (vec_id, sub), distributed
    JVM arithmetic throughout (zip_with/aggregate dot products, no
    Python on the data path). Returns (vec_id, sub, code)."""
    m, k_codes, sub = books.shape
    spark = embeddings.sparkSession
    book_rows = [
        (s, c, [float(v) for v in books[s, c]])
        for s in range(m)
        for c in range(k_codes)
    ]
    bdf = spark.createDataFrame(
        book_rows, "sub int, code int, centroid array<double>"
    )
    subs = _spread(embeddings).select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice(_to_double(F.col("embedding")), s * sub + 1, sub)
                    for s in range(m)
                ]
            )
        ).alias("sub", "sv"),
    )
    d2 = F.aggregate(
        F.zip_with("sv", "centroid", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        subs.join(F.broadcast(bdf), "sub")
        .groupBy("vec_id", "sub")
        .agg(F.min(F.struct(d2.alias("d"), F.col("code"))).alias("best"))
        .select("vec_id", "sub", F.col("best.code").alias("code"))
    )


def _collect_query_vectors(emb: DataFrame, query_ids: list[int]) -> dict:
    """Driver-side collect of the REQUESTED vectors only (KB-scale), with
    loud failure on ids absent from the corpus — silently dropping them
    would return fewer result groups with no signal (ADVICE r6)."""
    import numpy as np

    queries = {
        r["vec_id"]: np.array(r["v"])
        for r in emb.filter(F.col("vec_id").isin(query_ids)).collect()
    }
    missing = sorted(set(int(q) for q in query_ids) - set(queries))
    if missing:
        raise ValueError(f"query_ids not found in corpus: {missing}")
    return queries


def pq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
) -> DataFrame:
    """PQ ANN with asymmetric distance computation (ADC) + exact rerank:
    over :func:`pq_codebooks`' m=8 × k_codes=16 books, each query
    precomputes an m×k_codes table of subspace inner products
    against the codebooks (driver-side, m·k_codes·|queries| floats —
    KB-scale); the corpus side is scanned as CODES ONLY (the 64×-smaller
    representation), approximate score = Σ_sub table[sub, code] via one
    keyed join + groupBy; the top 4·k candidates per query are then
    re-scored with EXACT cosine against the original vectors — so emitted
    scores are identical in kind to the brute-force baseline and only
    RECALL (which candidates made the cut) is approximate. The classic
    IVF-PQ pairing is this operator behind ivf_topk's probe filter."""
    import numpy as np

    books = pq_codebooks(embeddings)
    m, k_codes, sub = books.shape
    codes = pq_encode(embeddings, books)
    spark = embeddings.sparkSession
    emb = _spread(embeddings).select(
        "vec_id", _to_double(F.col("embedding")).alias("v")
    )
    queries = _collect_query_vectors(emb, query_ids)
    adc_rows = [
        (int(qid), s, c, float(np.dot(qv[s * sub : (s + 1) * sub], books[s, c])))
        for qid, qv in queries.items()
        for s in range(m)
        for c in range(k_codes)
    ]
    adc = spark.createDataFrame(
        adc_rows, "query_id long, sub int, code int, part double"
    )
    approx = (
        codes.join(F.broadcast(adc), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("part").alias("approx_ip"))
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("approx_ip").desc(), F.col("vec_id")
    )
    cand = approx.withColumn("crank", F.row_number().over(wa)).filter(
        F.col("crank") <= 4 * k
    )
    qdf = spark.createDataFrame(
        [(int(qid), [float(x) for x in qv]) for qid, qv in queries.items()],
        "query_id long, qv array<double>",
    )
    rescored = (
        cand.join(emb, "vec_id")
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("qv"), F.col("v")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return rescored.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).filter(F.col("rank") <= k)


def ivf_pq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
) -> DataFrame:
    """IVF-PQ — the production ANN shape (FAISS's IVFPQ): the IVF coarse
    quantizer (8 clusters) restricts each query to its 4 nearest, and
    WITHIN the probed slice the candidate sweep runs on 4-byte PQ codes
    (ADC) instead of float vectors, with an exact-cosine rerank of the
    survivors. Composes the two certified operators unchanged: search
    cost ≈ (4/8) · (PQ code scan) — both dials
    independent, both failure modes separately certified (IVF recall
    curve in NOTES; PQ planted-twin test)."""
    import numpy as np

    # one corpus pass supplies BOTH the cluster assignment and the exact
    # rerank vectors (§2.4 — a third raw scan + spread carried nothing
    # the transform output didn't already have)
    full, model = _ivf_assign_full(embeddings, 8)
    centers = np.array([np.asarray(c) for c in model.clusterCenters()])
    books = pq_codebooks(embeddings)
    m, k_codes, sub = books.shape
    codes = pq_encode(embeddings, books).join(
        full.select("vec_id", "cluster"), "vec_id"
    )
    spark = embeddings.sparkSession
    emb = full.select("vec_id", "v")
    queries = _collect_query_vectors(emb, query_ids)
    probe_rows = []
    for qid, qv in queries.items():
        d = ((centers - qv) ** 2).sum(axis=1)
        for c in np.argsort(d)[:4]:
            probe_rows.append((int(qid), int(c)))
    probes = spark.createDataFrame(probe_rows, "query_id long, cluster int")
    adc_rows = [
        (int(qid), s, c,
         float(np.dot(qv[s * sub:(s + 1) * sub], books[s, c])))
        for qid, qv in queries.items()
        for s in range(m)
        for c in range(k_codes)
    ]
    adc = spark.createDataFrame(
        adc_rows, "query_id long, sub int, code int, part double"
    )
    approx = (
        codes.join(F.broadcast(probes), "cluster")
        .join(F.broadcast(adc), ["query_id", "sub", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("part").alias("approx_ip"))
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("approx_ip").desc(), F.col("vec_id")
    )
    cand = approx.withColumn("crank", F.row_number().over(wa)).filter(
        F.col("crank") <= 4 * k
    )
    qdf = spark.createDataFrame(
        [(int(qid), [float(x) for x in qv]) for qid, qv in queries.items()],
        "query_id long, qv array<double>",
    )
    rescored = (
        cand.join(emb, "vec_id")
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("qv"), F.col("v")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return rescored.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).filter(F.col("rank") <= k)
