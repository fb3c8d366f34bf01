"""LLM-pipeline part 3 (registry_llm3.py): priority sampling, sparse
tf-idf similarity, int8-quantized embedding search.

Oracle parity runs under the -m oracle marker; these certify the
estimator statistics, the quantization math against an independent
reimplementation, recall against the exact baseline, planted-pair
non-vacuity, and the scale-relevant plan shapes.
"""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from stock_market_etl_pipeline_spark import registry
from stock_market_etl_pipeline_spark.obs import _last_execution, _settled
from stock_market_etl_pipeline_spark.operators.sampling import priority_sample
from stock_market_etl_pipeline_spark.operators.similarity import (
    cosine_topk,
    quantize_int8,
    quantized_cosine_topk,
)
from stock_market_etl_pipeline_spark.sources.tables import load_table

from conftest import SF_DIR
from test_plan_shapes import plan_of


@pytest.fixture(scope="module")
def qs():
    return registry.queries()


@pytest.fixture(scope="module")
def docs_pd(spark):
    return (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "n_chars")
        .toPandas()
    )


# ---------------------------------------------------------------------------
# priority sampling
# ---------------------------------------------------------------------------


def _py_priorities(docs_pd, salt: str):
    """Independent pure-python reimplementation of the priority draw
    (hashlib md5 — not the Spark expression path)."""
    out = []
    for doc_id, w in zip(docs_pd["doc_id"], docs_pd["n_chars"]):
        h = int(hashlib.md5(f"{salt}|{doc_id}".encode()).hexdigest()[:15], 16)
        u = float(h + 1) / float(1 << 60)
        out.append((doc_id, int(w), float(w) / u))
    return out


def test_priority_sample_matches_python_reference(spark, docs_pd):
    """Sample membership, τ, and the max(w, τ) estimator all agree with a
    brute-force hashlib reimplementation — bit-exact (the priority is one
    IEEE division of identical inputs)."""
    k = 64
    for salt in ("prio", "cert3"):
        prios = _py_priorities(docs_pd, salt)
        ranked = sorted(prios, key=lambda t: (-t[2], t[0]))
        tau = ranked[k][2]
        expect = {
            doc_id: (w, p, max(float(w), tau)) for doc_id, w, p in ranked[:k]
        }
        got = priority_sample(
            load_table(spark, SF_DIR, "documents"), "n_chars", k, salt=salt
        ).collect()
        assert len(got) == k
        assert {r.doc_id for r in got} == set(expect)
        for r in got:
            w, p, est = expect[r.doc_id]
            assert r.weight == w
            assert r.priority == p  # bit-exact, no tolerance
            assert r.est_weight == est


def test_priority_sample_estimator_unbiased(spark):
    """Σ max(w, τ) over the sample is an unbiased estimate of Σw: the mean
    over 8 fixed salts must sit near the true total (measured 1.043 at
    sf0.001, k=64; individual draws spread ~0.84–1.36 as the estimator's
    variance predicts)."""
    docs = load_table(spark, SF_DIR, "documents")
    true_total = docs.agg(F.sum("n_chars")).collect()[0][0]
    ests = []
    for i in range(8):
        tot = (
            priority_sample(docs, "n_chars", 64, salt=f"cert{i}")
            .agg(F.sum("est_weight"))
            .collect()[0][0]
        )
        assert 0.5 * true_total < tot < 2.0 * true_total
        ests.append(tot)
    mean = sum(ests) / len(ests)
    assert 0.90 * true_total < mean < 1.15 * true_total


def test_priority_sample_plan_distributed_topk(spark):
    """The full-data side is a TakeOrderedAndProject (per-partition heaps),
    never a global sort (no range-partitioning exchange). That side runs
    as the top-(k+1) job of the build's eager checkpoint, so its plan is
    the SQL execution the build started, read from the SQL status store."""
    sql_store = spark._jsparkSession.sharedState().statusStore()
    docs = load_table(spark, SF_DIR, "documents")
    before = _last_execution(sql_store)
    priority_sample(docs, "n_chars", 64)
    _settled(spark)
    topk = _last_execution(sql_store)
    assert topk > before
    plan = sql_store.execution(topk).get().physicalPlanDescription()
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_priority_sample_query_registered(spark, qs):
    rows = qs["priority_sample_docs"](spark, SF_DIR).collect()
    assert len(rows) == 64
    for r in rows:
        # τ-threshold estimator: est = max(w, τ) ≥ w, and τ is shared
        assert r.est_weight >= r.weight
        assert r.priority > r.weight  # u ∈ (0,1] ⇒ priority ≥ weight


# ---------------------------------------------------------------------------
# tf-idf shingle pairs
# ---------------------------------------------------------------------------


def test_tfidf_planted_pairs_surface(spark, qs):
    """Docs 0..29 are replanted with the last 5 tokens cut; a healthy
    slice of those pairs must sit in the top-50 with high cosine —
    alongside the corpus's NATURAL lexical near-dups (which this query
    exists to catch)."""
    rows = qs["tfidf_shingle_pairs"](spark, SF_DIR).collect()
    assert len(rows) == 50
    planted = [r for r in rows if r.doc_b == r.doc_a + 100000]
    assert len(planted) >= 10, "vacuously green: planted twins missing"
    assert max(r.cosine for r in planted) >= 0.9
    for r in rows:
        assert r.doc_a < r.doc_b
        assert r.n_shared >= 1
        assert 0.0 < r.cosine <= 1.0
    # ranking is by (cosine desc, ids) — verify the frozen order
    assert rows == sorted(
        rows, key=lambda r: (-r.cosine, r.doc_a, r.doc_b)
    )


def test_tfidf_plan_no_allpairs(spark, qs):
    """Pair expansion is the grouped posting-list pass: no cartesian, no
    self-join of the weighted term table; final top-50 is a TakeOrdered,
    not a global sort."""
    plan = plan_of(qs["tfidf_shingle_pairs"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


# ---------------------------------------------------------------------------
# int8 quantization
# ---------------------------------------------------------------------------


def test_quantize_int8_matches_python(spark):
    """Quantized codes equal the ⌊x·127/s + 0.5⌋ reference exactly and
    saturate the int8 range (some |q| = 127 per vector)."""
    emb = load_table(spark, SF_DIR, "embeddings").limit(20)
    rows = emb.select(
        "vec_id",
        F.col("embedding").alias("v"),
        quantize_int8(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("q"),
    ).collect()
    assert rows
    for r in rows:
        s = max(abs(float(x)) for x in r.v)
        assert s > 0
        expect = [math.floor(float(x) * 127.0 / s + 0.5) for x in r.v]
        assert list(r.q) == expect
        assert max(abs(c) for c in r.q) == 127
        assert all(-127 <= c <= 127 for c in r.q)


def test_quantized_topk_recall_vs_exact(spark):
    """int8 cosine top-10 keeps ≥0.9 mean recall against the exact float
    baseline (measured 1.0 at sf0.001, 64 dims — int8 resolution is far
    finer than the neighbor gaps)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    exact = cosine_topk(emb, query_ids=list(range(10)), k=10).collect()
    quant = quantized_cosine_topk(emb, query_ids=list(range(10)), k=10).collect()
    ex, qz = {}, {}
    for r in exact:
        ex.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in quant:
        qz.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(ex) == set(qz) and len(ex) == 10
    recalls = [len(ex[q] & qz[q]) / len(ex[q]) for q in ex]
    assert sum(recalls) / len(recalls) >= 0.9


def test_quantized_topk_plan_broadcast(spark, qs):
    """Same plan family as the exact path: broadcast query side over an
    embarrassingly-parallel corpus scan (no shuffle of the corpus)."""
    plan = plan_of(qs["embedding_quantized_topk"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# Subsampled-Hadamard JL projection
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def jl_pair(spark):
    """(original vectors, reduced vectors) for the first 80 embeddings."""
    from stock_market_etl_pipeline_spark.operators.similarity import (
        hadamard_projection,
    )

    emb = load_table(spark, SF_DIR, "embeddings").filter("vec_id < 80")
    orig = {
        r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()
    }
    red = {}
    for r in hadamard_projection(emb).collect():
        red.setdefault(r.vec_id, {})[r.out_dim] = r.value
    redv = {k: [v[j] for j in range(16)] for k, v in red.items()}
    return orig, redv


def _dist(a, b):
    return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))


def test_jl_distance_distortion_bounds(jl_pair):
    """The JL certificate: 64→16 reduction keeps pairwise distances
    centered on the originals (median ratio ≈ 1) with the sqrt(ln n / d)
    spread the lemma promises — measured 0.98 median, [0.71, 1.24]
    p5–p95 on this corpus; bounds frozen with margin. A scale bug (the
    first draft divided by sqrt(D·d), shrinking everything 8×) fails the
    median bound immediately."""
    orig, redv = jl_pair
    ids = sorted(orig)
    ratios = []
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            do = _dist(orig[ids[a]], orig[ids[b]])
            dr = _dist(redv[ids[a]], redv[ids[b]])
            if do > 0:
                ratios.append(dr / do)
    ratios.sort()
    n = len(ratios)
    median = ratios[n // 2]
    p5, p95 = ratios[n // 20], ratios[-n // 20]
    assert 0.85 <= median <= 1.15, median
    assert p5 >= 0.45, p5
    assert p95 <= 1.7, p95


def test_jl_projection_is_exactly_deterministic(spark):
    """Parameter-free determinism is the operational point: any worker
    regenerates the identical matrix from (i, j), so two runs (or two
    clusters) produce bit-identical reductions."""
    from stock_market_etl_pipeline_spark.operators.similarity import (
        hadamard_projection,
    )

    emb = load_table(spark, SF_DIR, "embeddings").filter("vec_id < 20")
    a = sorted(
        (r.vec_id, r.out_dim, r.value)
        for r in hadamard_projection(emb).collect()
    )
    b = sorted(
        (r.vec_id, r.out_dim, r.value)
        for r in hadamard_projection(emb).collect()
    )
    assert a == b


def test_jl_rejects_non_power_of_two_order(spark):
    from stock_market_etl_pipeline_spark.operators.similarity import (
        hadamard_projection,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    with pytest.raises(ValueError, match="power of two"):
        hadamard_projection(emb, dims=48)


# ---------------------------------------------------------------------------
# SemDeDup semantic dedup certificates (registry_llm4.semantic_dedup)
# ---------------------------------------------------------------------------


def test_semantic_dedup_planted_twin_recall(spark):
    """Planted-twin recall certificate at production settings: 100
    cosine≈0.97 twins planted into the corpus; SemDeDup at threshold 0.9
    must merge >=95% of (original, twin) pairs into one group with
    exactly one survivor. A twin only escapes if k-means puts it in a
    DIFFERENT cluster than its original — the one recall loss SemDeDup
    accepts by design; a vector this close co-clusters essentially
    always (same geometry as the IVF n_probe=1 measurement above)."""
    from stock_market_etl_pipeline_spark.operators.similarity import (
        plant_near_duplicates,
        semantic_dedup,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    corpus = plant_near_duplicates(emb, n=100, id_offset=1_000_000, dim=64)
    out = semantic_dedup(corpus, n_clusters=16, threshold=0.9)
    by_id = {r["vec_id"]: r for r in out.collect()}
    assert len(by_id) == corpus.count()  # one decision row per vector
    merged = sum(
        1
        for q in range(100)
        if by_id[q]["group_id"] == by_id[q + 1_000_000]["group_id"]
        and (by_id[q]["is_kept"] != by_id[q + 1_000_000]["is_kept"])
    )
    assert merged / 100 >= 0.95, merged


def test_semantic_dedup_soundness_and_survivorship(spark):
    """(a) Soundness: within-cluster dup edges are a subset of the exact
    all-pairs edge set, so every DROPPED vector must share a group with
    a vector it is exact-near (>= threshold) to — cross-checked against
    embedding_near_pairs, the oracled twin. (b) Survivorship: per group
    exactly one survivor, and it is the centroid-nearest member
    (max centroid_sim, smallest vec_id on ties)."""
    from stock_market_etl_pipeline_spark.operators.similarity import (
        embedding_near_pairs,
        semantic_dedup,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = semantic_dedup(emb, n_clusters=16, threshold=0.35)
    rows = out.collect()
    exact = {
        frozenset((r["id_a"], r["id_b"]))
        for r in embedding_near_pairs(emb, threshold=0.35).collect()
    }
    groups = {}
    for r in rows:
        groups.setdefault(r["group_id"], []).append(r)
    for gid, members in groups.items():
        kept = [m for m in members if m["is_kept"]]
        assert len(kept) == 1, (gid, members)
        if len(members) == 1:
            continue
        best = max(members, key=lambda m: (m["centroid_sim"], -m["vec_id"]))
        assert kept[0]["vec_id"] == best["vec_id"]
        # every dropped member is exact-near at least one co-group member
        ids = {m["vec_id"] for m in members}
        for m in members:
            if m["is_kept"]:
                continue
            assert any(
                frozenset((m["vec_id"], o)) in exact for o in ids - {m["vec_id"]}
            ), m


def test_pq_planted_twin_recall_and_adc_agreement(spark):
    """PQ certificate, mirroring the IVF planted-twin pattern: 100
    planted cosine≈0.97 twins must surface in their query's top-10
    through the CODES-ONLY candidate sweep (recall ≥ 0.95 — a twin lost
    by ADC at rerank=4·k means codebooks/encoding broke, not noise: both
    are seeded and deterministic). Also certifies the encoder: every
    vector's code must be the true argmin centroid per subspace on a
    numpy recomputation of a 50-vector sample."""
    import numpy as np

    from stock_market_etl_pipeline_spark.operators.similarity import (
        plant_near_duplicates,
        pq_codebooks,
        pq_encode,
        pq_topk,
    )
    from conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    corpus = plant_near_duplicates(emb, n=100, id_offset=1_000_000, dim=64)
    qids = list(range(100))
    out = pq_topk(corpus, query_ids=qids, k=10)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recall = sum(
        1 for q in qids if q + 1_000_000 in got.get(q, set())
    ) / len(qids)
    assert recall >= 0.95, recall

    books = pq_codebooks(emb)
    codes = {
        (r.vec_id, r.sub): r.code
        for r in pq_encode(emb, books).filter("vec_id < 50").collect()
    }
    vecs = {
        r.vec_id: np.array([float(x) for x in r.embedding])
        for r in emb.filter("vec_id < 50").collect()
    }
    sub = books.shape[2]
    for vid, v in vecs.items():
        for s in range(books.shape[0]):
            d2 = ((books[s] - v[s * sub:(s + 1) * sub]) ** 2).sum(axis=1)
            assert codes[(vid, s)] == int(d2.argmin())


def test_ivf_pq_planted_twin_recall(spark):
    """The composed IVF-PQ path: both approximations stack (probe filter
    may drop the twin's cluster; ADC may misrank it), so the certified
    bound is 0.90 — still far above chance, and a drop means one of the
    two separately-certified components regressed."""
    from stock_market_etl_pipeline_spark.operators.similarity import (
        ivf_pq_topk,
        plant_near_duplicates,
    )
    from conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    corpus = plant_near_duplicates(emb, n=100, id_offset=1_000_000, dim=64)
    qids = list(range(100))
    out = ivf_pq_topk(corpus, query_ids=qids, k=10)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recall = sum(
        1 for q in qids if q + 1_000_000 in got.get(q, set())
    ) / len(qids)
    assert recall >= 0.90, recall


def test_pq_guards_fail_loudly(spark):
    """ADVICE r6: codebook training on a corpus smaller than k_codes must
    raise a clear contract error (not an opaque numpy ValueError), and a
    query_id absent from the corpus must raise instead of silently
    returning fewer result groups."""
    import pytest as _pytest

    from stock_market_etl_pipeline_spark.operators.similarity import (
        pq_codebooks,
        pq_topk,
    )
    from conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    tiny = emb.filter("vec_id < 5")
    with _pytest.raises(ValueError, match="k_codes"):
        pq_codebooks(tiny)
    with _pytest.raises(ValueError, match="999999999"):
        pq_topk(emb, query_ids=[0, 999_999_999], k=3)
