"""Deduplication operators for LLM-training-data pipelines.

Four strategies, all shuffle-disciplined for 100 TB:

- exact:        hash-groupBy on a normalized fingerprint (one shuffle on the
                16-byte digest — never on the document text itself)
- n-gram Jaccard: shingle-explode → inverted-index self-join → count-based
                Jaccard. The join key is the shingle hash; a document-
                frequency cap drops stop-shingles that would otherwise
                create quadratic hot keys.
- MinHash+LSH:  shingle → k independent 60-bit hashes → per-band signature →
                band-bucket self-join. Candidate generation is linear in
                docs×bands, never all-pairs.
- SimHash:      token-hash bit voting → 64-bit signature → banded hamming
                join (LSH for hamming distance), verify ≤ max_distance.

Every step is built-in expressions (md5/conv/explode/groupBy) — no Python
UDFs — and each strategy has an exact DuckDB oracle twin in registry.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.text import (
    md5_hash60,
    normalized_fingerprint,
    word_shingles,
    word_shingles_all,
    ws_tokens,
)


def exact_duplicate_groups(docs: DataFrame, with_doc_ids: bool = False) -> DataFrame:
    """Groups of byte-identical (post-normalization) documents.

    Returns (fingerprint, n_docs, keep_doc_id) for groups with more than one
    member; ``keep_doc_id`` is the smallest id (deterministic survivor
    policy). The member-id list is OPT-IN (``with_doc_ids=True``) and built
    with a two-phase salted collect so a pathological mega-group (e.g. a
    million empty documents sharing one fingerprint) accumulates its list
    across ``n_salts`` tasks instead of one unbounded aggregation buffer —
    the default output carries only bounded scalars per group.
    """
    fp = docs.select(
        F.col("doc_id"), normalized_fingerprint(F.col("text")).alias("fingerprint")
    )
    groups = (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )
    if with_doc_ids:
        from .skew import salted_collect_list

        lists = salted_collect_list(fp, key="fingerprint", value="doc_id")
        groups = groups.join(lists, "fingerprint")
    return groups


def _spread(df: DataFrame) -> DataFrame:
    """Small parquet inputs arrive as ONE split → one task would do all the
    per-row work (md5 of every shingle, every dot product). Fan the rows
    across the cluster first; at real scale the input has many splits and
    this is a no-op cost (one narrow-ish shuffle of the raw rows).

    Floored at the input's current partition count so this single-file fix
    can never REPARTITION A LARGE INPUT DOWN: a 200-split scan on a small
    cluster keeps its 200 partitions (`getNumPartitions` is plan metadata —
    no job runs)."""
    sc = df.sparkSession.sparkContext
    return df.repartition(max(sc.defaultParallelism, df.rdd.getNumPartitions()))


def plant_exact_duplicates(
    docs: DataFrame, n: int = 25, id_offset: int = 10_000_000
) -> DataFrame:
    """Corpus ∪ byte-identical copies of the first ``n`` documents.

    The testdata corpus has no natural exact duplicates at any verify
    scale, so the registered exact-dedup query over raw documents would be
    vacuously green (both engines agree the answer is empty). This plants
    deterministic ground truth: every doc with ``doc_id < n`` gains a twin
    at ``doc_id + id_offset`` with the SAME text, so every distinct
    normalized text among the first ``n`` ids becomes a known duplicate
    group whose survivor is the original id. Derived data only (id
    arithmetic, no RNG) — mirrored verbatim in the oracle CTE.
    """
    twins = docs.filter(F.col("doc_id") < n).select(
        (F.col("doc_id") + id_offset).alias("doc_id"),
        *[c for c in docs.columns if c != "doc_id"],
    )
    return docs.unionByName(twins)


def plant_prefix_duplicates(
    docs: DataFrame, n: int = 25, id_offset: int = 2_000_000,
) -> DataFrame:
    """(doc_id, text) corpus ∪ TRUNCATED twins of the first ``n`` docs:
    each twin keeps the first ceil(n_tokens/2) tokens (floored at 8 so
    every twin clears the prefix-key length). The planted
    ground truth for prefix-containment dedup — the truncation-duplicate
    family scraped corpora accumulate (cut-off re-crawls, pagination
    tails, summary snippets). Derived data only (token slice + id
    arithmetic, no RNG) — mirrored verbatim in the oracle CTE."""
    t = ws_tokens(F.col("text"))
    keep = F.greatest(
        F.ceil(F.size(t) / F.lit(2)).cast("int"), F.lit(8)
    )
    twins = docs.filter(F.col("doc_id") < n).select(
        (F.col("doc_id") + id_offset).alias("doc_id"),
        F.array_join(F.slice(t, F.lit(1), keep), " ").alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(twins)


def span_anchor_grams(
    docs: DataFrame, span: int = 20, mod: int = 8
) -> DataFrame:
    """(doc_id, gram_hash) for CONTENT-DEFINED sampled ``span``-token
    grams: a positional gram is kept iff md5_hash60(gram) % mod == 0.

    The anchor trick behind scalable substring/shared-span dedup (cf.
    suffix-array dedup literature): selection depends only on the gram's
    CONTENT, so two documents sharing a long span select the SAME anchors
    inside it regardless of where the span sits in each doc — stride/
    position sampling would misalign. Expected 1/mod of grams survive,
    so the inverted index is span·(1/mod) of the full positional-gram
    blowup; a shared span of length ≥ span + mod·O(1) tokens is caught
    with high probability, deterministically (md5 both engines)."""
    grams = _spread(docs).select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles_all(ws_tokens(F.col("text")), span))
        ).alias("gram"),
    )
    h = md5_hash60(F.col("gram"))
    return grams.filter(h % mod == 0).select(
        "doc_id", h.alias("gram_hash")
    )


def shared_span_pairs(
    docs: DataFrame, span: int = 20, mod: int = 8,
    max_doc_freq: int | None = 50,
) -> DataFrame:
    """(doc_a, doc_b, n_shared_anchors): document pairs sharing at least
    one sampled ``span``-token gram — the substring-duplication detector
    (copied paragraphs, shared boilerplate blocks, containment) that
    set-based Jaccard underweights and exact dedup misses entirely.

    Plan: anchor table (content-defined sample) → optional document-
    frequency cap on the anchor (the stop-shingle discipline: an anchor
    in thousands of docs is boilerplate, its pairs are quadratic and
    carry no dedup signal — boilerplate has its own query) → grouped
    bucket_pairs (no self-join) → per-pair anchor count."""
    anchors = span_anchor_grams(docs, span=span, mod=mod)
    if max_doc_freq is not None:
        w = Window.partitionBy("gram_hash")
        anchors = (
            anchors.withColumn("__df", F.count(F.lit(1)).over(w))
            .filter(F.col("__df") <= max_doc_freq)
            .drop("__df")
        )
    # distinct=False: the same pair sharing k anchors appears in k
    # buckets — exactly the rows the per-pair count aggregates
    pairs = bucket_pairs(anchors, ["gram_hash"], distinct=False)
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_anchors"))
    )


def plant_near_text_batch(
    docs: DataFrame, n: int = 25, id_offset: int = 3_000_000
) -> DataFrame:
    """An incoming BATCH of near-duplicate arrivals: for each of the
    first ``n`` docs, a twin that drops the LAST token — shingle-Jaccard
    ≈ (len−k)/(len−k+2) against its source (≈0.9 at testdata lengths),
    safely above the 0.5 near-dup threshold but not byte-identical. The
    planted ground truth for incremental batch-vs-corpus near-dedup;
    derived data only (token slice + id arithmetic), oracle-mirrored."""
    t = ws_tokens(F.col("text"))
    return docs.filter(F.col("doc_id") < n).select(
        (F.col("doc_id") + id_offset).alias("doc_id"),
        F.array_join(F.slice(t, F.lit(1), F.size(t) - 1), " ").alias("text"),
    )


def prefix_containment_pairs(
    docs: DataFrame, prefix_key_tokens: int = 8
) -> DataFrame:
    """Truncation-duplicate pairs: (prefix_id, full_id, len_prefix,
    len_full) where prefix_id's token sequence is a STRICT prefix of
    full_id's. Candidates are keyed by the md5 fingerprint of the first
    ``prefix_key_tokens`` tokens (so the join is an equi-join on a
    16-byte key — Σ group² cost, the same bound as exact dedup, since
    prefix-key groups ARE truncation families), then verified with exact
    array equality over the shorter doc's full length — precision 1.0 by
    construction.

    Contract: detects containment only for prefixes of at least
    ``prefix_key_tokens`` tokens (shorter docs hash a shorter first-k
    string and never collide with a longer doc's key); equal-length
    (exact) duplicates are excluded by the strict length predicate —
    they belong to exact_duplicate_groups. No analog in the reference
    (single-process pandas, reference ``src/transform.py:199-204`` has
    only keyed drop_duplicates); standard corpus-curation semantics."""
    # localCheckpoint: the keyed table feeds BOTH self-join sides — without
    # it Spark tokenizes and hashes the corpus once per side (4 doc scans
    # in the audited plan; 1 after)
    keyed = _spread(docs).select(
        "doc_id", ws_tokens(F.col("text")).alias("t")
    ).select(
        "doc_id",
        "t",
        F.size("t").alias("n"),
        F.md5(
            F.array_join(F.slice("t", F.lit(1), F.lit(prefix_key_tokens)), " ")
        ).alias("k"),
    ).localCheckpoint(eager=True)
    a = keyed.select(
        F.col("doc_id").alias("prefix_id"), F.col("t").alias("ta"),
        F.col("n").alias("len_prefix"), "k",
    )
    b = keyed.select(
        F.col("doc_id").alias("full_id"), F.col("t").alias("tb"),
        F.col("n").alias("len_full"), "k",
    )
    return (
        a.join(b, "k")
        .filter(
            (F.col("len_prefix") < F.col("len_full"))
            & (F.slice("tb", F.lit(1), F.col("len_prefix")) == F.col("ta"))
        )
        .select(
            "prefix_id",
            "full_id",
            F.col("len_prefix").cast("long").alias("len_prefix"),
            F.col("len_full").cast("long").alias("len_full"),
        )
    )


def _doc_shingles(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, shingle) exploded distinct word k-grams."""
    return _spread(docs).select(
        "doc_id",
        F.explode(word_shingles(ws_tokens(F.col("text")), k)).alias("shingle"),
    )


def bucket_pairs(
    bucketed: DataFrame,
    bucket_cols: list[str],
    id_col: str = "doc_id",
    out: tuple[str, str] = ("doc_a", "doc_b"),
    distinct: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """Intra-bucket id pairs (id_a < id_b) via ONE grouped pass.

    The naive formulation is a self-join of the bucketed table on the
    bucket key — but Spark computes the (expensive: hashing, min-aggregates)
    bucketing subtree once PER JOIN SIDE, and exchange reuse does not
    collapse them. Collecting each bucket's sorted id list and exploding
    the i<j pairs does the subtree once and shuffles once.

    Buffer note: the collect_set buffer is one bucket's membership — bounded
    by the banding/cap parameters in every caller here (band signatures,
    ``max_doc_freq``). Floods of byte-identical documents belong to EXACT
    dedup, which runs before any near-dup pass in corpus_prep ordering.

    ``max_bucket`` drops buckets larger than N members before pair
    expansion — the stop-shingle cap's analog for projection buckets.
    Pair cost is Σ|bucket|²; one bucket holding a corpus-sized slice means
    the hash geometry stopped discriminating at this scale (round-4 sf1
    sweep: 4 planes/band over 10× vectors → ×43 wall), and its pairs are
    overwhelmingly non-duplicates. The cap bounds cost at
    buckets·cap² and is mirrored in the oracle CTEs; a capped bucket is a
    SIGNAL to widen the geometry (more planes per band), not silent loss —
    callers document the verify-scale headroom and test that the cap never
    trips at oracle scales.
    """
    ids = (
        bucketed.groupBy(*bucket_cols)
        .agg(F.sort_array(F.collect_set(id_col)).alias("__ids"))
        .filter(F.size("__ids") > 1)
    )
    if max_bucket is not None:
        ids = ids.filter(F.size("__ids") <= max_bucket)
    pairs = _pairs_from_id_lists(ids, out)
    return pairs.distinct() if distinct else pairs


def _pairs_from_id_lists(
    ids: DataFrame, out: tuple[str, str] = ("doc_a", "doc_b")
) -> DataFrame:
    """i<j pairs from a table carrying a sorted ``__ids`` array column
    (the :func:`bucket_pairs` explode core, factored out so bucket tables
    built elsewhere — :func:`shingle_buckets` — reuse it without paying a
    second grouped pass)."""
    return (
        ids.filter(F.size("__ids") > 1)
        .select(F.col("__ids"), F.posexplode("__ids").alias("__i", out[0]))
        .select(
            out[0],
            F.explode(
                F.slice(F.col("__ids"), F.col("__i") + 2, F.size("__ids"))
            ).alias(out[1]),
        )
    )


def shingle_buckets(
    sh: DataFrame, max_doc_freq: int | None = None
) -> DataFrame:
    """(shingle, __ids) inverted index: sorted distinct doc ids per shingle.

    ONE hash aggregate on the shingle key — the document frequency IS
    ``size(__ids)``, so the stop-shingle cap becomes a post-aggregate
    filter instead of :func:`capped_shingles`'s window count (which pays a
    full sort of the (doc_id, shingle) table on the window partitioning).
    Singleton buckets are KEPT: per-doc shingle counts (the Jaccard union
    sizes) are derived from this table, and a doc's size counts every
    sub-cap shingle, shared or not.
    """
    ids = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_set("doc_id")).alias("__ids")
    )
    if max_doc_freq is not None:
        ids = ids.filter(F.size("__ids") <= max_doc_freq)
    return ids


def _attach_pair_sizes(buckets: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_common, __size_sum, __size_min) from an inverted
    index: intra-bucket i<j pairs counted per pair, then BOTH members'
    per-doc shingle counts attached via ONE join.

    The naive per-side join (pairs ⋈ sizes AS a ⋈ sizes AS b) plans the
    sizes subtree twice — Catalyst never reuses a subtree across join
    branches. Unpivoting the (small) pair table to one row per member,
    joining sizes once, and re-grouping by pair computes it once; Jaccard
    needs only size_a+size_b and containment only min(size_a, size_b),
    both recoverable from the per-pair sum/min.
    """
    sizes = (
        buckets.select(F.explode("__ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
    )
    inter = (
        _pairs_from_id_lists(buckets)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.select(
            "doc_a", "doc_b", "n_common",
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id"),
        )
        .join(sizes, "doc_id")
        .groupBy("doc_a", "doc_b", "n_common")
        .agg(
            F.sum("n_shingles").alias("__size_sum"),
            F.min("n_shingles").alias("__size_min"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame, k: int = 3, threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by word-k-gram Jaccard similarity.

    Inverted-index join: |A∩B| from a self-join on shingle, |A∪B| from
    per-doc shingle counts. Jaccard is exact integer arithmetic, so the
    oracle comparison is bit-exact. The stop-shingle cap is fused into the
    bucket aggregate (:func:`shingle_buckets`) — no window sort.
    """
    return jaccard_pairs_from_buckets(
        shingle_buckets(_doc_shingles(docs, k), max_doc_freq=max_doc_freq),
        threshold,
    )


def jaccard_pairs_from_buckets(
    buckets: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Exact-Jaccard near-dup pairs over a prebuilt (shingle, __ids)
    inverted index (:func:`shingle_buckets`).

    |A∩B| = how many buckets emit the pair (≤ max_doc_freq members each);
    |A∪B| = size_a + size_b − n_common, with the sizes attached through
    one unpivoted join (:func:`_attach_pair_sizes`). All-integer inputs to
    the final division — bit-exact across engines.
    """
    jac = _attach_pair_sizes(buckets).withColumn(
        "jaccard",
        F.col("n_common") / (F.col("__size_sum") - F.col("n_common")),
    )
    return jac.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "n_common", F.round("jaccard", 6).alias("jaccard")
    )


def containment_pairs_from_buckets(
    buckets: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """Asymmetric-containment pairs over a (shingle, __ids) inverted index
    (:func:`shingle_buckets`): C(A,B) = |A∩B| / min(|A|,|B|) ≥
    ``threshold``.

    The small-in-large detector Jaccard structurally misses: a document
    fully embedded in one 3× its size has J ≈ 0.33 but containment 1.0
    (quote farms, pagination supersets, article + boilerplate wrappers).
    Same inverted-index plan as :func:`jaccard_pairs_from_buckets`
    (one grouped pass per shingle — no self-join; pair cost bounded
    by the stop-shingle cap the caller applies), only the closing score
    changes: n_common over the SMALLER set's size, one int÷int division —
    bit-identical across engines; min(|A|,|B|) rides the same one-join
    size attach as the Jaccard path (:func:`_attach_pair_sizes`). A
    contained doc shares ALL its shingles with its container, so any of
    its sub-cap shingles surfaces the pair — recall degrades only for
    docs composed entirely of stop-shingles, which the boilerplate
    queries own."""
    return (
        _attach_pair_sizes(buckets)
        .withColumn(
            "containment", F.col("n_common") / F.col("__size_min")
        )
        .filter(F.col("containment") >= threshold)
        .select(
            "doc_a", "doc_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.col("__size_min").cast("long").alias("size_small"),
            "containment",
        )
    )


def minhash_signatures(
    docs: DataFrame, k: int = 3, num_hashes: int = 16,
    *, shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, hash_idx, minhash) MinHash signature, one row per hash fn.

    Hash family: md5_hash60(i || '|' || shingle) — k independent hashes by
    seed-prefixing, portable to the DuckDB oracle. One shuffle
    (groupBy doc_id, hash_idx); documents with no shingles drop out.
    ``shingles`` lets a composite plan pass a pre-materialized
    (doc_id, shingle) table so the corpus explode isn't recomputed here.
    """
    mins = _minhash_mins(docs, k, num_hashes, shingles)
    # unpivot to the (doc_id, hash_idx, minhash) contract
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).alias("hash_idx"), F.col(f"__mh{i}").alias("minhash")
            )
            for i in range(num_hashes)
        ]
    )
    return mins.select(
        "doc_id", F.explode(pairs).alias("p")
    ).select("doc_id", F.col("p.hash_idx"), F.col("p.minhash"))


def _minhash_mins(
    docs: DataFrame | None, k: int, num_hashes: int,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Wide per-doc MinHash mins: (doc_id, __mh0..__mh{n-1}).

    num_hashes MIN-aggregates over the shingle rows instead of exploding
    a hash_idx dimension: same md5 work, but the shuffle carries one row
    per (doc, shingle) rather than num_hashes× that (measured ~3× faster).
    Consumers unpivot (signatures contract) or band directly (LSH index).
    """
    sh = shingles if shingles is not None else _doc_shingles(docs, k)
    return sh.groupBy("doc_id").agg(
        *[
            F.min(
                md5_hash60(F.concat_ws("|", F.lit(str(i)), F.col("shingle")))
            ).alias(f"__mh{i}")
            for i in range(num_hashes)
        ]
    )


def minhash_banded(
    docs: DataFrame, k: int = 3, num_hashes: int = 16, bands: int = 4,
    *, shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, band, band_sig): each doc's MinHash signature split into
    band signatures — the LSH index table. At 100 TB this is what you
    PERSIST for the corpus (KBs per doc), so incremental batches can
    probe it without recomputing corpus signatures.

    r12 (guide §2.3/§2.4): band signatures are built DIRECTLY from the
    wide per-doc min columns — band b's sig is the ':'-join of its
    rows_per_band mins, whose hash_idx order is the column order. The
    old path unpivoted to (doc_id, hash_idx, minhash) rows and
    re-aggregated them (collect_list + array_sort + transform per
    (doc, band), two ObjectHashAggregate pairs in the plan) only to
    reassemble adjacent columns of the row it started from. Same
    strings, same row set; plan drops 16×-row Generate + 4
    ObjectHashAggregate nodes (plans/r12/dedup_minhash_lsh_*)."""
    rows_per_band = num_hashes // bands
    mins = _minhash_mins(docs, k, num_hashes, shingles)
    per_band = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ":",
                    *[
                        F.col(f"__mh{b * rows_per_band + j}").cast("string")
                        for j in range(rows_per_band)
                    ],
                ).alias("band_sig"),
            )
            for b in range(bands)
        ]
    )
    return mins.select("doc_id", F.explode(per_band).alias("p")).select(
        "doc_id", F.col("p.band"), F.col("p.band_sig")
    )


def minhash_lsh_candidates(
    docs: DataFrame, k: int = 3, num_hashes: int = 16, bands: int = 4,
    *, shingles: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: equal band-signatures in ≥1 of `bands` bands.

    rows-per-band = num_hashes / bands. Banding is the 100 TB path: the
    self-join key is (band_idx, band_signature) — docs only meet inside a
    bucket, so cost is Σ bucket², not n².
    """
    banded = minhash_banded(
        docs, k=k, num_hashes=num_hashes, bands=bands, shingles=shingles
    )
    return bucket_pairs(banded, ["band", "band_sig"])


def incremental_minhash_candidates(banded: DataFrame, is_new) -> DataFrame:
    """Candidate pairs between NEW docs and the EXISTING corpus only:
    equi-join the new side's band signatures against the old side's — the
    corpus never self-joins, so a daily batch costs |batch|·bands bucket
    probes against the persisted band index instead of a corpus-wide
    Σ bucket² pass (the near-dup analog of the exact-fingerprint
    bucketed anti-join in dedup_incremental). ``is_new`` is a boolean
    Column over the banded table. Returns (doc_a, doc_b) = (old doc, new
    doc)."""
    new = banded.filter(is_new).select(
        F.col("doc_id").alias("doc_b"), "band", "band_sig"
    )
    old = banded.filter(~is_new).select(
        F.col("doc_id").alias("doc_a"), "band", "band_sig"
    )
    return (
        new.join(old, ["band", "band_sig"])
        .select("doc_a", "doc_b")
        .distinct()
    )


def jaccard_over_candidates(
    docs: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    *, shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard verification restricted to a candidate-pair set.

    The candidates+verify composition (pair with
    :func:`minhash_lsh_candidates`): candidate generation is the banded
    LSH join (cost Σ bucket²), and the exact shingle-set Jaccard runs only
    on candidates — the full-corpus inverted-index self-join (and its
    stop-shingle skew) never happens. The 100 TB text near-dup path.
    Pass a pre-materialized ``shingles`` table to share ONE corpus explode
    between candidate generation and this verify step.
    """
    sh = shingles if shingles is not None else _doc_shingles(docs, k)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    # equi-join on (doc_b, shingle): attaching a's shingles to each
    # candidate then hash-joining b's on BOTH keys yields exactly the
    # intersection rows — never the |sh_a| × |sh_b| cross-blowup a
    # join-then-filter would produce
    inter = (
        candidates.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    za = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a")
    )
    zb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b")
    )
    jac = (
        inter.join(za, "doc_a")
        .join(zb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "n_common", F.round("jaccard", 6).alias("jaccard")
    )


SIMHASH_BITS = 60  # md5_hash60 yields 60 usable bits (15 hex chars)


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) 60-bit SimHash over distinct whitespace tokens.

    Bit b of the signature is the sign of Σ_tokens (±1 per token depending
    on bit b of the token hash) — 60 conditional sums in ONE aggregate pass
    (no per-bit scans).
    """
    toks = _spread(docs).select(
        "doc_id",
        F.explode(F.array_distinct(ws_tokens(F.col("text")))).alias("tok"),
    ).withColumn("h", md5_hash60(F.col("tok")))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sim = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sim = term if sim is None else sim + term
    return votes.select("doc_id", sim.alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame, max_distance: int = 3, bands: int = 4
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_distance via banded LSH.

    60 bits split into `bands` 15-bit chunks; pairs within hamming ≤ 3 must
    agree exactly on ≥1 chunk (pigeonhole), so the candidate join is on
    (band_idx, chunk_value) — never all-pairs. Verification is
    bit_count(xor) on the full signature.
    """
    bits_per_band = SIMHASH_BITS // bands
    mask = (1 << bits_per_band) - 1
    sig = simhash_signatures(docs)
    chunks = sig.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
    ).withColumn(
        # F.shiftright only takes a Python int shift; band varies per row
        "chunk",
        F.expr(f"shiftright(simhash, band * {bits_per_band})")
        .bitwiseAND(F.lit(mask)),
    )
    # intra-bucket pairs via one grouped pass (see bucket_pairs); members
    # carry (doc_id, simhash) structs so the verify step needs no join-back,
    # and struct ordering sorts by doc_id first → doc_a < doc_b holds
    members = (
        chunks.groupBy("band", "chunk")
        .agg(
            F.sort_array(F.collect_set(F.struct("doc_id", "simhash"))).alias(
                "__m"
            )
        )
        .filter(F.size("__m") > 1)
    )
    cand = (
        members.select(
            F.col("__m"), F.posexplode("__m").alias("__i", "__pa")
        )
        .select(
            "__pa",
            F.explode(
                F.slice(F.col("__m"), F.col("__i") + 2, F.size("__m"))
            ).alias("__pb"),
        )
        .select(
            F.col("__pa.doc_id").alias("doc_a"),
            F.col("__pb.doc_id").alias("doc_b"),
            F.col("__pa.simhash").alias("sim_a"),
            F.col("__pb.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_distance)
        .select("doc_a", "doc_b", "hamming")
    )
