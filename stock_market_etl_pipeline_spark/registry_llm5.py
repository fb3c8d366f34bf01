"""LLM/corpus operators, part 5: lexical relevance scoring — TF-IDF
document vectors and BM25 top-k retrieval.

The one text-curation family the registry lacked (VERDICT r6 #3): a
corpus-wide DF/IDF table, per-document TF-IDF term vectors, and BM25
ranked retrieval for a fixed query set. These anchor quality-weighted
sampling ("keep the docs most relevant to a target domain") and
decontamination scoring ("rank training docs by similarity to benchmark
queries") — both are BM25 runs with different query tables.

Exactness discipline (NOTES rules 11-13): BM25 is a per-(query, doc)
SUM of term contributions — a multiply-add chain that DuckDB would
FMA-contract if evaluated in floats. Instead every contribution is an
EXACT integer:

- idf is quantized ONCE per term: idf_u = floor(ln((N - df + 0.5) /
  (df + 0.5) + 1) * 1e6 + 0.5) — the Lucene-BM25 idf (always > 0).
  The ln argument is built from single correctly-rounded double ops on
  exact integers (identical doubles both engines); ln itself may differ
  in the last ulp, but a flip needs ln(x)*1e6 within ~1e-9 of an
  integer boundary (probability ~ulp·1e6/1 ≈ 1e-9 per DISTINCT TERM,
  and there are at most |vocab| terms — not per row).
- the tf normalization is rational for k1 = 6/5, b = 3/4: multiplying
  numerator and denominator by 10·SL gives
      tfnorm = 22·tf·SL / (10·SL·tf + 3·SL + 9·dl·N)
  with SL = corpus token count, dl = doc length — all exact int64.
- term contribution = (idf_u · 22 · tf · SL · 1000) div denom in
  DECIMAL(38)/HUGEINT (truncating integer division, identical both
  engines — rule 13), landing in 1e-9 units; the per-(query, doc) SUM
  is then exact int64, the ranking key is that INTEGER, and the emitted
  score is one exact-int→double cast + one division by 1e9.

100 TB shape: BM25 never materializes the full vocabulary — the token
stream is filtered to the query terms BEFORE the (doc, token) aggregate
(a literal IN-filter Catalyst pushes below the shuffle), DF/IDF for
those terms is a tiny broadcast, and corpus N/SL is a 1-row broadcast.
Top-k per query is a SALTED two-phase window (k per (query, salt)
bucket first, then k over the ≤ salt·k survivors) so no partition ever
holds a whole query's corpus-sized candidate list. TF-IDF does need the
vocabulary DF table, but it is an aggregate (never a self-join) and the
(doc,token)⋈(token) idf join happens AFTER the min_df/max_df caps strip
the stop-token head — the same skew guard as token_cooccurrence's vocab
cap; the caps are cost bounds that never trip at oracle-verify scales
(asserted in tests/test_llm_ops3.py).

Reference lineage: the reference has no retrieval surface at all —
extension scope per SURVEY §2.12, tokenization shared with
functions/text.py (reference src/transform.py:61-77 string cleaning).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .functions.text import ws_tokens
from .registry import register
from .sources.tables import load_table

# BM25 free parameters (the universal defaults), as exact rationals:
# k1 = 6/5, b = 3/4 → tfnorm = 22·tf·SL / (10·SL·tf + 3·SL + 9·dl·N).
_IDF_SCALE = 1_000_000  # idf quantization: 1e-6 units
_CONTRIB_SCALE = 1_000  # contribution lands in 1e-9 units (idf_u · 1000)

# Fixed query set: retrieval needs a query table; these are literal in
# both engines. One rare term (dup: df≈25/500 → idf≈3.0), two mid-idf
# multi-term queries, and one query with a term absent from the corpus
# (warehouse) — absent terms contribute no rows and must simply drop out.
_BM25_QUERIES: list[tuple[str, list[str]]] = [
    ("dup hunt", ["dup"]),
    ("window merge", ["window", "merge"]),
    ("spark stream join", ["spark", "stream", "join"]),
    ("customer data warehouse", ["customer", "data", "warehouse"]),
]
_BM25_K = 10
_TOPK_SALTS = 32  # phase-1 salt buckets for the scalable per-query top-k

# TF-IDF vocabulary caps (cost bounds at scale, non-tripping at verify
# scales — the _LSH_MAX_BUCKET contract): drop terms seen in fewer than
# MIN_DF docs (hapax noise) or more than 90% of docs (stop tokens).
_TFIDF_MIN_DF = 2
_TFIDF_MAX_DF_NUM, _TFIDF_MAX_DF_DEN = 9, 10  # df·10 ≤ N·9
_TFIDF_TOP_TERMS = 5

_Q_VALUES = ", ".join(
    f"('{qid}', '{t}')" for qid, terms in _BM25_QUERIES for t in terms
)

# Shared oracle CTE prefix: token stream + corpus stats + per-doc tf/dl.
_LEX_CTE = r"""
toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
    FROM documents
),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(t)) AS BIGINT) AS sl
    FROM toks
),
dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
tok AS (
    SELECT doc_id, lower(u.tk) AS token FROM toks, UNNEST(t) AS u(tk)
),
tf AS (
    SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
    FROM tok GROUP BY 1, 2
)
"""

_IDF_EXPR = (
    "CAST(FLOOR(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * 1000000.0"
    " + 0.5) AS BIGINT)"
)


def _docs_tokens(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", ws_tokens(F.col("text")).alias("__toks")
    ).select(
        "doc_id",
        F.size("__toks").cast("long").alias("dl"),
        F.explode("__toks").alias("__tk"),
    ).select("doc_id", "dl", F.lower("__tk").alias("token"))


def _idf_u(n_docs_col, df_col):
    """Quantized Lucene-BM25 idf: floor(ln((N-df+.5)/(df+.5)+1)·1e6+.5).
    floor(x+0.5) is round-half-up spelled identically in both engines
    (Spark ROUND on doubles is half-up, DuckDB's is half-even — avoided)."""
    arg = (n_docs_col - df_col + F.lit(0.5)) / (df_col + F.lit(0.5)) + F.lit(1.0)
    return F.floor(F.log(arg) * _IDF_SCALE + F.lit(0.5)).cast("long")


@register(
    "bm25_topk",
    "WITH " + _LEX_CTE + f""",
    q AS (SELECT * FROM (VALUES {_Q_VALUES}) AS v(query_id, term)),
    hits AS (
        SELECT q.query_id, tf.doc_id, tf.token, tf.tf, dl.dl
        FROM tf JOIN q ON tf.token = q.term
        JOIN dl ON tf.doc_id = dl.doc_id
    ),
    df AS (
        SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM hits GROUP BY 1
    ),
    idf AS (SELECT token, {_IDF_EXPR} AS idf_u FROM df, stats),
    contrib AS (
        SELECT h.query_id, h.doc_id,
               CAST(CAST(i.idf_u AS HUGEINT) * 22 * h.tf * s.sl * 1000
                    // (10 * CAST(s.sl AS HUGEINT) * h.tf
                        + 3 * CAST(s.sl AS HUGEINT)
                        + 9 * CAST(h.dl AS HUGEINT) * s.n_docs)
                    AS BIGINT) AS c
        FROM hits h JOIN idf i ON h.token = i.token, stats s
    ),
    scored AS (
        SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS score_nano
        FROM contrib GROUP BY 1, 2
    ),
    ranked AS (
        SELECT query_id, doc_id, score_nano,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY score_nano DESC, doc_id) AS rnk
        FROM scored
    )
    SELECT query_id, doc_id,
           score_nano / 1000000000.0 AS bm25,
           CAST(rnk AS INTEGER) AS bm25_rank
    FROM ranked WHERE rnk <= {_BM25_K}
    """,
)
def q_bm25_topk(spark, sf_dir):
    """BM25(k1=1.2, b=0.75) top-10 documents per query over the fixed
    query table. Exact-integer scoring (module docstring); the emitted
    ``bm25`` is score_nano/1e9 — one exact-int→double cast and one
    correctly-rounded division, bit-identical across engines.

    Plan: token stream filtered to query terms BEFORE the (doc, token)
    aggregate (pushed IN-filter); df/idf and corpus stats broadcast;
    per-query top-k via the salted two-phase window so no partition
    sees more than ~corpus/32 candidate rows of one query."""
    toks = _docs_tokens(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    # 1-row corpus stats, materialized once (consumed by idf AND the
    # contribution arithmetic — without the checkpoint each consumer
    # replans its own full corpus scan: measured 4 scans → 2)
    stats = docs.select(
        "doc_id", F.size(ws_tokens(F.col("text"))).cast("long").alias("__n")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__n").alias("sl"),
    ).localCheckpoint(eager=True)
    terms = sorted({t for _, ts in _BM25_QUERIES for t in ts})
    qdf = spark.createDataFrame(
        [(qid, t) for qid, ts in _BM25_QUERIES for t in ts],
        "query_id string, term string",
    )
    # (doc, term) postings for QUERY TERMS ONLY (the IN-filter runs
    # before the aggregate), shared by the df/idf branch and the
    # scoring branch via one materialization — corpus_prep's pattern
    tf = (
        toks.filter(F.col("token").isin(terms))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"),
             F.max("dl").alias("dl"))
    ).localCheckpoint(eager=True)
    df_t = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    idf = (
        df_t.crossJoin(F.broadcast(stats))
        .select("token", _idf_u(F.col("n_docs"), F.col("df")).alias("idf_u"))
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    contrib = (
        tf.join(F.broadcast(idf), "token")
        .join(F.broadcast(qdf), F.col("token") == F.col("term"))
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id", "doc_id",
            (dec(F.col("idf_u")) * 22 * dec(F.col("tf")) * dec(F.col("sl"))
             * _CONTRIB_SCALE).alias("__num"),
            (dec(F.lit(10)) * dec(F.col("sl")) * dec(F.col("tf"))
             + dec(F.lit(3)) * dec(F.col("sl"))
             + dec(F.lit(9)) * dec(F.col("dl")) * dec(F.col("n_docs"))
             ).alias("__den"),
        )
        .select(
            "query_id", "doc_id",
            F.expr("__num div __den").cast("long").alias("__c"),
        )
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.sum("__c").alias("score_nano")
    )
    # salted two-phase top-k: any global top-k row is top-k within its
    # salt bucket, so phase 1 keeps exactly enough and phase 2 ranks
    # ≤ _TOPK_SALTS·k rows per query — bounded at any corpus size
    w1 = Window.partitionBy(
        "query_id", F.pmod(F.col("doc_id"), F.lit(_TOPK_SALTS))
    ).orderBy(F.col("score_nano").desc(), "doc_id")
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("score_nano").desc(), "doc_id"
    )
    return (
        scored.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= _BM25_K)
        .withColumn("bm25_rank", F.row_number().over(w2).cast("int"))
        .filter(F.col("bm25_rank") <= _BM25_K)
        .select(
            "query_id", "doc_id",
            (F.col("score_nano").cast("double") / F.lit(1e9)).alias("bm25"),
            "bm25_rank",
        )
    )


@register(
    "tfidf_doc_vectors",
    "WITH " + _LEX_CTE + f""",
    df AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ),
    kept AS (
        SELECT token, df, {_IDF_EXPR} AS idf_u
        FROM df, stats
        WHERE df >= {_TFIDF_MIN_DF}
          AND df * {_TFIDF_MAX_DF_DEN} <= n_docs * {_TFIDF_MAX_DF_NUM}
    ),
    weighted AS (
        SELECT tf.doc_id, tf.token, tf.tf, k.df,
               tf.tf * k.idf_u AS weight_u
        FROM tf JOIN kept k ON tf.token = k.token
    ),
    ranked AS (
        SELECT doc_id, token, tf, df, weight_u,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_id
                   ORDER BY weight_u DESC, token) AS rnk
        FROM weighted
    )
    SELECT doc_id, CAST(rnk AS INTEGER) AS term_rank, token,
           tf, df, weight_u / 1000000.0 AS tfidf
    FROM ranked WHERE rnk <= {_TFIDF_TOP_TERMS}
    """,
)
def q_tfidf_doc_vectors(spark, sf_dir):
    """Top-5 TF-IDF terms per document (the sparse doc vector a
    similarity or clustering pass starts from): weight_u = tf · idf_u is
    EXACT int64 (no float sum anywhere), ranked (weight_u DESC, token).
    min_df/max_df caps strip hapax noise and the stop-token head before
    the idf join — the df table is vocabulary-sized (an aggregate,
    never a self-join) and the join key's skew head is exactly what the
    max_df cap removed. Per-doc window partitions are bounded by doc
    length."""
    toks = _docs_tokens(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    # the (doc, token) tf table feeds BOTH the df rollup and the final
    # weight join; materialize it once (3 corpus scans → 2)
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    ).localCheckpoint(eager=True)
    df_t = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    kept = (
        df_t.crossJoin(F.broadcast(n_docs))
        .filter(
            (F.col("df") >= _TFIDF_MIN_DF)
            & (F.col("df") * _TFIDF_MAX_DF_DEN
               <= F.col("n_docs") * _TFIDF_MAX_DF_NUM)
        )
        .select(
            "token", "df",
            _idf_u(F.col("n_docs"), F.col("df")).alias("idf_u"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("weight_u").desc(), "token"
    )
    return (
        tf.join(kept, "token")
        .select(
            "doc_id", "token", "tf", "df",
            (F.col("tf") * F.col("idf_u")).alias("weight_u"),
        )
        .withColumn("term_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("term_rank") <= _TFIDF_TOP_TERMS)
        .select(
            "doc_id", "term_rank", "token", "tf", "df",
            (F.col("weight_u").cast("double") / F.lit(1e6)).alias("tfidf"),
        )
    )


# ---------------------------------------------------------------------------
# BM25-scored decontamination (VERDICT r7 #3): compose bm25_topk's
# exact-integer scoring with benchmark_contamination's needle screen
# into a per-doc keep / flag / drop decision.
# ---------------------------------------------------------------------------

# The benchmark "queries" are the needle phrases themselves (in
# production: one query per eval item, thousands of them — same plan).
# Kept in sync with registry_llm.py's _CONTAMINATION_NEEDLES so the two
# screens audit the SAME benchmark set.
_DECON_NEEDLES: list[tuple[str, str]] = [
    ("needle_1", "the quick brown fox"),
    ("needle_2", "hash join build side"),
    ("needle_3", "stream stream stream"),
]
# Flag a doc when its BM25 score reaches 9/10 of the per-query best —
# scale-free (both sides of the cross-multiplied comparison are exact
# int64, so the decision is hash-portable at any corpus size). Measured
# flag mass on the testdata corpus: ~2% of docs at 9/10 (a reviewable
# tail) vs ~70% at 3/5 (scores cluster tightly on homogeneous corpora —
# the threshold is a review-budget dial, not a semantics knob).
_DECON_REL_NUM, _DECON_REL_DEN = 9, 10
# Query terms seen in >90% of docs carry ~zero idf and corpus-sized
# postings; drop them from scoring (an impact-sorted index's stop-term
# cut). Mirrored in the oracle — a cost bound, not a heuristic.
_DECON_MAX_DF_NUM, _DECON_MAX_DF_DEN = 9, 10


def bm25_decontaminate(
    spark,
    docs,
    queries: list[tuple[str, str]],
):
    """Per-document contamination decisions for a benchmark query set.

    ``queries`` is [(query_id, phrase)]. Two composed signals:

    - exact: the normalized text CONTAINS the contiguous phrase
      (benchmark_contamination's screen) → decision 'drop', weight 0.0 —
      certain leakage, whatever the lexical score says;
    - lexical: BM25 (exact-integer scoring, see module docstring) of the
      doc against the phrase's term set reaches 9/10 of the per-query
      best score → decision 'flag', weight 0.5 — a paraphrase-ish
      near-copy the contiguous n-gram screen CANNOT see
      (terms present, phrase broken). Everything else keeps weight 1.0
      and is not emitted.

    100 TB shape: the (query, doc) pair stream is the inverted-index
    postings for the query terms only (Σ_t df(t) rows — linear in
    corpus, never quadratic), the >90%-df stop-term cap bounds the
    worst posting list, per-query stats/idf broadcast, and the
    threshold needs one tiny best-per-query rollup — no window over
    corpus-sized partitions anywhere. Reference lineage: extension
    scope per SURVEY §2.12 (the reference has no retrieval surface).
    """
    qterms = [(qid, t) for qid, phrase in queries
              for t in sorted(set(phrase.split()))]
    terms = sorted({t for _, t in qterms})
    toks = docs.select(
        "doc_id", ws_tokens(F.col("text")).alias("__toks")
    ).select(
        "doc_id",
        F.size("__toks").cast("long").alias("dl"),
        F.explode("__toks").alias("__tk"),
    ).select("doc_id", "dl", F.lower("__tk").alias("token"))
    stats = docs.select(
        F.size(ws_tokens(F.col("text"))).cast("long").alias("__n")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__n").alias("sl"),
    ).localCheckpoint(eager=True)
    qdf = spark.createDataFrame(qterms, "query_id string, term string")
    tf = (
        toks.filter(F.col("token").isin(terms))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"),
             F.max("dl").alias("dl"))
    ).localCheckpoint(eager=True)
    df_t = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    idf = (
        df_t.crossJoin(F.broadcast(stats))
        .filter(F.col("df") * _DECON_MAX_DF_DEN
                <= F.col("n_docs") * _DECON_MAX_DF_NUM)
        .select("token", _idf_u(F.col("n_docs"), F.col("df")).alias("idf_u"))
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    contrib = (
        tf.join(F.broadcast(idf), "token")
        .join(F.broadcast(qdf), F.col("token") == F.col("term"))
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id", "doc_id",
            (dec(F.col("idf_u")) * 22 * dec(F.col("tf")) * dec(F.col("sl"))
             * _CONTRIB_SCALE).alias("__num"),
            (dec(F.lit(10)) * dec(F.col("sl")) * dec(F.col("tf"))
             + dec(F.lit(3)) * dec(F.col("sl"))
             + dec(F.lit(9)) * dec(F.col("dl")) * dec(F.col("n_docs"))
             ).alias("__den"),
        )
        .select(
            "query_id", "doc_id",
            F.expr("__num div __den").cast("long").alias("__c"),
        )
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.sum("__c").alias("score_nano")
    ).localCheckpoint(eager=True)
    best = scored.groupBy("query_id").agg(
        F.max("score_nano").alias("best_nano")
    )
    ntext = F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
    exact = (
        docs.select("doc_id", ntext.alias("__nt"))
        .select(
            "doc_id",
            F.explode(F.array(*[
                F.struct(
                    F.lit(qid).alias("query_id"),
                    F.col("__nt").contains(phrase).alias("h"),
                )
                for qid, phrase in queries
            ])).alias("e"),
        )
        .filter(F.col("e.h"))
        .select(F.col("e.query_id").alias("query_id"), "doc_id")
    )
    on = ["query_id", "doc_id"]
    drop_rows = (
        exact.join(scored, on, "left")
        .select(
            *on,
            F.coalesce(F.col("score_nano"), F.lit(0).cast("long"))
            .alias("score_nano"),
            F.lit(True).alias("ngram_hit"),
            F.lit("drop").alias("decision"),
            F.lit(0.0).alias("weight"),
        )
    )
    flag_rows = (
        scored.join(F.broadcast(best), "query_id")
        .filter(F.col("score_nano") * _DECON_REL_DEN
                >= F.col("best_nano") * _DECON_REL_NUM)
        .join(exact, on, "left_anti")
        .select(
            *on,
            "score_nano",
            F.lit(False).alias("ngram_hit"),
            F.lit("flag").alias("decision"),
            F.lit(0.5).alias("weight"),
        )
    )
    return drop_rows.unionByName(flag_rows).select(
        *on,
        (F.col("score_nano").cast("double") / F.lit(1e9)).alias("bm25"),
        "ngram_hit", "decision", "weight",
    )


_DECON_Q_VALUES = ", ".join(
    f"('{qid}', '{t}')"
    for qid, phrase in _DECON_NEEDLES
    for t in sorted(set(phrase.split()))
)
_DECON_EXACT_SQL = " UNION ALL ".join(
    f"SELECT '{qid}' AS query_id, doc_id FROM norm "
    f"WHERE ntext LIKE '%{phrase}%'"
    for qid, phrase in _DECON_NEEDLES
)


@register(
    "bm25_decontamination",
    "WITH " + _LEX_CTE + f""",
    q AS (SELECT * FROM (VALUES {_DECON_Q_VALUES}) AS v(query_id, term)),
    hits AS (
        SELECT q.query_id, tf.doc_id, tf.token, tf.tf, dl.dl
        FROM tf JOIN q ON tf.token = q.term
        JOIN dl ON tf.doc_id = dl.doc_id
    ),
    df AS (
        SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM hits GROUP BY 1
    ),
    idf AS (
        SELECT token, {_IDF_EXPR} AS idf_u
        FROM df, stats
        WHERE df * {_DECON_MAX_DF_DEN} <= n_docs * {_DECON_MAX_DF_NUM}
    ),
    contrib AS (
        SELECT h.query_id, h.doc_id,
               CAST(CAST(i.idf_u AS HUGEINT) * 22 * h.tf * s.sl * 1000
                    // (10 * CAST(s.sl AS HUGEINT) * h.tf
                        + 3 * CAST(s.sl AS HUGEINT)
                        + 9 * CAST(h.dl AS HUGEINT) * s.n_docs)
                    AS BIGINT) AS c
        FROM hits h JOIN idf i ON h.token = i.token, stats s
    ),
    scored AS (
        SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS score_nano
        FROM contrib GROUP BY 1, 2
    ),
    best AS (
        SELECT query_id, MAX(score_nano) AS best_nano
        FROM scored GROUP BY 1
    ),
    norm AS (
        SELECT doc_id,
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS ntext
        FROM documents
    ),
    exact AS ({_DECON_EXACT_SQL}),
    drop_rows AS (
        SELECT e.query_id, e.doc_id,
               COALESCE(s.score_nano, CAST(0 AS BIGINT)) AS score_nano,
               TRUE AS ngram_hit, 'drop' AS decision,
               CAST(0.0 AS DOUBLE) AS weight
        FROM exact e
        LEFT JOIN scored s
          ON e.query_id = s.query_id AND e.doc_id = s.doc_id
    ),
    flag_rows AS (
        SELECT s.query_id, s.doc_id, s.score_nano,
               FALSE AS ngram_hit, 'flag' AS decision,
               CAST(0.5 AS DOUBLE) AS weight
        FROM scored s JOIN best b ON s.query_id = b.query_id
        WHERE s.score_nano * {_DECON_REL_DEN}
              >= b.best_nano * {_DECON_REL_NUM}
          AND NOT EXISTS (
              SELECT 1 FROM exact e
              WHERE e.query_id = s.query_id AND e.doc_id = s.doc_id
          )
    )
    SELECT query_id, doc_id, score_nano / 1000000000.0 AS bm25,
           ngram_hit, decision, weight
    FROM (SELECT * FROM drop_rows UNION ALL SELECT * FROM flag_rows)
    """,
)
def q_bm25_decontamination(spark, sf_dir):
    """BM25-scored decontamination decisions over the benchmark needle
    set (see :func:`bm25_decontaminate`): exact contiguous-phrase hits
    drop (weight 0.0); docs whose exact-integer BM25 score reaches 9/10
    of the per-query best — paraphrase-ish near-copies the n-gram
    screen cannot see — flag for downweighting (weight 0.5); everything
    else keeps weight 1.0 and is not emitted. The per-query argmax doc
    is always emitted, so the query is non-vacuous at every scale by
    construction."""
    return bm25_decontaminate(
        spark, load_table(spark, sf_dir, "documents"), _DECON_NEEDLES
    )
