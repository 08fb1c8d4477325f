"""Keyword retrieval over the document corpus: BM25 top-k ranking through
an inverted-index-shaped plan (beyond-reference §2.G family — the search
side of an LLM-data pipeline, next to the dedup/similarity operators).

Scale design (100 TB):
- The expensive relation is the posting list (doc_id, term, tf) — but the
  term filter ``term IN (<query>)`` is applied AT the explode, before any
  aggregation, so only postings for the |Q| query terms (a vanishing
  fraction of the corpus) ever reach a shuffle.  This is the batch
  equivalent of an inverted-index lookup: candidate set = union of the
  query terms' posting lists.
- Corpus statistics (N, avgdl) are a scalar aggregate over (doc_id,
  doc_len) — map-side partial agg, a one-row broadcast into the scorer.
- Per-term document frequencies aggregate from the already-filtered
  postings (|Q| rows out), never from the full vocabulary.
- The final ORDER BY + LIMIT k is a TakeOrdered over only the candidate
  docs, not a global sort of the corpus.

The whole operator is ONE dual-dialect SQL template (functions/dialect.py):
the driver-facing Spark query and its DuckDB oracle are the same
expression, all JVM-native.  Floating-point: every literal uses the e0
(double) form so both engines stay in double arithmetic end-to-end, and
the score is round()ed to 6 places for cross-engine hash stability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.dialect import Dialect
from ..registry import register, register_sql
from ..sources.tables import load_table

QUERY_TERMS = ("spark", "join", "window", "vector")
K1 = "1.2e0"
B = "0.75e0"
TOP_K = 25


def _bm25_sql(d: Dialect, table: str, terms: tuple[str, ...] = QUERY_TERMS, k: int = TOP_K) -> str:
    w = d.splitws("lower(text)")
    in_list = ", ".join(f"'{t}'" for t in terms)
    if d.name == "spark":
        postings = (
            f"SELECT doc_id, term FROM words "
            f"LATERAL VIEW explode(w) t AS term WHERE term IN ({in_list})"
        )
        dl_expr = "size(w)"
    else:
        # DuckDB can't filter an unnest in the WHERE of the same SELECT; wrap.
        postings = (
            f"SELECT doc_id, term FROM "
            f"(SELECT doc_id, unnest(w) AS term FROM words) p "
            f"WHERE term IN ({in_list})"
        )
        dl_expr = "len(w)"
    return f"""
WITH words AS (SELECT doc_id, {w} AS w FROM {table}),
dl AS (SELECT doc_id, {dl_expr} AS dl FROM words),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM ({postings}) p GROUP BY doc_id, term),
-- df as a window over the (already term-filtered, one-row-per-doc-term)
-- postings: no self-join, and the tf relation is derived exactly once.
tfdf AS (SELECT doc_id, term, tf, COUNT(*) OVER (PARTITION BY term) AS df FROM tf),
scored AS (
  SELECT tfdf.doc_id,
         SUM(
           ln((stats.n_docs - tfdf.df + 0.5e0) / (tfdf.df + 0.5e0) + 1.0e0)
           * (tfdf.tf * ({K1} + 1.0e0))
           / (tfdf.tf + {K1} * (1.0e0 - {B} + {B} * dl.dl / stats.avgdl))
         ) AS s
  FROM tfdf
  JOIN dl ON tfdf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tfdf.doc_id
)
SELECT doc_id, CAST(ROUND(s, 6) AS DOUBLE) AS bm25
FROM scored
ORDER BY bm25 DESC, doc_id
LIMIT {k}
"""


register_sql(
    "bm25_topk_search",
    _bm25_sql,
    ("documents",),
    doc="BM25 keyword search, top-25: inverted-index-shaped plan — postings "
    "filtered to the query terms at the explode (candidate set = union of "
    "posting lists, never the full vocabulary), scalar corpus stats, "
    "TakeOrdered final ranking. One dual-dialect SQL template.",
    tags=("retrieval", "text"),
)


# --------------------------------------------------------------------------
# hybrid retrieval: BM25 (sparse) + cosine (dense) fused by reciprocal rank
# --------------------------------------------------------------------------
RRF_C = 60  # the standard RRF constant (Cormack/Clarke/Buettcher 2009)
RRF_ARM_K = 25  # per-arm candidate depth
RRF_OUT_K = 15
# Query-by-example: a corpus vector stands in for an encoded query (the
# engine has no text encoder; embeddings are keyed 1:1 with
# documents.doc_id).  The query vector is selected by RULE — MIN(vec_id)
# over the corpus — not by a hard-coded id: on a filtered or re-keyed
# corpus a literal id can simply be absent, and the dense arm would then
# return zero rows, silently degrading the "hybrid" query to BM25-only
# fusion with no signal in the output.


def _rrf_sql(d: Dialect, docs_table: str, emb_table: str) -> str:
    """Reciprocal-rank-fusion hybrid search: each arm contributes
    1/(C + rank) for its top-``RRF_ARM_K``; docs found by both arms rise.

    Scale shape: both arms are already bounded top-k relations — the BM25
    arm is the inverted-index-shaped plan above (candidates = union of the
    query terms' posting lists), the dense arm is one broadcast query
    vector against the corpus with a TakeOrdered tail — so the fusion
    FULL OUTER JOIN sees at most 2*RRF_ARM_K rows, trivially
    broadcastable.  Rank arithmetic is integer-in/exact-in-double, so the
    fused score is cross-engine exact after round(6)."""
    from .similarity import _cosine

    bm25 = _bm25_sql(d, docs_table, k=RRF_ARM_K)
    cos = _cosine(d, "e.embedding", "q.embedding")
    return f"""
WITH bm_top AS ({bm25}),
bm AS (
  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS r
  FROM bm_top
),
dn_top AS (
  SELECT e.vec_id AS doc_id, {cos} AS cosine
  FROM {emb_table} e CROSS JOIN (
    SELECT vec_id, embedding FROM {emb_table} ORDER BY vec_id LIMIT 1
  ) q
  WHERE e.vec_id <> q.vec_id
  ORDER BY cosine DESC, doc_id
  LIMIT {RRF_ARM_K}
),
dn AS (
  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS INT) AS r
  FROM dn_top
),
fused AS (
  SELECT COALESCE(bm.doc_id, dn.doc_id) AS doc_id,
         bm.r AS sparse_rank,
         dn.r AS dense_rank,
         COALESCE(1.0e0 / ({RRF_C} + bm.r), 0.0e0)
           + COALESCE(1.0e0 / ({RRF_C} + dn.r), 0.0e0) AS rrf
  FROM bm FULL OUTER JOIN dn ON bm.doc_id = dn.doc_id
)
SELECT doc_id, sparse_rank, dense_rank,
       CAST(ROUND(rrf, 6) AS DOUBLE) AS rrf_score
FROM fused
ORDER BY rrf DESC, doc_id
LIMIT {RRF_OUT_K}
"""


register_sql(
    "hybrid_rrf_retrieval",
    _rrf_sql,
    ("documents", "embeddings"),
    doc=f"Hybrid sparse+dense retrieval fused by reciprocal rank "
    f"(1/({RRF_C}+rank), Cormack et al. 2009): BM25 top-{RRF_ARM_K} "
    f"(inverted-index-shaped) + query-by-example cosine top-{RRF_ARM_K} "
    "(one broadcast vector, TakeOrdered), FULL OUTER fusion over <= "
    f"2x{RRF_ARM_K} candidate rows.  The RAG retrieval stack in one plan.",
    tags=("retrieval", "similarity", "text"),
)


# --------------------------------------------------------------------------
# TF-IDF keyword extraction (per-doc top terms)
# --------------------------------------------------------------------------
TFIDF_TOP_K = 3


def _tfidf_top_terms_sql(d: Dialect, table: str) -> str:
    """Per-document TF-IDF keyword extraction: rank each doc's terms by
    tf * smooth-idf and keep the top TFIDF_TOP_K — the labeling/routing
    primitive next to BM25 (which ranks DOCS for a query; this ranks
    TERMS for a doc).

    Scale shape: one tf aggregation over the exploded corpus (map-side
    combinable), df as a term-partitioned window over the (already
    aggregated, one-row-per-doc-term) tf relation, a one-row corpus-size
    scalar, and a doc-partitioned ranking window — no joins between
    documents, nothing global.

    Determinism: idf goes through ln (engine libm — same empirically
    verified class as BM25), so the RANKING key is the score ROUNDED to 6
    places with the term as tie-break: two engines whose ln results differ
    in the last ulp still rank identically."""
    w = d.splitws("lower(text)")
    if d.name == "spark":
        words_rel = f"SELECT doc_id, term FROM {table} LATERAL VIEW explode({w}) t AS term"
    else:
        words_rel = f"SELECT doc_id, unnest({w}) AS term FROM {table}"
    return f"""
WITH words AS ({words_rel}),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM words GROUP BY doc_id, term),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
tfdf AS (
  SELECT doc_id, term, tf, COUNT(*) OVER (PARTITION BY term) AS df FROM tf
),
scored AS (
  SELECT doc_id, term,
         ROUND(tf * (ln((n.n_docs + 1.0e0) / (df + 1.0e0)) + 1.0e0), 6) AS score
  FROM tfdf CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
  FROM scored
)
SELECT doc_id, CAST(rk AS INT) AS rk, term, CAST(score AS DOUBLE) AS score
FROM ranked WHERE rk <= {TFIDF_TOP_K}
ORDER BY doc_id, rk
"""


register_sql(
    "tfidf_top_terms",
    _tfidf_top_terms_sql,
    ("documents",),
    doc=f"TF-IDF keyword extraction: top-{TFIDF_TOP_K} terms per document "
    "by tf x smooth-idf. One map-side tf aggregate, term-partitioned df "
    "window over the aggregated relation, doc-partitioned ranking window "
    "keyed on the ROUNDED score (term tie-break) so engine-libm ln ulps "
    "cannot flip ranks. No doc-doc joins, nothing global.",
    tags=("retrieval", "text", "window"),
)


# --------------------------------------------------------------------------
# MMR diversified re-ranking over the dense arm
# --------------------------------------------------------------------------
MMR_LAMBDA = 0.7
MMR_POOL = 50
MMR_K = 10


@register(
    "mmr_diversified_topk",
    oracle=None,  # sequential argmax selection is not SQL-expressible;
    # invariants pinned in tests/test_round6d_ops.py (first pick = top
    # relevance, rerun determinism, duplicate suppression)
    doc=f"Maximal Marginal Relevance re-ranking (Carbonell & Goldstein "
    f"1998): the dense arm's top-{MMR_POOL} cosine candidates (TakeOrdered "
    "— never a global sort) are re-ranked by iteratively selecting "
    f"argmax lambda*rel - (1-lambda)*max_sim_to_selected, k={MMR_K}, "
    f"lambda={MMR_LAMBDA}.  The candidate pool is a BOUNDED collect "
    "(O(pool x dim) driver state — the same bounded-model contract as "
    "k-means centroids); selection is O(k x pool) float64 ops, "
    "deterministic with (score desc, vec_id asc) tie-break.  Query vector "
    "chosen by rule (MIN vec_id) like hybrid_rrf_retrieval.",
    tags=("retrieval", "similarity", "rerank"),
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    if emb.isEmpty():
        return spark.createDataFrame(
            [], "rank int, vec_id bigint, relevance double, mmr_score double"
        )
    qrow = emb.orderBy("vec_id").limit(1).collect()[0]
    q = np.asarray(qrow["embedding"], dtype=np.float64)
    qn = q / np.sqrt((q * q).sum())
    from pyspark.sql import functions as F

    qlit = F.array(*[F.lit(float(x)) for x in qn])
    scored = (
        emb.where(F.col("vec_id") != int(qrow["vec_id"]))
        .withColumn("__q", qlit)
        .select(
            "vec_id",
            "embedding",
            F.expr(
                "aggregate(zip_with(embedding, __q, (x, y) -> cast(x as double) * y),"
                " cast(0 as double), (a, v) -> a + v)"
                " / sqrt(aggregate(transform(embedding, x -> cast(x as double) * x),"
                " cast(0 as double), (a, v) -> a + v))"
            ).alias("relevance"),
        )
    )
    pool = scored.orderBy(F.desc("relevance"), "vec_id").limit(MMR_POOL).collect()
    if not pool:
        return spark.createDataFrame(
            [], "rank int, vec_id bigint, relevance double, mmr_score double"
        )
    vecs = np.asarray([r["embedding"] for r in pool], dtype=np.float64)
    vecs = vecs / np.sqrt((vecs * vecs).sum(axis=1, keepdims=True))
    rel = np.asarray([r["relevance"] for r in pool])
    ids = [int(r["vec_id"]) for r in pool]
    selected: list[int] = []
    out = []
    max_sim = np.full(len(pool), -1.0)
    for rank in range(1, min(MMR_K, len(pool)) + 1):
        if selected:
            sims = vecs @ vecs[selected[-1]]
            max_sim = np.maximum(max_sim, sims)
            score = MMR_LAMBDA * rel - (1 - MMR_LAMBDA) * max_sim
        else:
            score = rel.copy()
        score[selected] = -np.inf
        # deterministic argmax: best score, then smallest vec_id
        best = min(range(len(pool)), key=lambda i: (-score[i], ids[i]))
        selected.append(best)
        out.append(
            (rank, ids[best], round(float(rel[best]), 6), round(float(score[best]), 6))
        )
    return spark.createDataFrame(
        out, "rank int, vec_id bigint, relevance double, mmr_score double"
    )
