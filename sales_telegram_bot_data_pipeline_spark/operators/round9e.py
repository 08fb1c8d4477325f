"""Round-9 continuation, fourth batch — five more never-covered families:

- ``ndcg_retrieval_eval`` — graded-relevance evaluation of the BM25
  ranking: DCG@10 / ideal-DCG@10 / nDCG@10 plus precision@10 and
  recall@10, with the position discounts 1/log2(i+1) inlined as integer
  NANO-UNIT literals (rel in {0,1,2}, so every DCG term is an exact
  BIGINT product — no floating accumulation and no libm in SQL).  The
  graded-judgment IR metric next to rbo (rank-vs-rank) and BM25 (the
  ranker itself).
- ``graph_modularity_by_source`` — Newman modularity of the SOURCE
  partition over the MinHash-LSH near-dup pair graph: do duplicate
  edges concentrate within sources?  Q = (4m*sum e_c - sum d_c^2) /
  (4m^2) is one exact integer ratio — the community-QUALITY metric
  beside label propagation / components / clustering coefficient.
- ``price_elasticity_ols`` — the econometrics classic: log-log demand
  regression over the 11 aggregated discount levels, elasticity =
  REGR_SLOPE(ln avg_qty, ln avg_unit_price); libm outputs floor-
  quantized to 1e-6 (the zipf_fit_audit contract).
- ``adf_stationarity_audit`` — Dickey-Fuller stationarity test of daily
  revenue: regress day-over-day change on the lagged level (lag via an
  exact day_x = day_x + 1 self-join on the aggregated day axis — no
  window, consecutive calendar days only), t-statistic in closed form
  from exact DECIMAL(38,0) moments against the literal -2.86e0 5%%
  critical value.  The TEST companion to acf (diagnostic) and
  naive-forecast (baseline).
- ``spiegelhalter_calibration_z`` — Spiegelhalter's calibration Z-test
  of the logreg quality probability vs the lang='en' label:
  Z = sum (y-p)(1-2p) / sqrt(sum (1-2p)^2 p(1-p)), each per-row term
  quantized to integer nano-units BEFORE summation (the standing
  order-independence discipline for per-row doubles).  The significance
  TEST beside the Brier decomposition (descriptive) and isotonic fit.

Dual-dialect per repo conventions throughout."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from ..functions.dialect import DUCKDB, SPARK, Dialect, strip_order_by
from ..registry import register, register_sql
from ..sources.tables import table_view


# --------------------------------------------------------------------------
# nDCG@10 of the BM25 ranking
# --------------------------------------------------------------------------
_NDCG_K = 10
# 1/log2(i+1) position discounts in integer nano-units — Python-computed
# literals, so no libm enters either engine's SQL
_W_NANO = tuple(round(1e9 / math.log2(i + 1)) for i in range(1, _NDCG_K + 1))


def _rel_case() -> str:
    return (
        "CASE WHEN lang = 'en' AND length(text) >= 600 THEN 2 "
        "WHEN lang = 'en' THEN 1 ELSE 0 END"
    )


def _ndcg_grades_sql(d: Dialect, table: str) -> str:
    """The 1-row corpus grade counts — referenced by BOTH the ideal-DCG
    grid and the final projection; CTE inlining re-ran the rel-case
    corpus projection per reference (guide §3.3)."""
    return f"""
  SELECT CAST(SUM(CASE WHEN rel = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN rel >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel
  FROM (SELECT {_rel_case()} AS rel FROM {table}) rels
"""


def _ndcg_sql(d: Dialect, table: str, grades_rel: str | None = None) -> str:
    """DCG@{_NDCG_K} of the BM25 top-25 ranking against a deterministic
    graded relevance (2 = English and long, 1 = English, 0 = other),
    ideal DCG from corpus grade COUNTS alone (no sort: with 3 grades the
    ideal list is 'all 2s then all 1s', so position p's ideal grade is a
    CASE on the two counts), both as exact BIGINT nano-unit sums."""
    from .retrieval import _bm25_sql

    w_rank = " ".join(
        f"WHEN {i + 1} THEN {_W_NANO[i]}" for i in range(_NDCG_K)
    )
    pos_grid = ", ".join(f"({i + 1})" for i in range(_NDCG_K))
    grades = (
        f"SELECT n2, n_rel FROM {grades_rel}"
        if grades_rel
        else _ndcg_grades_sql(d, table)
    )
    return f"""
WITH ranked AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk
  FROM ({_bm25_sql(d, table)}) b
),
rels AS (SELECT doc_id, {_rel_case()} AS rel FROM {table}),
hits AS (
  SELECT r.rk, re.rel FROM ranked r JOIN rels re ON re.doc_id = r.doc_id
  WHERE r.rk <= {_NDCG_K}
),
dcg AS (
  SELECT CAST(COALESCE(SUM(rel * (CASE rk {w_rank} END)), 0) AS BIGINT)
           AS dcg_nano,
         CAST(COALESCE(SUM(CASE WHEN rel >= 1 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_hits_rel
  FROM hits
),
grades AS ({grades}),
ideal AS (
  SELECT CAST(SUM((CASE WHEN p.pos <= g.n2 THEN 2
                        WHEN p.pos <= g.n_rel THEN 1 ELSE 0 END)
                  * (CASE p.pos {w_rank} END))
              AS BIGINT) AS idcg_nano
  FROM (SELECT * FROM (VALUES {pos_grid}) AS pp(pos)) p CROSS JOIN grades g
)
SELECT CAST(ROUND(CAST(d1.dcg_nano AS DOUBLE) / 1.0e9, 6) AS DOUBLE)
         AS dcg_at_10,
       CAST(ROUND(CAST(i1.idcg_nano AS DOUBLE) / 1.0e9, 6) AS DOUBLE)
         AS idcg_at_10,
       CAST(ROUND(CAST(d1.dcg_nano AS DOUBLE)
                  / NULLIF(CAST(i1.idcg_nano AS DOUBLE), 0), 6) AS DOUBLE)
         AS ndcg_at_10,
       CAST(ROUND(CAST(d1.n_hits_rel AS DOUBLE) / {_NDCG_K}, 6) AS DOUBLE)
         AS precision_at_10,
       CAST(ROUND(CAST(d1.n_hits_rel AS DOUBLE)
                  / NULLIF(CAST(g.n_rel AS DOUBLE), 0), 6) AS DOUBLE)
         AS recall_at_10,
       g.n_rel AS n_relevant_corpus
FROM dcg d1 CROSS JOIN ideal i1 CROSS JOIN grades g
"""


# Examined r14 and kept inline: materializing the 1-row grade counts
# saves only two THIN rel-case projection scans (the BM25 arm
# dominates) and measured 1.09 vs 0.87 s in an interleaved A/B — the
# checkpoint action costs more than the scans it removes at any
# scale where a projection scan is cheap relative to an action.
register_sql(
    "ndcg_retrieval_eval",
    _ndcg_sql,
    ("documents",),
    doc="nDCG@10 / precision@10 / recall@10 of the BM25 top-25 ranking "
    "against deterministic graded relevance: position discounts "
    "1/log2(i+1) as integer nano-unit PYTHON literals, so every DCG "
    "term is an exact BIGINT product; ideal DCG from grade counts alone "
    "(3 grades => CASE on two counts, no sort). Rank window runs on the "
    "LIMIT-25 BM25 sublist only.",
    tags=("evaluation", "retrieval", "text"),
)


# --------------------------------------------------------------------------
# modularity of the source partition over the near-dup graph
# --------------------------------------------------------------------------
def _modularity_edges_sql(d: Dialect, table: str, pairs: str) -> str:
    """The bounded source-labeled edge list (one row per LSH pair) — the
    relation m/within/deg all re-aggregate (CTE inlining expanded it into
    32 static scans per statement, guide §3.3).  Split out so the Spark
    side materializes it once per call."""
    return f"""
  SELECT sa.source AS src_a, sb.source AS src_b
  FROM (SELECT doc_a, doc_b FROM {pairs} pr) p
  JOIN (SELECT doc_id, source FROM {table}) sa ON sa.doc_id = p.doc_a
  JOIN (SELECT doc_id, source FROM {table}) sb ON sb.doc_id = p.doc_b
"""


def _modularity_sql(
    d: Dialect,
    table: str,
    pairs_rel: str | None = None,
    edges_rel: str | None = None,
) -> str:
    """Newman modularity of the SOURCE partition over the LSH pair graph:

        Q = sum_c (e_c/m - (d_c/2m)^2) = (4m*sum e_c - sum d_c^2)/(4m^2)

    — one exact integer ratio (e_c = within-source edges, d_c = source
    degree sum, m = edges).  Positive Q: duplicates concentrate within
    sources; Q ~ 0: duplication is cross-source (the copy-paste-across-
    feeds signal).  Per-source rows plus the scalar Q repeated.

    Scale shape: the pair graph comes from the banded LSH equi-join
    (never all-pairs, cited at dedup_minhash_lsh); endpoints join the
    doc relation for sources (broadcastable doc->source projection);
    everything after is O(|sources|)."""
    from .dedup import _lsh_pairs_sql

    pairs = pairs_rel or f"({strip_order_by(_lsh_pairs_sql(d, table))})"
    edges = (
        f"SELECT * FROM {edges_rel}"
        if edges_rel
        else _modularity_edges_sql(d, table, pairs)
    )
    return f"""
WITH src AS (SELECT doc_id, source FROM {table}),
edges AS ({edges}),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
within AS (
  SELECT src_a AS source, CAST(COUNT(*) AS BIGINT) AS e_c
  FROM edges WHERE src_a = src_b GROUP BY src_a
),
deg AS (
  SELECT source, CAST(SUM(cnt) AS BIGINT) AS d_c FROM (
    SELECT src_a AS source, COUNT(*) AS cnt FROM edges GROUP BY src_a
    UNION ALL
    SELECT src_b AS source, COUNT(*) AS cnt FROM edges GROUP BY src_b
  ) u GROUP BY source
),
all_src AS (SELECT DISTINCT source FROM src),
per_source AS (
  SELECT a.source,
         COALESCE(w.e_c, 0) AS e_c,
         COALESCE(g.d_c, 0) AS d_c
  FROM all_src a
  LEFT JOIN within w ON w.source = a.source
  LEFT JOIN deg g ON g.source = a.source
),
q AS (
  SELECT CAST(SUM(e_c) AS BIGINT) AS sum_e,
         CAST(SUM(CAST(d_c AS DECIMAL(38,0)) * d_c) AS DECIMAL(38,0))
           AS sum_d2
  FROM per_source
)
SELECT ps.source,
       ps.e_c AS n_edges_within,
       ps.d_c AS degree_sum,
       CAST(ROUND(CAST(ps.e_c AS DOUBLE) / NULLIF(CAST(mm.m AS DOUBLE), 0)
                  - (CAST(ps.d_c AS DOUBLE) * ps.d_c)
                    / NULLIF(4.0e0 * mm.m * mm.m, 0), 6) AS DOUBLE)
         AS contribution,
       CAST(ROUND((4.0e0 * mm.m * CAST(qq.sum_e AS DOUBLE)
                   - CAST(qq.sum_d2 AS DOUBLE))
                  / NULLIF(4.0e0 * mm.m * mm.m, 0), 6) AS DOUBLE)
         AS q_modularity
FROM per_source ps CROSS JOIN m mm CROSS JOIN q qq
ORDER BY ps.source
"""


@register(
    "graph_modularity_by_source",
    oracle=_modularity_sql(DUCKDB, "documents"),
    doc="Newman modularity of the source partition over the MinHash-LSH "
    "near-dup pair graph: Q = (4m*sum e_c - sum d_c^2)/(4m^2), one "
    "exact integer ratio — positive Q means duplicates concentrate "
    "within sources, ~0 flags cross-feed copy-paste. Banded pair "
    "generation (never all-pairs), O(|sources|) tail; the community-"
    "quality metric beside label propagation and components.",
    tags=("dedup", "graph", "audit"),
)
def graph_modularity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import materialize_once
    from .dedup import _lsh_pairs_view

    view = table_view(spark, sf_dir, "documents")
    # Materialize the source-labeled edge list once (guide §3.3): the
    # m/within/deg re-aggregations expanded the pairs-join-src subtree
    # into 32 static scans per statement.  One checkpoint -> one pass over
    # the (bounded) pair set; the statement reads only the view.
    edges = materialize_once(
        spark,
        _modularity_edges_sql(SPARK, view, _lsh_pairs_view(spark, sf_dir)),
        "mod_edges",
        key=sf_dir,
    )
    return spark.sql(_modularity_sql(SPARK, view, edges_rel=edges))


# --------------------------------------------------------------------------
# price elasticity (log-log OLS over discount levels)
# --------------------------------------------------------------------------
def _elasticity_sql(d: Dialect, lineitem: str) -> str:
    """Log-log demand curve over the 11 aggregated discount levels:
    x = ln(avg effective unit price), y = ln(avg quantity per line);
    elasticity = REGR_SLOPE(y, x).  Per-level aggregates are exact
    integer units (cents x (100-pct), centi-quantities); LN is libm, so
    slope/intercept/r2 floor-quantize to 1e-6 — the zipf_fit_audit
    contract.  One fact scan to 11 rows, one scalar regression."""
    q = "CAST(FLOOR({x} * 1e6) / 1e6 AS DOUBLE)"
    return f"""
WITH lvl AS (
  SELECT CAST(ROUND(l_discount * 100, 0) AS INT) AS pct,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                  * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT)))
              AS DECIMAL(38,0)) AS rev_u,
         CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT))
              AS BIGINT) AS qty_u
  FROM {lineitem} GROUP BY 1
),
xy AS (
  -- unit price = revenue / quantity (both exact units; the ratio is one
  -- double); demand = avg quantity per line
  SELECT LN(CAST(rev_u AS DOUBLE) / NULLIF(CAST(qty_u AS DOUBLE), 0)) AS x,
         LN(CAST(qty_u AS DOUBLE) / NULLIF(CAST(n_lines AS DOUBLE), 0)) AS y
  FROM lvl
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_levels,
       {q.format(x="REGR_SLOPE(y, x)")} AS elasticity,
       {q.format(x="REGR_INTERCEPT(y, x)")} AS intercept,
       {q.format(x="REGR_R2(y, x)")} AS fit_r2
FROM xy
"""


register_sql(
    "price_elasticity_ols",
    _elasticity_sql,
    ("lineitem",),
    doc="Price elasticity of demand: log-log OLS over the 11 aggregated "
    "discount levels (x = ln avg effective unit price, y = ln avg "
    "quantity per line) via REGR_SLOPE/INTERCEPT/R2 — one fact scan to "
    "11 exact-integer rows, one scalar regression; libm outputs "
    "floor-quantized to 1e-6 (zipf contract).",
    tags=("evaluation", "stats", "agg"),
)


# --------------------------------------------------------------------------
# Dickey-Fuller stationarity test on daily revenue
# --------------------------------------------------------------------------
_DF_CRIT_5PCT = "-2.86e0"  # Dickey-Fuller 5% critical value (with constant)


def _adf_sql(d: Dialect, orders: str) -> str:
    """Dickey-Fuller test (no augmentation lags): regress the day-over-day
    revenue change on the lagged level, Delta y_t = a + b*y_(t-1); under
    the unit-root null b = 0, and t = b_hat / se(b_hat) compares against
    the DF distribution (5%% critical value {_DF_CRIT_5PCT} as a
    literal — no p-value libm).  The lag pairs come from an exact
    day_x = day_x + 1 self-join on the AGGREGATED day axis (consecutive
    calendar days only — a gap day contributes no pair; no window, no
    sort).  All moments are exact DECIMAL(38,0) sums of integer cents;
    the closed-form b_hat / rss / se are the only doubles."""
    return f"""
WITH daily AS (
  SELECT CAST({d.epoch_day('o_orderdate')} AS BIGINT) AS day_x,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS cents
  FROM {orders} GROUP BY 1
),
lagged AS (
  SELECT prev.cents AS x, (cur.cents - prev.cents) AS dy
  FROM daily cur JOIN daily prev ON prev.day_x = cur.day_x - 1
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(dy) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * dy) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(CAST(dy AS DECIMAL(38,0)) * dy) AS DECIMAL(38,0)) AS syy
  FROM lagged
),
fit AS (
  SELECT n,
         -- centered moments in DOUBLE from exact integer sums
         CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n
           AS ssxx,
         CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n
           AS ssxy,
         CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n
           AS ssyy
  FROM mom
)
SELECT n AS n_pairs,
       CAST(ROUND(ssxy / NULLIF(ssxx, 0), 6) AS DOUBLE) AS beta,
       CAST(ROUND(ssxy / NULLIF(ssxx, 0)
                  / NULLIF(SQRT((ssyy - ssxy * ssxy / NULLIF(ssxx, 0))
                                / NULLIF(CAST(n AS DOUBLE) - 2, 0)
                                / NULLIF(ssxx, 0)), 0), 6) AS DOUBLE)
         AS adf_t_stat,
       CAST({_DF_CRIT_5PCT} AS DOUBLE) AS crit_5pct,
       CAST(CASE WHEN ssxy / NULLIF(ssxx, 0)
                      / NULLIF(SQRT((ssyy - ssxy * ssxy / NULLIF(ssxx, 0))
                                    / NULLIF(CAST(n AS DOUBLE) - 2, 0)
                                    / NULLIF(ssxx, 0)), 0) < {_DF_CRIT_5PCT}
                 THEN 1 ELSE 0 END AS INT) AS is_stationary
FROM fit
"""


register_sql(
    "adf_stationarity_audit",
    _adf_sql,
    ("orders",),
    doc="Dickey-Fuller stationarity test of daily revenue: day-over-day "
    "change regressed on the lagged level, lag via an exact "
    "day_x = day_x + 1 self-join on the aggregated day axis (no window, "
    "no sort; gap days contribute no pair), t-statistic in closed form "
    "from exact DECIMAL(38,0) moments vs the literal -2.86 5% critical "
    "value. The unit-root TEST beside acf (diagnostic) and the naive "
    "forecast baseline.",
    tags=("evaluation", "stats", "temporal"),
)


# --------------------------------------------------------------------------
# Spiegelhalter calibration Z-test
# --------------------------------------------------------------------------
def _spiegelhalter_sql(d: Dialect, table: str) -> str:
    """Spiegelhalter's Z-test of probability calibration:
    Z = sum (y - p)(1 - 2p) / sqrt(sum (1 - 2p)^2 p (1 - p)), with p the
    logreg quality probability (rounded-6 double — identical in both
    engines) and y the lang='en' label.  Each per-row numerator /
    denominator term quantizes to integer NANO-UNITS before the
    cross-partition sum (the standing order-independence discipline for
    per-row doubles); |Z| > 1.96 rejects 'the probabilities are
    calibrated'.  One projection scan, one aggregate row."""
    from .lm_quality import _logreg_sql

    scored = strip_order_by(_logreg_sql(d, table))
    return f"""
WITH sc AS (
  SELECT quality_prob AS p,
         CASE WHEN lang = 'en' THEN 1.0e0 ELSE 0.0e0 END AS y
  FROM ({scored}) q
),
terms AS (
  SELECT CAST(ROUND((y - p) * (1.0e0 - 2.0e0 * p) * 1.0e9) AS BIGINT)
           AS num_nano,
         CAST(ROUND((1.0e0 - 2.0e0 * p) * (1.0e0 - 2.0e0 * p)
                    * p * (1.0e0 - p) * 1.0e9) AS BIGINT) AS den_nano
  FROM sc
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(num_nano) AS DECIMAL(38,0)) AS num,
         CAST(SUM(den_nano) AS DECIMAL(38,0)) AS den
  FROM terms
)
SELECT n AS n_docs,
       CAST(ROUND(CAST(num AS DOUBLE) / 1.0e9, 6) AS DOUBLE)
         AS sum_miscalibration,
       CAST(ROUND(CAST(num AS DOUBLE) / 1.0e9
                  / NULLIF(SQRT(CAST(den AS DOUBLE) / 1.0e9), 0), 6)
            AS DOUBLE) AS z_spiegelhalter,
       CAST(CASE WHEN ABS(CAST(num AS DOUBLE) / 1.0e9
                          / NULLIF(SQRT(CAST(den AS DOUBLE) / 1.0e9), 0))
                      > 1.96e0
                 THEN 1 ELSE 0 END AS INT) AS rejects_calibration
FROM agg
"""


register_sql(
    "spiegelhalter_calibration_z",
    _spiegelhalter_sql,
    ("documents",),
    doc="Spiegelhalter's calibration Z-test of the logreg quality "
    "probability vs the lang='en' label: per-row (y-p)(1-2p) and "
    "(1-2p)^2 p(1-p) terms quantized to integer nano-units before the "
    "cross-partition sum, one final ratio-with-sqrt; |Z| > 1.96 rejects "
    "calibration. The significance TEST beside the Brier decomposition "
    "and the isotonic recalibrator.",
    tags=("evaluation", "stats", "text"),
)
