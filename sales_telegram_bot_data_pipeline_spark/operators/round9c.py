"""Round-9 continuation, second batch — five more never-covered families:

- ``mean_excess_tail_audit`` — the extreme-value-theory tail diagnostic:
  mean excess e(u) = E[X - u | X > u] over an exact equi-spaced
  threshold grid in the upper half of the order-value range.  A linearly
  INCREASING mean-excess curve is the generalized-Pareto heavy-tail
  signature; flat ~ exponential; decreasing ~ bounded tail — the check
  run before trusting any "P99 at 100 TB" extrapolation.
- ``decision_stump_split_audit`` — the tree-model primitive: weighted
  Gini impurity of every candidate length-threshold split for the
  lang='en' label, parent impurity, gain, and the argmin split — i.e.
  one boosting/CART split evaluated exactly, grid as data.
- ``james_stein_shrinkage`` — the classic empirical-Bayes estimator:
  per-source mean doc lengths shrunk toward the grand mean with the
  positive-part James-Stein factor c = max(0, 1 - (k-3) avg_se2 / S);
  the canonical "borrow strength across groups" warehouse op next to
  the m-estimate target encoder.
- ``pr_auc_exact`` — exact average precision (step-interpolated PR-AUC)
  of the logreg quality score vs the lang='en' label: score groups,
  inclusive cumulative TP/predicted counts, and per-group terms
  c_pos * TP / PRED held as EXACT nano-unit integers (integer division)
  so the cross-group sum is order-independent — the PR twin of
  roc_auc_quality_score for the class-imbalanced regime.
- ``rbo_ranking_overlap`` — rank-biased overlap (Webber et al. 2010)
  between the revenue-top-20 and quantity-top-20 part rankings with
  persistence p = 1/2, so every weight p^d/d is EXACTLY representable:
  terms are integers over the common denominator lcm(1..20) * 2^20 —
  zero floating accumulation.  The top-weighted ranking-similarity
  metric that Kendall's tau (flat weights, full lists) cannot express.

All dual-dialect per repo conventions: exact integer/DECIMAL aggregates
before any cross-partition sum, DOUBLE only at final expressions,
ROUND(...,6) fractional outputs, NULLIF on data-dependent divisors, and
no libm anywhere in this module."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dialect import DUCKDB, SPARK, Dialect
from ..registry import register, register_sql
from ..sources.tables import table_view

# --------------------------------------------------------------------------
# mean-excess (EVT) tail audit
# --------------------------------------------------------------------------
_ME_GRID = (6, 7, 8, 9, 10, 11)  # twelfths of the value range (upper half)


def _mean_excess_sql(d: Dialect, orders: str) -> str:
    """Mean-excess function over order value: thresholds u_j = lo +
    floor(j*(hi-lo)/12) exact integer cents (floor-div keeps both
    engines on the same grid), j in the upper half of the range.

    Scale shape: ONE fact scan; the (bounds x 6-thresholds) relation is
    a one-row scalar cross joined then exploded against the scan
    (broadcast in Spark); one groupBy(threshold) with map-side combine;
    6 rows out."""
    grid = ", ".join(f"({j})" for j in _ME_GRID)
    return f"""
WITH cents AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
  FROM {orders}
),
bounds AS (SELECT MIN(x) AS lo, MAX(x) AS hi, COUNT(*) AS n FROM cents),
grid AS (
  SELECT g.j, b.n,
         b.lo + CAST({d.idiv('g.j * (b.hi - b.lo)', '12')} AS BIGINT) AS u
  FROM (SELECT * FROM (VALUES {grid}) AS g(j)) g CROSS JOIN bounds b
)
SELECT CAST(g.j AS INT) AS twelfth,
       CAST(ROUND(g.u / 1.0e2, 2) AS DOUBLE) AS threshold_dollars,
       CAST(SUM(CASE WHEN c.x > g.u THEN 1 ELSE 0 END) AS BIGINT) AS n_exceed,
       CAST(ROUND(CAST(SUM(CASE WHEN c.x > g.u THEN 1 ELSE 0 END) AS DOUBLE)
                  / NULLIF(CAST(MAX(g.n) AS DOUBLE), 0), 6) AS DOUBLE)
         AS frac_exceed,
       CAST(ROUND(CAST(SUM(CASE WHEN c.x > g.u THEN c.x - g.u ELSE 0 END)
                       AS DOUBLE)
                  / NULLIF(CAST(SUM(CASE WHEN c.x > g.u THEN 1 ELSE 0 END)
                                AS DOUBLE), 0) / 100, 6)
            AS DOUBLE) AS mean_excess_dollars,
       -- e(u)/u: the GPD shape hint (increasing ratio => heavy tail)
       CAST(ROUND(CAST(SUM(CASE WHEN c.x > g.u THEN c.x - g.u ELSE 0 END)
                       AS DOUBLE)
                  / NULLIF(CAST(SUM(CASE WHEN c.x > g.u THEN 1 ELSE 0 END)
                                AS DOUBLE), 0)
                  / NULLIF(CAST(g.u AS DOUBLE), 0), 6) AS DOUBLE)
         AS excess_over_threshold
FROM cents c CROSS JOIN grid g
GROUP BY g.j, g.u
ORDER BY g.j
"""


register_sql(
    "mean_excess_tail_audit",
    _mean_excess_sql,
    ("orders",),
    doc="Extreme-value mean-excess audit of order value: e(u) = "
    "E[X-u | X>u] on an exact floor-div twelfths grid over the upper "
    "half of the range — increasing curve = generalized-Pareto heavy "
    "tail, flat = exponential; the diagnostic before extrapolating tail "
    "quantiles to 100 TB. One fact scan, 6-row broadcast grid, one "
    "map-side-combinable groupBy.",
    tags=("evaluation", "stats", "audit"),
)


# --------------------------------------------------------------------------
# decision-stump split audit (Gini)
# --------------------------------------------------------------------------
_STUMP_CUTS = tuple(range(1, 9))  # ninths of the feature range


def _stump_sql(d: Dialect, table: str) -> str:
    """One CART split evaluated exactly: candidate thresholds t_j = lo +
    floor(j*(hi-lo)/9) on doc length, label = (lang = 'en'); per
    threshold the weighted Gini impurity of the induced partition,
    parent impurity, and the gain; the argmin split flagged via
    ROW_NUMBER on the 8-row aggregated grid (float-equality-free).

    Scale shape: one corpus scan against a broadcast 8-row grid, one
    groupBy(threshold) with map-side combine (each row contributes
    integer cell counts per threshold); everything after is O(8)."""
    grid = ", ".join(f"({j})" for j in _STUMP_CUTS)
    return f"""
WITH feat AS (
  SELECT CAST(length(text) AS BIGINT) AS x,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM {table}
),
bounds AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM feat),
grid AS (
  SELECT g.j, b.lo + CAST({d.idiv('g.j * (b.hi - b.lo)', '9')} AS BIGINT) AS t
  FROM (SELECT * FROM (VALUES {grid}) AS g(j)) g CROSS JOIN bounds b
),
cells AS (
  SELECT g.j, g.t,
         CAST(SUM(CASE WHEN f.x <= g.t THEN 1 ELSE 0 END) AS BIGINT) AS n_l,
         CAST(SUM(CASE WHEN f.x <= g.t THEN f.y ELSE 0 END) AS BIGINT) AS pos_l,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(f.y) AS BIGINT) AS pos
  FROM feat f CROSS JOIN grid g
  GROUP BY g.j, g.t
),
scored AS (
  SELECT j, t, n_l, (n - n_l) AS n_r, n, pos,
         -- gini(S) = 1 - p^2 - q^2 = 2p(1-p); weighted child impurity
         -- from exact integer cells, DOUBLE only here
         2.0e0 * pos_l * (n_l - pos_l)
           / NULLIF(CAST(n_l AS DOUBLE) * n_l, 0) * n_l / n
         + 2.0e0 * (pos - pos_l) * ((n - n_l) - (pos - pos_l))
           / NULLIF(CAST(n - n_l AS DOUBLE) * (n - n_l), 0) * (n - n_l) / n
           AS gini_split,
         2.0e0 * pos * (n - pos) / NULLIF(CAST(n AS DOUBLE) * n, 0)
           AS gini_parent
  FROM cells
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY gini_split, t) AS rk FROM scored
)
SELECT CAST(j AS INT) AS ninth,
       CAST(t AS BIGINT) AS threshold_chars,
       n_l AS n_left, n_r AS n_right,
       CAST(ROUND(gini_split, 6) AS DOUBLE) AS gini_split,
       CAST(ROUND(gini_parent, 6) AS DOUBLE) AS gini_parent,
       CAST(ROUND(gini_parent - gini_split, 6) AS DOUBLE) AS gini_gain,
       CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS INT) AS is_best_split
FROM ranked
ORDER BY ninth
"""


register_sql(
    "decision_stump_split_audit",
    _stump_sql,
    ("documents",),
    doc="Decision-stump (one CART split) audit: weighted Gini impurity of "
    "every floor-div ninths length threshold for the lang='en' label, "
    "parent impurity, gain, and the ROW_NUMBER argmin flag — exact "
    "integer cells from one corpus scan x broadcast 8-row grid, one "
    "map-side-combinable groupBy, O(8) tail.",
    tags=("evaluation", "stats", "text"),
)


# --------------------------------------------------------------------------
# James-Stein shrinkage of per-source means
# --------------------------------------------------------------------------
def _james_stein_sql(d: Dialect, table: str) -> str:
    """Positive-part James-Stein estimator of the per-source mean doc
    length vector: c = max(0, 1 - (k-3) * avg_se2 / S) with
    avg_se2 = mean over groups of s_i^2/n_i (each group's squared
    standard error) and S = sum over groups of (xbar_i - grand)^2,
    grand = unweighted mean of group means (the exchangeable-groups
    prior).  js_mean_i = grand + c (xbar_i - grand): every group mean
    moves toward the prior by the same factor, dominating the MLE for
    k >= 4 (Efron & Morris 1975).

    Scale shape: the corpus collapses to per-source exact moments in ONE
    map-side-combinable groupBy; the shrink factor is a scalar over the
    k-row aggregate; all windows/joins run on O(k) rows."""
    return f"""
WITH src AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(length(text) AS BIGINT)) AS DECIMAL(38,0)) AS s1,
         CAST(SUM(CAST(length(text) AS DECIMAL(38,0)) * length(text))
              AS DECIMAL(38,0)) AS s2
  FROM {table} GROUP BY source
),
m AS (
  SELECT source, n,
         CAST(s1 AS DOUBLE) / NULLIF(CAST(n AS DOUBLE), 0) AS xbar,
         -- s_i^2/n_i: squared standard error of the group mean
         (CAST(s2 AS DOUBLE) / n
          - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
         / NULLIF(CAST(n AS DOUBLE) - 1, 0) AS se2
  FROM src WHERE n >= 2
),
scal AS (
  SELECT COUNT(*) AS k, AVG(xbar) AS grand, AVG(se2) AS avg_se2 FROM m
),
dev AS (
  SELECT SUM((m.xbar - sc.grand) * (m.xbar - sc.grand)) AS s_dev
  FROM m CROSS JOIN scal sc
),
shrink AS (
  SELECT sc.k, sc.grand, sc.avg_se2, dv.s_dev,
         -- clamp BOTH sides: with k < 4 groups (k-3) <= 0 would push
         -- the raw factor above 1 and EXPAND means away from the grand
         -- mean; c = 1 (no shrinkage) is the correct degenerate limit
         LEAST(1.0e0, GREATEST(0.0e0,
                  1.0e0 - (sc.k - 3) * sc.avg_se2 / NULLIF(dv.s_dev, 0)))
           AS c
  FROM scal sc CROSS JOIN dev dv
)
SELECT m.source,
       CAST(m.n AS BIGINT) AS n_docs,
       CAST(ROUND(m.xbar, 6) AS DOUBLE) AS raw_mean_chars,
       CAST(ROUND(sh.grand + sh.c * (m.xbar - sh.grand), 6) AS DOUBLE)
         AS js_mean_chars,
       CAST(ROUND(sh.c, 6) AS DOUBLE) AS shrink_factor,
       CAST(ROUND(sh.grand, 6) AS DOUBLE) AS grand_mean_chars,
       CAST(sh.k AS BIGINT) AS k_groups
FROM m CROSS JOIN shrink sh
ORDER BY m.source
"""


register_sql(
    "james_stein_shrinkage",
    _james_stein_sql,
    ("documents",),
    doc="Positive-part James-Stein shrinkage of per-source mean doc "
    "lengths toward the unweighted grand mean: c = max(0, 1 - (k-3) "
    "avg(se_i^2)/S), the empirical-Bayes 'borrow strength' estimator "
    "that dominates the per-group MLE for k>=4 — exact moments from one "
    "map-side-combinable groupBy, O(k) tail, zero libm.",
    tags=("evaluation", "stats", "agg"),
)


# --------------------------------------------------------------------------
# exact PR-AUC (average precision)
# --------------------------------------------------------------------------
_PR_FINAL = """
SELECT n AS n_docs, n1 AS n_pos,
       CAST(ROUND(CAST(num_nano AS DOUBLE) / 1.0e9
                  / NULLIF(CAST(n1 AS DOUBLE), 0), 6) AS DOUBLE) AS pr_auc,
       CAST(ROUND(CAST(n1 AS DOUBLE) / NULLIF(CAST(n AS DOUBLE), 0), 6)
            AS DOUBLE) AS prevalence_baseline
FROM s
"""


def _pr_auc_oracle() -> str:
    from .lm_quality import _logreg_sql

    scored = _logreg_sql(DUCKDB, "documents")
    # per-group term c_pos * TP / PRED as an EXACT nano-unit integer
    # (integer division of DECIMAL(38,0)) so the cross-group sum cannot
    # depend on float addition order
    term = DUCKDB.idiv(
        "CAST(c_pos AS DECIMAL(38,0)) * 1000000000 * tp", "pred"
    )
    return f"""
WITH scored AS (
  SELECT quality_prob AS v, (lang = 'en') AS pos FROM ({scored}) q
),
g AS (
  SELECT v, COUNT(*) AS c, SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS c_pos
  FROM scored GROUP BY v
),
cum AS (
  SELECT v, c, c_pos,
         SUM(c) OVER (ORDER BY v DESC) AS pred,
         SUM(c_pos) OVER (ORDER BY v DESC) AS tp
  FROM g
),
s AS (
  SELECT CAST(SUM({term}) AS DECIMAL(38,0)) AS num_nano,
         CAST(SUM(c_pos) AS BIGINT) AS n1,
         CAST(SUM(c) AS BIGINT) AS n
  FROM cum
)
{_PR_FINAL}
"""


@register(
    "pr_auc_exact",
    oracle=_pr_auc_oracle(),
    doc="Exact average precision (step-interpolated PR-AUC) of the logreg "
    "quality score vs the lang='en' label: score groups from one "
    "map-combinable groupBy, inclusive TP/predicted cumulatives through "
    "the DISTRIBUTED range-prefix-sum primitive (descending score axis), "
    "per-group precision terms held as exact nano-unit integers via "
    "integer division so the final sum is order-independent. The "
    "class-imbalance twin of roc_auc_quality_score (AP tracks the "
    "minority class where AUC saturates).",
    tags=("evaluation", "stats", "distributed-rank"),
)
def pr_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .lm_quality import _logreg_sql
    from .scalars_extra import range_prefix_summed

    view = table_view(spark, sf_dir, "documents")
    scored = spark.sql(_logreg_sql(SPARK, view)).select(
        F.col("quality_prob").alias("v"), (F.col("lang") == "en").alias("pos")
    )
    g = scored.groupBy("v").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("c_pos"),
    )
    # descending score axis = ascending on the negated key; v is a key of
    # the grouped relation, so -v is too (strict monotone).  BOTH running
    # counters ride ONE prefix pass: pack = c * 2^31 + c_pos (c_pos <= c
    # < 2^31 per group and summed over the corpus n < 2^31, so the packed
    # prefix sum fits BIGINT and unpacks exactly by div/mod).
    pack = F.lit(2147483648).cast("bigint")
    g = g.withColumn("vneg", -F.col("v")).withColumn(
        "packed", (F.col("c").cast("bigint") * pack + F.col("c_pos")).cast("bigint")
    )
    packed_sum, _ = range_prefix_summed(g, ["vneg"], "packed")
    if packed_sum is None:
        return spark.createDataFrame(
            [], "n_docs bigint, n_pos bigint, pr_auc double, prevalence_baseline double"
        )
    cum = packed_sum.selectExpr(
        "vneg",
        "c",
        "c_pos",
        # integer div/mod (never float division: exactness must not depend
        # on the packed sum fitting a double mantissa)
        "CAST((cum_before + packed) div 2147483648 AS BIGINT) AS pred",
        "CAST((cum_before + packed) % 2147483648 AS BIGINT) AS tp",
    )
    term = SPARK.idiv("CAST(c_pos AS DECIMAL(38,0)) * 1000000000 * tp", "pred")
    s = spark.sql(
        f"""
SELECT CAST(SUM({term}) AS DECIMAL(38,0)) AS num_nano,
       CAST(SUM(c_pos) AS BIGINT) AS n1,
       CAST(SUM(c) AS BIGINT) AS n
FROM {{cum}}
""",
        cum=cum,
    )
    return spark.sql(_PR_FINAL.replace("FROM s", "FROM {s}"), s=s)


# --------------------------------------------------------------------------
# rank-biased overlap (p = 1/2, exact dyadic weights)
# --------------------------------------------------------------------------
_RBO_K = 20
_LCM20 = 232792560  # lcm(1..20): common denominator for the 1/d factors


def _rbo_weight_case(col: str, k: int) -> str:
    """The exact dyadic weight numerator w_d = (LCM/d) * 2^(k-d) as a CASE
    of k integer LITERALS (SQL has no integer POW; the depth axis is
    bounded, so inlining is exact and engine-neutral)."""
    arms = " ".join(
        f"WHEN {dep} THEN {(_LCM20 // dep) * (1 << (k - dep))}"
        for dep in range(1, k + 1)
    )
    return f"CASE {col} {arms} END"


def _rbo_sql(d: Dialect, lineitem: str) -> str:
    """Truncated rank-biased overlap at depth {_RBO_K} between the
    revenue-top-{_RBO_K} and quantity-top-{_RBO_K} part rankings,
    persistence p = 1/2:

        RBO@k = sum_d (1-p) p^(d-1) * ov_d / d = sum_d ov_d / (d 2^d)

    With p = 1/2 every term is DYADIC-rational: numerators
    ov_d * (LCM/d) * 2^(k-d) over the common denominator LCM * 2^k are
    exact BIGINTs (max ~2.4e15), so the sum has NO floating accumulation
    — one division at the end.  Ranks are deterministic (exact
    integer-unit metrics, partkey tiebreak).

    Scale shape: one fact scan collapses to per-part exact integer
    metrics (map-side combinable); both top-k lists are ORDER BY LIMIT
    (TakeOrdered in Spark — never a global sort); the overlap grid is a
    bounded (2k rows) x (k depths) join."""
    grid = ", ".join(f"({j})" for j in range(1, _RBO_K + 1))
    p2 = _rbo_weight_case("dep", _RBO_K)
    denom = _LCM20 * (1 << _RBO_K)
    return f"""
WITH per_part AS (
  SELECT l_partkey AS pk,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                  * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT)))
              AS DECIMAL(38,0)) AS rev_u,
         CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT))
              AS BIGINT) AS qty_u
  FROM {lineitem} GROUP BY l_partkey
),
top_rev AS (
  SELECT pk, ROW_NUMBER() OVER (ORDER BY rev_u DESC, pk) AS ra
  FROM (SELECT pk, rev_u FROM per_part ORDER BY rev_u DESC, pk LIMIT {_RBO_K}) t
),
top_qty AS (
  SELECT pk, ROW_NUMBER() OVER (ORDER BY qty_u DESC, pk) AS rb
  FROM (SELECT pk, qty_u FROM per_part ORDER BY qty_u DESC, pk LIMIT {_RBO_K}) t
),
joined AS (
  SELECT COALESCE(a.ra, {_RBO_K} + 1) AS ra,
         COALESCE(b.rb, {_RBO_K} + 1) AS rb
  FROM top_rev a FULL OUTER JOIN top_qty b ON a.pk = b.pk
),
depths AS (SELECT * FROM (VALUES {grid}) AS g(dep)),
ov AS (
  SELECT g.dep,
         CAST(SUM(CASE WHEN j.ra <= g.dep AND j.rb <= g.dep THEN 1 ELSE 0 END)
              AS BIGINT) AS ov_d
  FROM depths g CROSS JOIN joined j
  GROUP BY g.dep
),
agg AS (
  SELECT CAST(SUM(ov_d * ({p2})) AS DECIMAL(38,0)) AS num,
         CAST(MAX(CASE WHEN dep = {_RBO_K} THEN ov_d END) AS BIGINT)
           AS overlap_at_k
  FROM ov
)
SELECT {_RBO_K} AS k,
       CAST(0.5e0 AS DOUBLE) AS p,
       CAST(ROUND(CAST(num AS DOUBLE) / {denom}.0e0, 6) AS DOUBLE)
         AS rbo_truncated,
       overlap_at_k,
       CAST(ROUND(CAST(overlap_at_k AS DOUBLE)
                  / (2 * {_RBO_K} - overlap_at_k), 6) AS DOUBLE)
         AS jaccard_at_k
FROM agg
"""


register_sql(
    "rbo_ranking_overlap",
    _rbo_sql,
    ("lineitem",),
    doc="Rank-biased overlap (Webber 2010) at depth 20, p=1/2, between the "
    "revenue-top-20 and quantity-top-20 part rankings: with p=1/2 every "
    "weight p^d/d is dyadic, so terms are exact BIGINTs over "
    "lcm(1..20)*2^20 — zero floating accumulation, one final division. "
    "Per-part metrics in exact integer units (map-side combinable), "
    "top-k via ORDER BY LIMIT (TakeOrdered, no global sort), bounded "
    "40x20 overlap grid. The top-weighted ranking-similarity metric "
    "Kendall's tau cannot express.",
    tags=("evaluation", "relational", "agg"),
)
