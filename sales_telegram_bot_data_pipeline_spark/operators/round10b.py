"""Round-10 second batch — seven more never-covered families:

- ``gumbel_block_maxima_fit`` — EVT block-maxima: monthly maxima of
  daily revenue fit to a Gumbel by method of moments (scale =
  sd*sqrt(6)/pi, loc = mean - gamma*scale, Euler-Mascheroni as a
  literal), plus the 12-block return level.  The BLOCK-maxima arm of
  extreme-value theory beside mean_excess_tail_audit (POT) and
  hill_tail_index (order statistics).
- ``friedman_rank_test`` — tie-corrected Friedman test of whether the
  five event types keep a consistent daily volume ordering: blocks =
  days, treatments = event types, 2x-scaled tie-averaged ranks keep the
  WHOLE statistic in exact integers (the scale factor cancels between
  numerator and tie-corrected denominator), chi2_(k-1) against the
  literal 9.488e0.  The k-sample ordinal companion to cochran_q_gates
  (binary) and kendall_tau_b (pairwise).
- ``cramers_v_bias_corrected`` — effect-size of the order-priority x
  order-status association: chi-squared from the exact bounded
  contingency grid, plain Cramer's V, and the Bergsma bias-corrected V
  (small-sample phi^2 correction) — the EFFECT SIZE beside
  chi_squared_independence's significance test.
- ``katz_centrality`` — Katz centrality on the MinHash-LSH near-dup
  graph by 6 unrolled INTEGER-exact iterations (x <- 1 + alpha*A*x,
  alpha = 1/10 as an exact pico-unit floor-divide per step — the
  markov_stationary_distribution discipline, bit-identical across
  engines/partitionings); top-20 by integer ordering.  The
  walk-counting centrality beside pagerank (random surfer) and k-core
  (shell structure).
- ``sax_daily_revenue_motifs`` — Symbolic Aggregate approXimation of
  the daily revenue series: z-scores from exact integer moment sums,
  the standard 4-symbol N(0,1) breakpoints (+-0.6745e0) as literals,
  3-day motif words from exact day+1/day+2 self-joins (never a
  window), motif counts over the bounded 64-word alphabet.  The
  symbolic-discretization primitive under any motif/anomaly mining.
- ``mutual_information_source_lang`` — mutual information and NMI of
  the (source, lang) pairing on the bounded grid: per-cell p*log terms
  nano-quantized before the grid sum.  The feature-relevance measure
  beside chi_squared_independence (significance, not magnitude).
- ``loso_source_influence`` — leave-one-source-out influence of each
  source on the corpus mean doc length: delta = mean_all -
  mean_without, all from ONE pass of exact integer sums (no per-source
  rescan).  The influence-function-lite data-valuation audit beside
  source_quality_ranksum.

Dual-dialect per repo conventions: exact integer/DECIMAL sums, libm
quantized per row/group before summation, DOUBLE only at final scalar
expressions, ROUND(...,6), NULLIF guards, no final decimals above
precision 18."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.dialect import DUCKDB, SPARK, Dialect
from ..registry import register, register_sql
from ..sources.tables import table_view

_CENTS = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
_YM = {
    "spark": "date_format(to_date(o_orderdate), 'yyyy-MM')",
    "duckdb": "strftime(CAST(o_orderdate AS DATE), '%Y-%m')",
}

_EULER_GAMMA = "0.5772156649015329e0"
_SQRT6_OVER_PI = "0.7796968012336761e0"  # sqrt(6)/pi


# --------------------------------------------------------------------------
# Gumbel block-maxima fit (monthly maxima of daily revenue)
# --------------------------------------------------------------------------
def _gumbel_sql(d: Dialect, orders: str) -> str:
    dayno = d.epoch_day("o_orderdate")
    ym = _YM[d.name]
    return f"""
WITH daily AS (
  SELECT {ym} AS ym, CAST({dayno} AS BIGINT) AS day,
         CAST(SUM({_CENTS}) AS DECIMAL(38,0)) AS cents
  FROM {orders} GROUP BY 1, 2
),
blocks AS (
  SELECT ym, CAST(MAX(cents) AS DECIMAL(38,0)) AS mx
  FROM daily GROUP BY ym
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(mx) AS DECIMAL(38,0)) AS s1,
         CAST(SUM(mx * mx) AS DECIMAL(38,0)) AS s2
  FROM blocks
),
-- mean/sd in dollars from exact cent sums (scalar expression tree);
-- sample variance via the n-scaled form to avoid cancellation
fit AS (
  SELECT n,
         CAST(s1 AS DOUBLE) / n / 100.0e0 AS mean_d,
         SQRT(CAST(n * s2 - s1 * s1 AS DOUBLE) / n / (n - 1)) / 100.0e0 AS sd_d
  FROM m
)
SELECT n AS n_blocks,
       CAST(ROUND(mean_d, 2) AS DOUBLE) AS mean_block_max_dollars,
       CAST(ROUND(sd_d * {_SQRT6_OVER_PI}, 6) AS DOUBLE) AS gumbel_scale,
       CAST(ROUND(mean_d - {_EULER_GAMMA} * sd_d * {_SQRT6_OVER_PI}, 6)
            AS DOUBLE) AS gumbel_loc,
       -- 12-block return level: loc - scale * ln(-ln(1 - 1/12))
       CAST(ROUND(mean_d - {_EULER_GAMMA} * sd_d * {_SQRT6_OVER_PI}
                  - sd_d * {_SQRT6_OVER_PI} * LN(-LN(1.0e0 - 1.0e0 / 12)), 6)
            AS DOUBLE) AS return_level_12_blocks
FROM fit
"""


register_sql(
    "gumbel_block_maxima_fit",
    _gumbel_sql,
    ("orders",),
    doc="Gumbel fit of monthly block maxima of daily revenue by method "
    "of moments (Euler-Mascheroni and sqrt(6)/pi as literals — no libm "
    "beyond one SQRT/LN on the one-row fit), variance via the n-scaled "
    "cancellation-free form, plus the 12-block return level.  The "
    "block-maxima EVT arm beside mean_excess (POT) and hill (order "
    "stats).  Two bounded aggregations: day grid, then month grid.",
    tags=("analytics", "evt", "timeseries"),
)


# --------------------------------------------------------------------------
# Friedman rank test (tie-corrected, fully integer)
# --------------------------------------------------------------------------
def _friedman_cells_sql(d: Dialect, events: str) -> str:
    """The bounded (day x type) count grid — the relation every tail CTE
    of the Friedman test references (CTE inlining expanded it into 16
    static corpus scans per statement, guide §3.3)."""
    day = "to_date(ts)" if d.name == "spark" else "CAST(ts AS DATE)"
    return f"""
SELECT {day} AS day, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
FROM {events} GROUP BY 1, 2
"""


def _friedman_sql(d: Dialect, events: str, cells: str) -> str:
    return f"""
WITH cells AS ({cells}),
types AS (SELECT DISTINCT event_type FROM cells),
days AS (SELECT DISTINCT day FROM cells),
dense AS (
  SELECT dy.day, ty.event_type, COALESCE(ce.cnt, 0) AS cnt
  FROM days dy CROSS JOIN types ty
  LEFT JOIN cells ce ON ce.day = dy.day AND ce.event_type = ty.event_type
),
-- 2x-scaled tie-averaged rank: r2 = 2*RANK + ties - 1 (exact integer;
-- the window partitions by day over the k-row type axis)
ranked AS (
  SELECT day, event_type, cnt,
         2 * RANK() OVER (PARTITION BY day ORDER BY cnt)
           + CAST(COUNT(*) OVER (PARTITION BY day, cnt) AS INT) - 1 AS r2
  FROM dense
),
k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM types),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM days),
cols AS (
  SELECT event_type,
         CAST(SUM(r2) AS BIGINT) AS r2_sum,
         CAST(SUM(CAST(r2 AS DECIMAL(38,0)) * r2) AS DECIMAL(38,0)) AS r2_sq
  FROM ranked GROUP BY event_type
),
-- Q = (k-1) * sum_j (R2_j - n(k+1))^2 / (sum_ij r2_ij^2 - n k (k+1)^2):
-- the 2x scale cancels between numerator and tie-corrected denominator
agg AS (
  SELECT CAST(SUM(CAST(c.r2_sum - nn.n * (kk.k + 1) AS DECIMAL(38,0))
                  * (c.r2_sum - nn.n * (kk.k + 1))) AS DECIMAL(38,0)) AS num,
         CAST(SUM(c.r2_sq) AS DECIMAL(38,0))
           - MAX(nn.n) * MAX(kk.k) * (MAX(kk.k) + 1) * (MAX(kk.k) + 1) AS den,
         MAX(kk.k) AS k, MAX(nn.n) AS n
  FROM cols c CROSS JOIN k kk CROSS JOIN n nn
)
SELECT c.event_type,
       CAST(ROUND(CAST(c.r2_sum AS DOUBLE) / 2.0e0 / a.n, 6) AS DOUBLE)
         AS mean_rank,
       a.n AS n_days,
       a.k AS k_treatments,
       CAST(ROUND((a.k - 1) * CAST(a.num AS DOUBLE)
                  / NULLIF(CAST(a.den AS DOUBLE), 0), 6) AS DOUBLE)
         AS friedman_chi2,
       CAST(CASE WHEN (a.k - 1) * CAST(a.num AS DOUBLE)
                      / NULLIF(CAST(a.den AS DOUBLE), 0) > 9.488e0
                 THEN 1 ELSE 0 END AS INT) AS reject_equal_5pct
FROM cols c CROSS JOIN agg a
ORDER BY c.event_type
"""


register_sql(
    "friedman_rank_test",
    _friedman_sql,
    ("events",),
    heads={"fr_cells": _friedman_cells_sql},
    doc="Tie-corrected Friedman test of whether the five event types "
    "keep a consistent daily volume ordering (blocks = days, "
    "treatments = types): 2x-scaled tie-averaged ranks keep the whole "
    "statistic in EXACT integers — the scale cancels between numerator "
    "and the tie-corrected denominator; the rank window partitions by "
    "day over the k-row type axis.  chi2_(k-1) vs the literal 9.488e0.  "
    "The k-sample ordinal test beside cochran_q (binary) and "
    "kendall_tau_b (pairwise).",
    tags=("analytics", "stats", "agg"),
)


# --------------------------------------------------------------------------
# Cramer's V with Bergsma bias correction
# --------------------------------------------------------------------------
def _cramers_cells_sql(d: Dialect, orders: str) -> str:
    """The bounded 5x3 contingency grid — the relation every tail CTE of
    the Cramer's V statistic references (CTE inlining expanded it into 14
    static corpus scans per statement, guide §3.3)."""
    return f"""
SELECT o_orderpriority AS a, o_orderstatus AS b,
       CAST(COUNT(*) AS BIGINT) AS c
FROM {orders} GROUP BY 1, 2
"""


def _cramers_sql(d: Dialect, orders: str, cells: str) -> str:
    return f"""
WITH cells AS ({cells}),
ra AS (SELECT a, CAST(SUM(c) AS BIGINT) AS ca FROM cells GROUP BY a),
cb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cb FROM cells GROUP BY b),
tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM ra) AS r,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM cb) AS cc
  FROM cells
),
-- full dense grid incl. zero cells; per-cell chi2 term (o-e)^2/e
-- nano-quantized before the bounded grid sum
grid AS (
  SELECT ra.a, cb.b, ra.ca, cb.cb, COALESCE(ce.c, 0) AS o
  FROM ra CROSS JOIN cb LEFT JOIN cells ce ON ce.a = ra.a AND ce.b = cb.b
),
terms AS (
  SELECT CAST(FLOOR(
           (g.o - CAST(g.ca AS DOUBLE) * g.cb / t.n)
           * (g.o - CAST(g.ca AS DOUBLE) * g.cb / t.n)
           / (CAST(g.ca AS DOUBLE) * g.cb / t.n) * 1e9) AS BIGINT) AS t_nano
  FROM grid g CROSS JOIN tot t
),
chi AS (SELECT CAST(SUM(t_nano) AS BIGINT) AS chi_nano FROM terms),
fin AS (
  SELECT t.n, t.r, t.cc,
         CAST(c.chi_nano AS DOUBLE) / 1e9 AS chi2,
         CAST(c.chi_nano AS DOUBLE) / 1e9 / t.n AS phi2,
         GREATEST(0.0e0, CAST(c.chi_nano AS DOUBLE) / 1e9 / t.n
                  - CAST((t.r - 1) * (t.cc - 1) AS DOUBLE) / (t.n - 1)) AS phi2c,
         t.r - CAST((t.r - 1) * (t.r - 1) AS DOUBLE) / (t.n - 1) AS rc,
         t.cc - CAST((t.cc - 1) * (t.cc - 1) AS DOUBLE) / (t.n - 1) AS ccc
  FROM tot t CROSS JOIN chi c
)
SELECT n AS n_orders, r AS n_priorities, cc AS n_statuses,
       CAST(ROUND(chi2, 6) AS DOUBLE) AS chi_squared,
       CAST(ROUND(SQRT(phi2 / (LEAST(r, cc) - 1)), 6) AS DOUBLE) AS cramers_v,
       CAST(ROUND(SQRT(phi2c / NULLIF(LEAST(rc, ccc) - 1, 0)), 6) AS DOUBLE)
         AS cramers_v_corrected
FROM fin
"""


register_sql(
    "cramers_v_bias_corrected",
    _cramers_sql,
    ("orders",),
    heads={"cv_cells": _cramers_cells_sql},
    doc="Cramer's V effect size of the order-priority x order-status "
    "association, plain and Bergsma bias-corrected: the corpus "
    "collapses to the bounded 5x3 contingency grid in one map-side-"
    "combinable groupBy, per-cell chi2 terms nano-quantized before the "
    "grid sum, all corrections scalar.  The EFFECT SIZE beside "
    "chi_squared_independence (significance says little at 100 TB row "
    "counts — everything is 'significant'; V says whether it matters).",
    tags=("analytics", "stats", "agg"),
)


# --------------------------------------------------------------------------
# Katz centrality by unrolled integer-exact iterations
# --------------------------------------------------------------------------
_KATZ_ITERS = 6
_KATZ_TOPK = 20


def _katz_sql(
    d: Dialect,
    table: str,
    pairs_rel: str | None = None,
    edges_rel: str | None = None,
    nodes_rel: str | None = None,
) -> str:
    from .dedup import _lsh_pairs_sql
    from ..functions.dialect import strip_order_by

    pairs = pairs_rel or f"({strip_order_by(_lsh_pairs_sql(d, table))})"
    one = 10**12  # pico-units
    # x_{i+1}(v) = 1 + alpha * sum_{u~v} x_i(u), alpha = 1/10 exact idiv
    steps = []
    prev = "x0"
    for i in range(_KATZ_ITERS):
        nxt = f"x{i + 1}"
        steps.append(
            f"{nxt} AS (\n"
            f"  SELECT n.node, CAST({one} + "
            f"{d.idiv('COALESCE(s.acc, 0)', '10')} AS BIGINT) AS x\n"
            f"  FROM nodes n LEFT JOIN (\n"
            f"    SELECT e.u AS node, CAST(SUM(p.x) AS BIGINT) AS acc\n"
            f"    FROM edges e JOIN {prev} p ON p.node = e.v GROUP BY e.u\n"
            f"  ) s ON s.node = n.node\n"
            f")"
        )
        prev = nxt
    steps_sql = ",\n".join(steps)
    edges = (
        f"SELECT * FROM {edges_rel}"
        if edges_rel
        else f"""
  SELECT doc_a AS u, doc_b AS v FROM (SELECT doc_a, doc_b FROM {pairs} pr) p
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM (SELECT doc_a, doc_b FROM {pairs} pr) p
"""
    )
    nodes = (
        f"SELECT * FROM {nodes_rel}"
        if nodes_rel
        else "SELECT DISTINCT u AS node FROM edges"
    )
    return f"""
WITH edges AS ({edges}),
nodes AS ({nodes}),
x0 AS (SELECT node, CAST({one} AS BIGINT) AS x FROM nodes),
{steps_sql}
SELECT node AS doc_id,
       CAST(ROUND(CAST(x AS DOUBLE) / 1e12, 6) AS DOUBLE) AS katz_centrality
FROM {prev}
ORDER BY x DESC, node
LIMIT {_KATZ_TOPK}
"""


@register(
    "katz_centrality",
    oracle=_katz_sql(DUCKDB, "documents"),
    doc=f"Katz centrality on the MinHash-LSH near-dup graph by "
    f"{_KATZ_ITERS} unrolled INTEGER-exact iterations (x <- 1 + A*x/10 "
    "in pico-units, floor-divide per step — bit-identical across "
    "engines and partitionings, the markov_stationary discipline); one "
    f"vector-vs-edges join per iteration, top-{_KATZ_TOPK} by integer "
    "ordering.  The walk-counting centrality beside pagerank (random "
    "surfer) and kcore (shell structure); alpha = 1/10 is safely below "
    "1/max-degree for an LSH-banded graph.",
    tags=("analytics", "graph", "iteration", "topk"),
)
def katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import materialize_once
    from .dedup import _lsh_pairs_view

    view = table_view(spark, sf_dir, "documents")
    # Materialize the symmetric edge list and node set once (guide §3.3):
    # every unrolled iteration re-derived both from the pair view (38
    # static Exchanges per statement); two bounded checkpoints leave one
    # join + one aggregation per iteration.
    pairs = _lsh_pairs_view(spark, sf_dir)
    edges = materialize_once(
        spark,
        f"SELECT doc_a AS u, doc_b AS v FROM {pairs}\n"
        f"UNION ALL\nSELECT doc_b AS u, doc_a AS v FROM {pairs}",
        "katz_edges",
        key=sf_dir,
    )
    nodes = materialize_once(
        spark,
        f"SELECT DISTINCT u AS node FROM {edges}",
        "katz_nodes",
        key=sf_dir,
    )
    return spark.sql(_katz_sql(SPARK, view, edges_rel=edges, nodes_rel=nodes))


# --------------------------------------------------------------------------
# SAX symbolic series + 3-day motifs
# --------------------------------------------------------------------------
def _sax_symbols_sql(d: Dialect, orders: str) -> str:
    """The bounded day-grid SAX symbol series — the relation the 3-way
    motif self-join references (12 static corpus scans per statement,
    guide §3.3)."""
    dayno = d.epoch_day("o_orderdate")
    # N(0,1) quartile breakpoints for a 4-symbol alphabet
    sym = (
        "CASE WHEN z < -0.6745e0 THEN 'a' WHEN z < 0.0e0 THEN 'b' "
        "WHEN z < 0.6745e0 THEN 'c' ELSE 'd' END"
    )
    return f"""
WITH daily AS (
  SELECT CAST({dayno} AS BIGINT) AS day,
         CAST(SUM({_CENTS}) AS DECIMAL(38,0)) AS cents
  FROM {orders} GROUP BY 1
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS DECIMAL(38,0)) AS s1,
         CAST(SUM(cents * cents) AS DECIMAL(38,0)) AS s2
  FROM daily
),
-- z-score per day from exact sums (n-scaled variance, no cancellation)
z AS (
  SELECT dd.day,
         (CAST(dd.cents AS DOUBLE) - CAST(mm.s1 AS DOUBLE) / mm.n)
         / NULLIF(SQRT(CAST(mm.n * mm.s2 - mm.s1 * mm.s1 AS DOUBLE)
                       / mm.n / (mm.n - 1)), 0) AS z
  FROM daily dd CROSS JOIN m mm
)
SELECT day, {sym} AS s FROM z
"""


def _sax_sql(d: Dialect, orders: str, sax: str) -> str:
    return f"""
WITH sax AS ({sax}),
-- 3-day motif words via exact consecutive-day self-joins (adf pattern)
words AS (
  SELECT a.s || b.s || c.s AS motif
  FROM sax a
  JOIN sax b ON b.day = a.day + 1
  JOIN sax c ON c.day = a.day + 2
)
SELECT motif, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM words
GROUP BY motif
ORDER BY n_occurrences DESC, motif
"""


register_sql(
    "sax_daily_revenue_motifs",
    _sax_sql,
    ("orders",),
    heads={"sax_syms": _sax_symbols_sql},
    doc="SAX symbolic discretization of daily revenue (4-symbol "
    "alphabet, standard N(0,1) quartile breakpoints as literals, "
    "z-scores from exact cancellation-free moment sums) with 3-day "
    "motif counts from consecutive-day self-joins on the bounded day "
    "grid — never a window.  Motif space is bounded at 64 words; the "
    "head motif is the series' dominant local shape (the symbolic "
    "primitive under motif/discord mining).",
    tags=("analytics", "timeseries", "agg"),
)


# --------------------------------------------------------------------------
# mutual information of (source, lang)
# --------------------------------------------------------------------------
def _mi_cells_sql(d: Dialect, table: str) -> str:
    return f"""
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
  FROM {table} GROUP BY source, lang
"""


def _mi_sql(d: Dialect, table: str, cells: str) -> str:
    return f"""
WITH cells AS ({cells}),
ms AS (SELECT source, CAST(SUM(c) AS BIGINT) AS cs FROM cells GROUP BY source),
ml AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS cl FROM cells GROUP BY lang),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
-- per-cell MI term p * ln(p / (px py)) nano-quantized before the grid
-- sum; marginal-entropy terms likewise
mi_terms AS (
  SELECT CAST(FLOOR((CAST(ce.c AS DOUBLE) / t.n)
       * LN(CAST(ce.c AS DOUBLE) * t.n
            / (CAST(s.cs AS DOUBLE) * l.cl)) * 1e9) AS BIGINT) AS t_nano
  FROM cells ce
  JOIN ms s ON s.source = ce.source
  JOIN ml l ON l.lang = ce.lang
  CROSS JOIN tot t
),
hs_terms AS (
  SELECT CAST(FLOOR(-(CAST(cs AS DOUBLE) / t.n)
       * LN(CAST(cs AS DOUBLE) / t.n) * 1e9) AS BIGINT) AS t_nano
  FROM ms CROSS JOIN tot t
),
hl_terms AS (
  SELECT CAST(FLOOR(-(CAST(cl AS DOUBLE) / t.n)
       * LN(CAST(cl AS DOUBLE) / t.n) * 1e9) AS BIGINT) AS t_nano
  FROM ml CROSS JOIN tot t
),
agg AS (
  SELECT (SELECT CAST(SUM(t_nano) AS BIGINT) FROM mi_terms) AS mi_nano,
         (SELECT CAST(SUM(t_nano) AS BIGINT) FROM hs_terms) AS hs_nano,
         (SELECT CAST(SUM(t_nano) AS BIGINT) FROM hl_terms) AS hl_nano
)
SELECT t.n AS n_docs,
       CAST(ROUND(CAST(a.mi_nano AS DOUBLE) / 1e9, 6) AS DOUBLE) AS mi_nats,
       CAST(ROUND(CAST(a.hs_nano AS DOUBLE) / 1e9, 6) AS DOUBLE)
         AS h_source_nats,
       CAST(ROUND(CAST(a.hl_nano AS DOUBLE) / 1e9, 6) AS DOUBLE)
         AS h_lang_nats,
       CAST(ROUND(2.0e0 * a.mi_nano
                  / NULLIF(CAST(a.hs_nano + a.hl_nano AS DOUBLE), 0), 6)
            AS DOUBLE) AS nmi
FROM tot t CROSS JOIN agg a
"""


register_sql(
    "mutual_information_source_lang",
    _mi_sql,
    ("documents",),
    heads={"mi_cells": _mi_cells_sql},
    doc="Mutual information and symmetric NMI of the (source, lang) "
    "pairing: the corpus collapses to the bounded contingency grid in "
    "one groupBy, per-cell p*ln terms nano-quantized before the grid "
    "sum.  MI in nats says HOW MUCH knowing the source tells you about "
    "language — the feature-relevance magnitude beside "
    "chi_squared_independence's yes/no.",
    tags=("analytics", "stats", "text"),
)


# --------------------------------------------------------------------------
# leave-one-source-out influence on the corpus mean
# --------------------------------------------------------------------------
def _loso_sql(d: Dialect, table: str) -> str:
    return f"""
WITH g AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(CAST(n_chars AS BIGINT)) AS DECIMAL(38,0)) AS s_g
  FROM {table} GROUP BY source
),
tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n, CAST(SUM(s_g) AS DECIMAL(38,0)) AS s FROM g)
SELECT g.source,
       g.n_g AS n_docs,
       CAST(ROUND(CAST(g.s_g AS DOUBLE) / g.n_g, 6) AS DOUBLE)
         AS mean_chars_source,
       CAST(ROUND(CAST(t.s - g.s_g AS DOUBLE) / (t.n - g.n_g), 6) AS DOUBLE)
         AS mean_chars_without,
       CAST(ROUND(CAST(t.s AS DOUBLE) / t.n
                  - CAST(t.s - g.s_g AS DOUBLE) / (t.n - g.n_g), 6)
            AS DOUBLE) AS delta_mean_chars
FROM g CROSS JOIN tot t
ORDER BY g.source
"""


register_sql(
    "loso_source_influence",
    _loso_sql,
    ("documents",),
    doc="Leave-one-source-out influence of each source on the corpus "
    "mean doc length: delta = mean_all - mean_without_source, every "
    "contrast from ONE pass of exact integer sums (never a per-source "
    "rescan — the O(k) algebraic form of k full-corpus recomputations). "
    "The data-valuation-lite audit: a large |delta| flags a source "
    "whose removal would shift corpus statistics, the cheap first "
    "screen before influence functions.",
    tags=("curation", "audit", "agg"),
)


# --------------------------------------------------------------------------
# Hilbert-curve layout audit (the zorder_layout_audit twin)
# --------------------------------------------------------------------------
def _hilbert_fold_expr(bits: int, x: str = "bx", y: str = "by") -> str:
    """The same xy2d recurrence as ONE ``aggregate()`` fold over
    ``sequence(bits-1, 0, -1)`` with a (x, y, d) struct accumulator —
    the Spark-side form.  The unrolled CTE chain collapses under
    Catalyst's CollapseProject into a projection whose x/y references
    double per step (2^bits expansion: ~1.7 s to EXECUTE on 150k rows
    at sf0.1); the fold keeps the tree O(1) in ``bits`` and loops at
    runtime instead.  Verified bit-identical to the chain over the full
    grid in tests (DuckDB oracle keeps the chain — its optimizer does
    not collapse the steps)."""
    n = 1 << bits
    s = "shiftleft(1, i)"
    return f"""aggregate(
  sequence({bits - 1}, 0, -1),
  named_struct('x', {x}, 'y', {y}, 'd', CAST(0 AS BIGINT)),
  (acc, i) -> named_struct(
    'x', CASE WHEN (acc.y & {s}) > 0 THEN acc.x
              WHEN (acc.x & {s}) > 0 THEN {n} - 1 - acc.y
              ELSE acc.y END,
    'y', CASE WHEN (acc.y & {s}) > 0 THEN acc.y
              WHEN (acc.x & {s}) > 0 THEN {n} - 1 - acc.x
              ELSE acc.x END,
    'd', acc.d + CAST(shiftleft(1, 2 * i) AS BIGINT) *
         (CASE WHEN (acc.x & {s}) = 0 AND (acc.y & {s}) = 0 THEN 0
               WHEN (acc.x & {s}) = 0 THEN 1
               WHEN (acc.y & {s}) > 0 THEN 2 ELSE 3 END)),
  acc -> acc.d)"""


def _hilbert_steps_sql(bits: int) -> str:
    """Unrolled Hilbert xy2d recurrence as a CTE chain: 8 projection
    steps over (okey, x, y, d), each pure integer CASE arithmetic — the
    classic algorithm (d += s^2 * ((3 rx) xor ry); reflect-about-grid +
    swap when ry = 0), with the tiny xor table inlined as a CASE on
    (rx, ry).  Verified a bijection with perfect step-1 adjacency for
    the full grid in tests."""
    n = 1 << bits
    steps = []
    prev = "h0"
    for i, shift in enumerate(range(bits - 1, -1, -1)):
        s = 1 << shift
        nxt = f"h{i + 1}"
        q = (
            f"CASE WHEN rx = 0 AND ry = 0 THEN 0 "
            f"WHEN rx = 0 AND ry = 1 THEN 1 "
            f"WHEN rx = 1 AND ry = 1 THEN 2 ELSE 3 END"
        )
        steps.append(
            f"{nxt} AS (\n"
            f"  SELECT okey, bx, by, z,\n"
            f"         CASE WHEN ry = 1 THEN x\n"
            f"              WHEN rx = 1 THEN {n} - 1 - y\n"
            f"              ELSE y END AS x,\n"
            f"         CASE WHEN ry = 1 THEN y\n"
            f"              WHEN rx = 1 THEN {n} - 1 - x\n"
            f"              ELSE x END AS y,\n"
            f"         d + {s * s} * ({q}) AS d\n"
            f"  FROM (SELECT okey, bx, by, z, x, y, d,\n"
            f"               CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END AS rx,\n"
            f"               CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END AS ry\n"
            f"        FROM {prev}) p\n"
            f")"
        )
        prev = nxt
    return ",\n".join(steps), prev


def _hilbert_oracle() -> str:
    from .round9 import ZORDER_FILE_ROWS, _zorder_base_sql

    d = DUCKDB
    bits = 8
    grid = 1 << bits
    steps_sql, last = _hilbert_steps_sql(bits)
    return f"""
WITH base AS ({_zorder_base_sql(d, "orders")}),
h0 AS (SELECT okey, bx, by, z, bx AS x, by AS y, CAST(0 AS BIGINT) AS d FROM base),
{steps_sql},
hilb AS (SELECT okey, bx, by, z, d AS hd FROM {last}),
assigned AS (
  SELECT 'custkey_1d' AS layout,
         (ROW_NUMBER() OVER (ORDER BY bx, okey) - 1) // {ZORDER_FILE_ROWS}
           AS file_id, bx, by
  FROM hilb
  UNION ALL
  SELECT 'zorder' AS layout,
         (ROW_NUMBER() OVER (ORDER BY z, okey) - 1) // {ZORDER_FILE_ROWS}
           AS file_id, bx, by
  FROM hilb
  UNION ALL
  SELECT 'hilbert' AS layout,
         (ROW_NUMBER() OVER (ORDER BY hd, okey) - 1) // {ZORDER_FILE_ROWS}
           AS file_id, bx, by
  FROM hilb
),
files AS (
  SELECT layout, file_id,
         MIN(bx) AS mn_bx, MAX(bx) AS mx_bx,
         MIN(by) AS mn_by, MAX(by) AS mx_by
  FROM assigned GROUP BY layout, file_id
)
SELECT layout,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       ROUND(AVG(CAST(mx_bx - mn_bx + 1 AS DOUBLE)) / {grid}, 6)
         AS avg_x_span_frac,
       ROUND(AVG(CAST(mx_by - mn_by + 1 AS DOUBLE)) / {grid}, 6)
         AS avg_y_span_frac,
       ROUND(AVG(CAST((mx_bx - mn_bx + 1) AS DOUBLE)
                 * CAST((mx_by - mn_by + 1) AS DOUBLE)) / {grid * grid}, 6)
         AS avg_file_area_frac
FROM files
GROUP BY layout
ORDER BY layout
"""


@register(
    "hilbert_layout_audit",
    oracle=_hilbert_oracle(),
    doc="Hilbert-curve clustering vs Z-order vs a 1-D sort: the same "
    "(custkey, orderdate) 256x256 grid and fixed-size simulated files "
    "as zorder_layout_audit, with the Hilbert index built by 8 unrolled "
    "INTEGER-exact recurrence steps (reflect+swap as CASE arithmetic, "
    "the xor table inlined — no engine bit builtins beyond & and >).  "
    "Hilbert's no-jump property should show the smallest per-file "
    "bounding-box area — the liquid-clustering argument over plain "
    "Z-order at 100 TB.  Spark side ranks each layout via the "
    "distributed range-rank primitive, never a single-partition sort.",
    tags=("layout", "audit", "scale"),
)
def hilbert_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .round9 import ZORDER_FILE_ROWS, _zorder_base_sql
    from .scalars_extra import range_ranked

    bits = 8
    grid = 1 << bits
    orders = table_view(spark, sf_dir, "orders")
    base = spark.sql(
        f"""
WITH base AS ({_zorder_base_sql(SPARK, orders)})
SELECT okey, bx, by, z, {_hilbert_fold_expr(bits)} AS hd FROM base
"""
    ).localCheckpoint()
    # ONE distributed-rank pass for all three layout legs: the union sorts
    # by (layout, key, okey), so each layout's rows are a contiguous rank
    # block and its per-layout rank is the global rank minus a constant
    # layout offset (layouts sort 'custkey_1d' < 'hilbert' < 'zorder').
    # The per-leg form paid 3x (repartitionByRange checkpoint + bounded
    # offset collect) — job-count, not data, dominated the bench row.
    legs = [
        base.select(
            F.lit(layout).alias("layout"),
            F.col(col).cast("bigint").alias("k"),
            "okey", "bx", "by",
        )
        for layout, col in (("custkey_1d", "bx"), ("hilbert", "hd"), ("zorder", "z"))
    ]
    union = legs[0]
    for leg in legs[1:]:
        union = union.unionByName(leg)
    ranked, total = range_ranked(union, ["layout", "k", "okey"])
    if ranked is None:
        return spark.sql(
            "SELECT CAST(NULL AS STRING) AS layout, CAST(0 AS BIGINT) AS n_files, "
            "CAST(NULL AS DOUBLE) AS avg_x_span_frac, "
            "CAST(NULL AS DOUBLE) AS avg_y_span_frac, "
            "CAST(NULL AS DOUBLE) AS avg_file_area_frac WHERE 1 = 0"
        )
    n_rows = total // 3
    offset = (
        F.when(F.col("layout") == "custkey_1d", F.lit(0))
        .when(F.col("layout") == "hilbert", F.lit(n_rows))
        .otherwise(F.lit(2 * n_rows))
    )
    assigned = ranked.select(
        "layout",
        ((F.col("r") - 1 - offset) / ZORDER_FILE_ROWS).cast("long").alias("file_id"),
        "bx", "by",
    )
    return spark.sql(
        f"""
WITH files AS (
  SELECT layout, file_id,
         MIN(bx) AS mn_bx, MAX(bx) AS mx_bx,
         MIN(by) AS mn_by, MAX(by) AS mx_by
  FROM {{assigned}} GROUP BY layout, file_id
)
SELECT layout,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       ROUND(AVG(CAST(mx_bx - mn_bx + 1 AS DOUBLE)) / {grid}, 6)
         AS avg_x_span_frac,
       ROUND(AVG(CAST(mx_by - mn_by + 1 AS DOUBLE)) / {grid}, 6)
         AS avg_y_span_frac,
       ROUND(AVG(CAST((mx_bx - mn_bx + 1) AS DOUBLE)
                 * CAST((mx_by - mn_by + 1) AS DOUBLE)) / {grid * grid}, 6)
         AS avg_file_area_frac
FROM files
GROUP BY layout
ORDER BY layout
""",
        assigned=assigned,
    )


# --------------------------------------------------------------------------
# whole-document length-bucket packing plan
# --------------------------------------------------------------------------
_PACK_CAP = 2048
_PACK_SHARD_DOCS = 1000  # target docs per packing shard


def _bucketed_packing_sql(d: Dialect, table: str) -> str:
    toks = d.alen(d.splitws("text"))
    h = d.md5_prefix_int(f"('pack|' || {d.strcast('doc_id')})")
    return f"""
WITH base AS (
  SELECT doc_id, CAST({toks} AS BIGINT) AS n_tok FROM {table}
),
nshard AS (
  SELECT CAST({d.idiv(f"(COUNT(*) + {_PACK_SHARD_DOCS} - 1)", str(_PACK_SHARD_DOCS))}
              AS BIGINT) AS s
  FROM base
),
-- power-of-two length bucket (16..2048); docs over cap are truncated to
-- one bin each (bucket = cap)
bucketed AS (
  SELECT b.doc_id, b.n_tok,
         CAST(CASE WHEN b.n_tok <= 16 THEN 16
              WHEN b.n_tok <= 32 THEN 32
              WHEN b.n_tok <= 64 THEN 64
              WHEN b.n_tok <= 128 THEN 128
              WHEN b.n_tok <= 256 THEN 256
              WHEN b.n_tok <= 512 THEN 512
              WHEN b.n_tok <= 1024 THEN 1024
              ELSE {_PACK_CAP} END AS BIGINT) AS bucket,
         CAST(({h}) % ns.s AS BIGINT) AS shard
  FROM base b CROSS JOIN nshard ns
),
-- slot within (shard, bucket): window partitions are bounded by the
-- shard sizing (~{_PACK_SHARD_DOCS} docs), never corpus-scale
slotted AS (
  SELECT doc_id, n_tok, bucket, shard,
         ROW_NUMBER() OVER (PARTITION BY shard, bucket ORDER BY doc_id) - 1
           AS slot
  FROM bucketed
),
-- bin = slot div (cap/bucket): every bin holds docs of ONE bucket, so
-- fill is bucket-exact and document boundaries are never crossed
binned AS (
  SELECT bucket, shard,
         {d.idiv("slot", d.idiv(str(_PACK_CAP), "bucket"))} AS bin_in_shard,
         n_tok
  FROM slotted
),
bins AS (
  SELECT bucket, shard, bin_in_shard,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS real_toks
  FROM binned GROUP BY bucket, shard, bin_in_shard
)
SELECT bucket,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(ROUND(CAST(SUM(real_toks) AS DOUBLE)
                  / (COUNT(*) * {_PACK_CAP}), 6) AS DOUBLE)
         AS fill_frac_vs_cap,
       CAST(ROUND(CAST(SUM(real_toks) AS DOUBLE)
                  / (CAST(SUM(n_docs) AS DOUBLE) * bucket), 6) AS DOUBLE)
         AS fill_frac_vs_bucket
FROM bins
GROUP BY bucket
ORDER BY bucket
"""


register_sql(
    "bucketed_packing_plan",
    _bucketed_packing_sql,
    ("documents",),
    doc=f"Whole-document length-bucket packing plan ({_PACK_CAP}-token "
    "bins, power-of-two buckets): docs route to hash shards sized "
    f"~{_PACK_SHARD_DOCS} docs (shard count scales with the corpus), "
    "slot within (shard, bucket) from a bounded-partition window, bin = "
    "slot div (cap/bucket) — every bin holds one bucket's docs, so "
    "DOCUMENT BOUNDARIES ARE NEVER CROSSED (no cross-doc attention "
    "contamination), unlike sequence_packing's concat-and-split.  The "
    "per-bucket summary (bins, fill vs cap, fill vs bucket) quantifies "
    "the packing-efficiency / boundary-purity tradeoff that "
    "padding_waste_audit measures for the naive loader.",
    tags=("curation", "packing", "plan"),
)
