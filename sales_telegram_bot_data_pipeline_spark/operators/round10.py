"""Round-10 batch — seven never-covered analytics families:

- ``levene_brown_forsythe`` — Brown-Forsythe (median-based Levene)
  homogeneity-of-variance test of doc length across sources: the corpus
  collapses to the BOUNDED (source x n_chars) cell grid, per-source
  medians come from cumulative cell counts (window PARTITIONED BY
  source over the value axis — never a corpus sort), absolute
  deviations stay integral via the 2x-scaled ``|2v - med2|`` trick, and
  the one-way-ANOVA-on-deviations F statistic assembles from per-group
  moment sums (micro-quantized per group before the k-row total).  The
  variance-homogeneity companion to anova_sources_doclen (which tests
  MEANS and assumes what this tests).
- ``hill_tail_index`` — Hill estimator of the Pareto tail exponent of
  order values over the top-k order statistics: one TakeOrdered
  LIMIT-(k+1) pass (never a global sort), per-row log-ratios
  nano-quantized before the exact k-row sum.  The tail-heaviness
  companion to mean_excess_tail_audit (POT) on the block side.
- ``theil_inequality_decomposition`` — Theil T index of order revenue
  by market segment with the EXACT within/between decomposition
  T = sum_g s_g T_g + T_between: per-row x ln x terms are
  nano-quantized before any cross-partition sum (the standing
  order-independence discipline), group terms assemble from exact
  integer revenue sums.  The DECOMPOSABLE inequality measure beside
  revenue_concentration_audit's Gini (which cannot split
  within/between).
- ``granger_lag_causality`` — does daily order COUNT Granger-cause
  daily REVENUE?  Restricted (y_t ~ y_{t-1}) vs unrestricted
  (y_t ~ y_{t-1} + x_{t-1}) OLS on the aggregated day grid (lag via the
  exact day+1 self-join, consecutive days only — the adf pattern), both
  RSS in closed form from scaled-integer moment sums, F-statistic
  against the literal 3.84e0 5% critical value.
- ``ljung_box_whiteness`` — portmanteau whiteness test of daily
  revenue: Q = n(n+2) sum_k rho_k^2/(n-k) over lags 1..7, each rho_k
  from the same exact scaled-deviation sums as acf_daily_revenue,
  per-lag terms pico-quantized before the 7-row sum.  The JOINT test
  beside acf (per-lag diagnostic) and adf (unit root).
- ``degree_assortativity`` — Newman degree assortativity of the
  MinHash-LSH near-dup graph: Pearson r of endpoint degrees over
  directed edges, exact BIGINT/DECIMAL moment sums, one double sqrt at
  the end.  Positive r: hub docs duplicate other hubs (template
  families); negative: hub-leaf (one canonical, many copies).
- ``adamic_adar_link_prediction`` — top-20 predicted near-dup links by
  Adamic-Adar score over the LSH graph: wedge join on the shared
  neighbor (fan-out bounded by the LSH band structure), existing edges
  anti-joined out, per-wedge 1/ln(deg) weights nano-quantized before
  the exact per-pair sum.

Dual-dialect per repo conventions: exact integer/DECIMAL sums before any
cross-partition aggregation, per-row/per-group libm outputs quantized to
integer units BEFORE summation, DOUBLE only in final scalar expressions,
ROUND(...,6), NULLIF-guarded divisors, no final column above
DECIMAL(18) precision (the kendall hash class)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.dialect import DUCKDB, SPARK, Dialect, strip_order_by
from ..registry import register, register_sql
from ..sources.tables import table_view


_CENTS = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"


# --------------------------------------------------------------------------
# Brown-Forsythe / Levene homogeneity of variance
# --------------------------------------------------------------------------
def _levene_cells_sql(d: Dialect, table: str) -> str:
    """The bounded (source x n_chars) cell grid every downstream CTE
    references — split out so the Spark side can materialize it once per
    call (guide §3.3: CTE inlining re-scanned the corpus per reference,
    24 executed scans for one statement)."""
    return f"""
  SELECT source, CAST(n_chars AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM {table} GROUP BY source, n_chars
"""


def _levene_sql(d: Dialect, table: str, cells_rel: str | None = None) -> str:
    return f"""
WITH cells AS ({cells_rel or _levene_cells_sql(d, table)}),
gtot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_g FROM cells GROUP BY source),
cum AS (
  SELECT source, v, c,
         CAST(SUM(c) OVER (PARTITION BY source ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cu
  FROM cells
),
-- med2 = x_(lo) + x_(hi) with lo = floor((n+1)/2), hi = floor((n+2)/2)
-- (1-indexed order statistics): 2x the median, always an exact integer
medlo AS (
  SELECT cu.source, MIN(cu.v) AS vlo
  FROM cum cu JOIN gtot g ON g.source = cu.source
  WHERE cu.cu >= {d.idiv("(g.n_g + 1)", "2")} GROUP BY cu.source
),
medhi AS (
  SELECT cu.source, MIN(cu.v) AS vhi
  FROM cum cu JOIN gtot g ON g.source = cu.source
  WHERE cu.cu >= {d.idiv("(g.n_g + 2)", "2")} GROUP BY cu.source
),
med AS (
  SELECT l.source, l.vlo + h.vhi AS med2
  FROM medlo l JOIN medhi h ON h.source = l.source
),
-- z = |2v - med2| = 2|v - median|: integral per cell; the common factor
-- 2 cancels in the F ratio (both SSB and SSW scale by 4)
zc AS (
  SELECT ce.source, ABS(2 * ce.v - m.med2) AS z, ce.c
  FROM cells ce JOIN med m ON m.source = ce.source
),
gs AS (
  SELECT source,
         CAST(SUM(c) AS BIGINT) AS n_g,
         CAST(SUM(c * z) AS DECIMAL(38,0)) AS sz,
         CAST(SUM(CAST(c AS DECIMAL(38,0)) * z * z) AS DECIMAL(38,0)) AS szz
  FROM zc GROUP BY source
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n_g) AS BIGINT) AS n,
         CAST(SUM(sz) AS DECIMAL(38,0)) AS s_all
  FROM gs
),
-- per-group between/within contributions as doubles from exact sums,
-- micro-quantized BEFORE the k-row total (order-independence)
terms AS (
  SELECT g.source, g.n_g, g.sz, g.szz, t.k, t.n, t.s_all,
         CAST(FLOOR(CAST(g.n_g AS DOUBLE)
              * (CAST(g.sz AS DOUBLE) / g.n_g - CAST(t.s_all AS DOUBLE) / t.n)
              * (CAST(g.sz AS DOUBLE) / g.n_g - CAST(t.s_all AS DOUBLE) / t.n)
              * 1e6) AS BIGINT) AS btw_micro,
         CAST(FLOOR((CAST(g.szz AS DOUBLE)
              - CAST(g.sz AS DOUBLE) * CAST(g.sz AS DOUBLE) / g.n_g)
              * 1e6) AS BIGINT) AS wtn_micro
  FROM gs g CROSS JOIN tot t
),
f AS (
  SELECT MAX(k) AS k, MAX(n) AS n,
         CAST(SUM(btw_micro) AS BIGINT) AS ssb_micro,
         CAST(SUM(wtn_micro) AS BIGINT) AS ssw_micro
  FROM terms
)
SELECT te.source,
       te.n_g AS n_docs,
       CAST(ROUND((SELECT med2 FROM med m WHERE m.source = te.source) / 2.0e0, 6)
            AS DOUBLE) AS median_chars,
       CAST(ROUND(CAST(te.sz AS DOUBLE) / te.n_g / 2.0e0, 6) AS DOUBLE)
         AS mean_absdev_chars,
       f.k AS k_groups,
       f.n AS n_total,
       CAST(ROUND((CAST(f.n AS DOUBLE) - f.k) / (f.k - 1)
                  * CAST(f.ssb_micro AS DOUBLE)
                  / NULLIF(CAST(f.ssw_micro AS DOUBLE), 0), 6) AS DOUBLE)
         AS bf_statistic
FROM terms te CROSS JOIN f
ORDER BY te.source
"""


@register(
    "levene_brown_forsythe",
    oracle=_levene_sql(DUCKDB, "documents"),
    doc="Brown-Forsythe homogeneity-of-variance test of doc length "
    "across sources on the BOUNDED (source x n_chars) cell grid: exact "
    "grid medians (2x-scaled so deviations stay integral), per-group "
    "moment sums micro-quantized before the k-row F assembly.  The "
    "variance test beside anova_sources_doclen's mean test.",
    tags=("analytics", "stats", "agg"),
)
def levene_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import materialize_once

    view = table_view(spark, sf_dir, "documents")
    cells = materialize_once(spark, _levene_cells_sql(SPARK, view), "lev_cells", key=sf_dir)
    return spark.sql(_levene_sql(SPARK, view, cells_rel=f"SELECT * FROM {cells}"))


# --------------------------------------------------------------------------
# Hill tail-index estimator
# --------------------------------------------------------------------------
_HILL_K = 100


def _hill_sql(d: Dialect, orders: str) -> str:
    return f"""
WITH topk AS (
  SELECT {_CENTS} AS x FROM {orders}
  ORDER BY 1 DESC LIMIT {_HILL_K + 1}
),
ranked AS (
  SELECT x, ROW_NUMBER() OVER (ORDER BY x DESC) AS rk FROM topk
),
thresh AS (SELECT x AS xk1 FROM ranked WHERE rk = {_HILL_K + 1}),
-- per-row log-ratio in exact nano-units BEFORE the sum
terms AS (
  SELECT CAST(FLOOR(LN(CAST(r.x AS DOUBLE) / t.xk1) * 1e9) AS BIGINT) AS lr
  FROM ranked r CROSS JOIN thresh t WHERE r.rk <= {_HILL_K}
),
agg AS (SELECT CAST(SUM(lr) AS BIGINT) AS s FROM terms)
SELECT CAST({_HILL_K} AS BIGINT) AS k_order_stats,
       CAST(ROUND(t.xk1 / 100.0e0, 2) AS DOUBLE) AS threshold_dollars,
       CAST(ROUND(CAST(a.s AS DOUBLE) / 1e9 / {_HILL_K}, 6) AS DOUBLE)
         AS hill_h,
       CAST(ROUND({_HILL_K} * 1e9 / NULLIF(CAST(a.s AS DOUBLE), 0), 6)
            AS DOUBLE) AS tail_alpha
FROM agg a CROSS JOIN thresh t
"""


register_sql(
    "hill_tail_index",
    _hill_sql,
    ("orders",),
    doc=f"Hill estimator of the Pareto tail exponent of order values "
    f"over the top-{_HILL_K} order statistics: one TakeOrdered "
    f"LIMIT-{_HILL_K + 1} pass (never a global sort — the rank window "
    "runs on the bounded top-k relation), per-row log-ratios "
    "nano-quantized before the exact sum.  alpha <= 2: infinite "
    "variance, mean-based revenue stats are unstable.  The order-"
    "statistics tail estimator beside mean_excess_tail_audit (POT).",
    tags=("analytics", "stats", "evt", "topk"),
)


# --------------------------------------------------------------------------
# Theil T inequality with within/between decomposition
# --------------------------------------------------------------------------
_THEIL_BASE = """base AS (
  SELECT c.c_mktsegment AS seg, {cents} AS x
  FROM {orders} o JOIN {customer} c ON c.c_custkey = o.o_custkey
)"""

_THEIL_G_BODY = """
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(x) AS DECIMAL(38,0)) AS s_g
  FROM base GROUP BY seg
"""

_THEIL_TOT = """tot AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS n, CAST(SUM(s_g) AS DECIMAL(38,0)) AS s
  FROM g
)"""

# per-row total-Theil term (x/mu) ln(x/mu), mu = S/N, nano-quantized
# per row so the data-scale sum is exact and order-independent; and the
# per-row WITHIN-group term against the group mean mu_g = s_g/n_g
_THEIL_ROWTERMS = """rowterms AS (
  SELECT b.seg,
         CAST(FLOOR((CAST(b.x AS DOUBLE) * t.n / CAST(t.s AS DOUBLE))
              * LN(CAST(b.x AS DOUBLE) * t.n / CAST(t.s AS DOUBLE))
              * 1e9) AS BIGINT) AS t_tot_nano,
         CAST(FLOOR((CAST(b.x AS DOUBLE) * g.n_g / CAST(g.s_g AS DOUBLE))
              * LN(CAST(b.x AS DOUBLE) * g.n_g / CAST(g.s_g AS DOUBLE))
              * 1e9) AS BIGINT) AS t_wtn_nano
  FROM base b
  JOIN g ON g.seg = b.seg
  CROSS JOIN tot t
)"""

_THEIL_GSUM_BODY = """
  SELECT seg,
         CAST(SUM(t_tot_nano) AS BIGINT) AS st_nano,
         CAST(SUM(t_wtn_nano) AS BIGINT) AS sw_nano
  FROM rowterms GROUP BY seg
"""


def _theil_g_sql(d: Dialect, orders: str, customer: str) -> str:
    """The 5-row per-segment exact-sum relation — the head every tail CTE
    of the Theil decomposition references (CTE inlining expanded it into
    ~20 executed corpus scans per statement, guide §3.3).  Split out so
    the Spark side materializes it once per call."""
    base = _THEIL_BASE.format(cents=_CENTS, orders=orders, customer=customer)
    return f"WITH {base}\n{_THEIL_G_BODY}"


def _theil_gsum_sql(d: Dialect, orders: str, customer: str, g_rel: str) -> str:
    """The 5-row per-segment nano-quantized term sums: ONE corpus pass
    (base JOIN the materialized g), materialized once per call."""
    base = _THEIL_BASE.format(cents=_CENTS, orders=orders, customer=customer)
    return (
        f"WITH {base},\ng AS (SELECT * FROM {g_rel}),\n{_THEIL_TOT},\n"
        f"{_THEIL_ROWTERMS}\n{_THEIL_GSUM_BODY}"
    )


def _theil_sql(
    d: Dialect,
    orders: str,
    customer: str,
    g_rel: str | None = None,
    gsum_rel: str | None = None,
) -> str:
    base = _THEIL_BASE.format(cents=_CENTS, orders=orders, customer=customer)
    withs = []
    if g_rel is None or gsum_rel is None:
        withs.append(base)
    withs.append(
        f"g AS (SELECT * FROM {g_rel})" if g_rel else f"g AS ({_THEIL_G_BODY})"
    )
    withs.append(_THEIL_TOT)
    if gsum_rel is None:
        withs.append(_THEIL_ROWTERMS)
    withs.append(
        f"gsum AS (SELECT * FROM {gsum_rel})"
        if gsum_rel
        else f"gsum AS ({_THEIL_GSUM_BODY})"
    )
    return "WITH " + ",\n".join(withs) + f""",
-- between-group term s_share_g * ln(s_share_g / n_share_g), nano-
-- quantized per group before the k-row sum
btw AS (
  SELECT g.seg,
         CAST(FLOOR((CAST(g.s_g AS DOUBLE) / CAST(t.s AS DOUBLE))
              * LN((CAST(g.s_g AS DOUBLE) / CAST(t.s AS DOUBLE))
                   / (CAST(g.n_g AS DOUBLE) / t.n))
              * 1e9) AS BIGINT) AS tb_nano
  FROM g CROSS JOIN tot t
),
scal AS (
  SELECT CAST(SUM(gs.st_nano) AS BIGINT) AS st_all,
         CAST(SUM(bt.tb_nano) AS BIGINT) AS tb_all
  FROM gsum gs JOIN btw bt ON bt.seg = gs.seg
)
SELECT g.seg AS segment,
       g.n_g AS n_orders,
       CAST(ROUND(CAST(g.s_g AS DOUBLE) / CAST(t.s AS DOUBLE), 6) AS DOUBLE)
         AS revenue_share,
       CAST(ROUND(CAST(gs.sw_nano AS DOUBLE) / 1e9 / g.n_g, 6) AS DOUBLE)
         AS theil_within_group,
       CAST(ROUND(CAST(sc.st_all AS DOUBLE) / 1e9 / t.n, 6) AS DOUBLE)
         AS theil_total,
       CAST(ROUND(CAST(sc.tb_all AS DOUBLE) / 1e9, 6) AS DOUBLE)
         AS theil_between
FROM g
JOIN gsum gs ON gs.seg = g.seg
CROSS JOIN tot t
CROSS JOIN scal sc
ORDER BY g.seg
"""


@register(
    "theil_inequality_decomposition",
    oracle=_theil_sql(DUCKDB, "orders", "customer"),
    doc="Theil T inequality of order revenue by market segment with the "
    "exact within/between decomposition (T = sum s_g T_g + T_between): "
    "per-row x ln x terms nano-quantized before any cross-partition "
    "sum, group terms from exact integer revenue sums.  The "
    "DECOMPOSABLE inequality index beside revenue_concentration_audit "
    "(Gini, which cannot split within/between).",
    tags=("analytics", "stats", "agg"),
)
def theil_inequality_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import materialize_once

    orders = table_view(spark, sf_dir, "orders")
    customer = table_view(spark, sf_dir, "customer")
    # Materialize the two 5-row per-segment heads once each (guide §3.3):
    # CTE inlining expanded g/gsum through tot x rowterms x btw x scal x
    # the final projection into ~20 executed corpus scans per call.  Two
    # bounded checkpoints -> exactly two corpus passes (g build, gsum
    # build); the main statement below reads only the views.  The oracle
    # keeps the single-statement form.
    g = materialize_once(spark, _theil_g_sql(SPARK, orders, customer), "th_g", key=sf_dir)
    gsum = materialize_once(
        spark,
        _theil_gsum_sql(SPARK, orders, customer, g),
        "th_gsum",
        key=sf_dir,
    )
    return spark.sql(_theil_sql(SPARK, orders, customer, g_rel=g, gsum_rel=gsum))


# --------------------------------------------------------------------------
# Granger lag-1 causality: daily order count -> daily revenue
# --------------------------------------------------------------------------
def _granger_sql(d: Dialect, orders: str) -> str:
    dayno = d.epoch_day("o_orderdate")
    return f"""
WITH daily AS (
  SELECT CAST({dayno} AS BIGINT) AS day,
         CAST(SUM({_CENTS}) AS DECIMAL(38,0)) AS y,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM {orders} GROUP BY 1
),
-- lag via the exact day+1 self-join (consecutive calendar days only —
-- the adf_stationarity_audit pattern; no window, no gap ambiguity)
pairs AS (
  SELECT a.y AS yt, b.y AS yl, CAST(b.x AS DECIMAL(38,0)) AS xl
  FROM daily a JOIN daily b ON a.day = b.day + 1
),
-- EXACT moment sums (a float SUM over the day grid is partition-order
-- dependent and cancels catastrophically at ~1e21 magnitudes —
-- measured: a -1e6 'F statistic' at sf0.1 before this)
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(yt) AS DECIMAL(38,0)) AS s_y,
         CAST(SUM(yl) AS DECIMAL(38,0)) AS s_1,
         CAST(SUM(xl) AS DECIMAL(38,0)) AS s_2,
         CAST(SUM(yt * yt) AS DECIMAL(38,0)) AS s_yy,
         CAST(SUM(yl * yl) AS DECIMAL(38,0)) AS s_11,
         CAST(SUM(xl * xl) AS DECIMAL(38,0)) AS s_22,
         CAST(SUM(yl * xl) AS DECIMAL(38,0)) AS s_12,
         CAST(SUM(yt * yl) AS DECIMAL(38,0)) AS s_y1,
         CAST(SUM(yt * xl) AS DECIMAL(38,0)) AS s_y2
  FROM pairs
),
-- n-scaled centered moments C'ab = n*S_ab - S_a*S_b: EXACT decimals
-- (no cancellation — integer arithmetic), the common n factor cancels
-- in F and beta.  Bound: n*S_yy at ~2500 days x 1e10 cents/day stays
-- ~1e27, well inside DECIMAL(38,0); conversion to DOUBLE happens only
-- on the already-centered (small-relative-error) values
c AS (
  SELECT n,
         CAST(n * s_yy - s_y * s_y AS DOUBLE) AS cyy,
         CAST(n * s_11 - s_1 * s_1 AS DOUBLE) AS c11,
         CAST(n * s_22 - s_2 * s_2 AS DOUBLE) AS c22,
         CAST(n * s_12 - s_1 * s_2 AS DOUBLE) AS c12,
         CAST(n * s_y1 - s_y * s_1 AS DOUBLE) AS cy1,
         CAST(n * s_y2 - s_y * s_2 AS DOUBLE) AS cy2
  FROM m
),
fit AS (
  SELECT n, cyy, c11, c22, c12, cy1, cy2,
         -- restricted RSS: y_t ~ y_{{t-1}}
         cyy - cy1 * cy1 / NULLIF(c11, 0) AS rss_r,
         -- unrestricted RSS via the 2x2 normal-equation solve
         cyy - ((cy1 * c22 - cy2 * c12) * cy1
                + (cy2 * c11 - cy1 * c12) * cy2)
               / NULLIF(c11 * c22 - c12 * c12, 0) AS rss_u,
         (cy2 * c11 - cy1 * c12)
           / NULLIF(c11 * c22 - c12 * c12, 0) AS beta_x
  FROM c
)
SELECT n AS n_days,
       CAST(ROUND(beta_x, 6) AS DOUBLE) AS beta_lagged_count,
       CAST(ROUND((rss_r - rss_u) * (n - 3) / NULLIF(rss_u, 0), 6) AS DOUBLE)
         AS f_statistic,
       CAST(CASE WHEN (rss_r - rss_u) * (n - 3) / NULLIF(rss_u, 0) > 3.84e0
                 THEN 1 ELSE 0 END AS INT) AS granger_significant_5pct
FROM fit
"""


register_sql(
    "granger_lag_causality",
    _granger_sql,
    ("orders",),
    doc="Granger causality (lag 1) of daily order count on daily "
    "revenue: restricted vs unrestricted OLS on the aggregated day "
    "grid, lag via the exact day+1 self-join (adf pattern), RSS in "
    "closed form from one aggregate row's moment sums (scalar "
    "expression tree — deterministic across engines), F against the "
    "literal 3.84e0 5% critical value.  The lead-lag companion to "
    "acf/adf/naive-forecast.",
    tags=("analytics", "timeseries", "stats"),
)


# --------------------------------------------------------------------------
# Ljung-Box portmanteau whiteness test
# --------------------------------------------------------------------------
_LB_LAGS = 7


def _ljung_box_daily_sql(d: Dialect, orders: str) -> str:
    """The bounded day-grid revenue series — the relation every tail CTE
    of the Ljung-Box statistic references (CTE inlining expanded it into
    16 static corpus scans per statement, guide §3.3)."""
    dayno = d.epoch_day("o_orderdate")
    return f"""
SELECT CAST({dayno} AS BIGINT) AS day,
       CAST(SUM({_CENTS}) AS DECIMAL(38,0)) AS cents
FROM {orders} GROUP BY 1
"""


def _ljung_box_sql(d: Dialect, orders: str, daily_rel: str | None = None) -> str:
    if d.name == "spark":
        lags_rel = f"SELECT explode(sequence(1, {_LB_LAGS})) AS lag"
    else:
        lags_rel = f"SELECT unnest(generate_series(1, {_LB_LAGS})) AS lag"
    daily = (
        f"SELECT * FROM {daily_rel}"
        if daily_rel
        else _ljung_box_daily_sql(d, orders)
    )
    return f"""
WITH daily AS ({daily}),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS DECIMAL(38,0)) AS s
  FROM daily
),
-- scaled deviation n*x - s keeps everything integral (acf pattern)
dev AS (
  SELECT dd.day, CAST(dd.cents * t.n - t.s AS DECIMAL(38,0)) AS dv
  FROM daily dd CROSS JOIN tot t
),
den AS (SELECT CAST(SUM(dv * dv) AS DECIMAL(38,6)) AS d2 FROM dev),
lags AS ({lags_rel}),
num AS (
  SELECT l.lag, CAST(SUM(a.dv * b.dv) AS DECIMAL(38,6)) AS nsum
  FROM lags l
  JOIN dev a ON 1 = 1
  JOIN dev b ON b.day = a.day + l.lag
  GROUP BY l.lag
),
-- per-lag term rho_k^2/(n-k) in exact pico-units BEFORE the 7-row sum
terms AS (
  SELECT n.lag,
         CAST(FLOOR((CAST(n.nsum AS DOUBLE) / CAST(dn.d2 AS DOUBLE))
              * (CAST(n.nsum AS DOUBLE) / CAST(dn.d2 AS DOUBLE))
              / (t.n - n.lag) * 1e12) AS BIGINT) AS term_pico
  FROM num n CROSS JOIN den dn CROSS JOIN tot t
),
agg AS (SELECT CAST(SUM(term_pico) AS BIGINT) AS s_pico FROM terms)
SELECT t.n AS n_days,
       CAST({_LB_LAGS} AS BIGINT) AS n_lags,
       CAST(ROUND(CAST(t.n AS DOUBLE) * (t.n + 2)
                  * CAST(a.s_pico AS DOUBLE) / 1e12, 6) AS DOUBLE)
         AS ljung_box_q,
       CAST(CASE WHEN CAST(t.n AS DOUBLE) * (t.n + 2)
                      * CAST(a.s_pico AS DOUBLE) / 1e12 > 14.067e0
                 THEN 1 ELSE 0 END AS INT) AS reject_whiteness_5pct
FROM tot t CROSS JOIN agg a
"""


@register(
    "ljung_box_whiteness",
    oracle=_ljung_box_sql(DUCKDB, "orders"),
    doc=f"Ljung-Box portmanteau whiteness test of daily revenue over "
    f"lags 1..{_LB_LAGS}: each autocorrelation from the exact "
    "scaled-deviation sums (acf pattern — day-domain self-join, never a "
    "window), per-lag terms pico-quantized before the bounded sum, Q "
    "against the literal chi2_7 5% value 14.067e0.  The JOINT "
    "serial-correlation test beside acf (per-lag) and adf (unit root).",
    tags=("analytics", "timeseries", "stats"),
)
def ljung_box_whiteness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import materialize_once

    orders = table_view(spark, sf_dir, "orders")
    daily = materialize_once(spark, _ljung_box_daily_sql(SPARK, orders), "lb_daily", key=sf_dir)
    return spark.sql(_ljung_box_sql(SPARK, orders, daily_rel=daily))


# --------------------------------------------------------------------------
# degree assortativity of the near-dup graph
# --------------------------------------------------------------------------
def _assortativity_sql(d: Dialect, table: str, pairs_rel: str | None = None) -> str:
    from .dedup import _lsh_pairs_sql

    pairs = pairs_rel or f"({strip_order_by(_lsh_pairs_sql(d, table))})"
    return f"""
WITH pairs AS (SELECT doc_a, doc_b FROM {pairs} pr),
-- both directions: Newman's r is over edge ENDPOINT pairs
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS dg FROM edges GROUP BY u),
dd AS (
  SELECT du.dg AS d_u, dv.dg AS d_v
  FROM edges e
  JOIN deg du ON du.node = e.u
  JOIN deg dv ON dv.node = e.v
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(d_u) AS DECIMAL(38,0)) AS s1,
         CAST(SUM(d_v) AS DECIMAL(38,0)) AS s2,
         CAST(SUM(CAST(d_u AS DECIMAL(38,0)) * d_u) AS DECIMAL(38,0)) AS s11,
         CAST(SUM(CAST(d_v AS DECIMAL(38,0)) * d_v) AS DECIMAL(38,0)) AS s22,
         CAST(SUM(CAST(d_u AS DECIMAL(38,0)) * d_v) AS DECIMAL(38,0)) AS s12
  FROM dd
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
SELECT {d.idiv("m.cnt", "2")} AS n_edges,
       nn.n_nodes,
       CAST(ROUND(CAST(m.s1 AS DOUBLE) / m.cnt, 6) AS DOUBLE)
         AS mean_endpoint_degree,
       CAST(ROUND((CAST(m.cnt AS DOUBLE) * CAST(m.s12 AS DOUBLE)
                   - CAST(m.s1 AS DOUBLE) * CAST(m.s2 AS DOUBLE))
                  / NULLIF(SQRT((CAST(m.cnt AS DOUBLE) * CAST(m.s11 AS DOUBLE)
                                 - CAST(m.s1 AS DOUBLE) * CAST(m.s1 AS DOUBLE))
                                * (CAST(m.cnt AS DOUBLE) * CAST(m.s22 AS DOUBLE)
                                   - CAST(m.s2 AS DOUBLE) * CAST(m.s2 AS DOUBLE))), 0),
                  6) AS DOUBLE) AS assortativity_r
FROM m CROSS JOIN nn
"""


@register(
    "degree_assortativity",
    oracle=_assortativity_sql(DUCKDB, "documents"),
    doc="Newman degree assortativity of the MinHash-LSH near-dup graph: "
    "Pearson r of endpoint degrees over directed edges (exact "
    "BIGINT/DECIMAL moment sums, one sqrt).  Positive: template "
    "families duplicate each other; negative: one canonical doc with "
    "many leaf copies.  Reads the stored session pair relation like the "
    "other graph consumers; pair generation stays live-measured by "
    "dedup_minhash_lsh.",
    tags=("analytics", "graph", "dedup"),
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import _lsh_pairs_view

    view = table_view(spark, sf_dir, "documents")
    return spark.sql(
        _assortativity_sql(SPARK, view, pairs_rel=_lsh_pairs_view(spark, sf_dir))
    )


# --------------------------------------------------------------------------
# Adamic-Adar link prediction on the near-dup graph
# --------------------------------------------------------------------------
_AA_TOPK = 20
_AA_BUCKET_CAP = 64  # max docs per (hash-slot, value) bucket — skew guard


def _loose_pairs_sql(d: Dialect, table: str) -> str:
    """Single-minhash collision graph (band size 1 x 8 slots): denser
    than the production 4x2 banding — the realistic link-prediction
    input, where AA scores rank which loose candidates the strict
    banding missed.  Buckets over {_AA_BUCKET_CAP} docs are dropped
    (the stop-shingle discipline: one hot hash value must not produce a
    quadratic straggler partition at corpus scale)."""
    from .dedup import _minhash_sig_sql

    sig = _minhash_sig_sql(d, table)
    if d.name == "spark":
        entries = ", ".join(
            f"named_struct('i', {i}, 'h', h{i})" for i in range(8)
        )
        slots = (
            f"SELECT doc_id, e.i AS i, e.h AS h FROM ({sig}) sig "
            f"LATERAL VIEW explode(array({entries})) t AS e"
        )
    else:
        entries = ", ".join(f"{{'i': {i}, 'h': h{i}}}" for i in range(8))
        slots = (
            f"SELECT doc_id, u.i AS i, u.h AS h "
            f"FROM (SELECT doc_id, unnest([{entries}]) AS u FROM ({sig}) sig) s"
        )
    return f"""
WITH slots AS ({slots}),
bsize AS (
  SELECT i, h, CAST(COUNT(*) AS BIGINT) AS bc FROM slots GROUP BY i, h
),
kept AS (
  SELECT s.doc_id, s.i, s.h FROM slots s
  JOIN bsize z ON z.i = s.i AND z.h = s.h WHERE z.bc <= {_AA_BUCKET_CAP}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM kept a JOIN kept b
  ON a.i = b.i AND a.h = b.h AND a.doc_id < b.doc_id
"""


def _adamic_adar_sql(d: Dialect, table: str, pairs_rel: str | None = None) -> str:
    pairs = pairs_rel or f"({_loose_pairs_sql(d, table)})"
    return f"""
WITH pairs AS (SELECT doc_a, doc_b FROM {pairs} pr),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS dg FROM edges GROUP BY u),
-- wedges u-w-v with u < v: the shared neighbor w has degree >= 2 by
-- construction, so ln(deg) > 0; per-wedge weight nano-quantized
wedges AS (
  SELECT e1.v AS a, e2.v AS b,
         CAST(FLOOR(1e9 / LN(CAST(dw.dg AS DOUBLE))) AS BIGINT) AS w_nano
  FROM edges e1
  JOIN edges e2 ON e2.u = e1.u AND e1.v < e2.v
  JOIN deg dw ON dw.node = e1.u
),
scored AS (
  SELECT a AS doc_a, b AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_common_neighbors,
         CAST(SUM(w_nano) AS BIGINT) AS s_nano
  FROM wedges w
  WHERE NOT EXISTS (
    SELECT 1 FROM pairs p WHERE p.doc_a = w.a AND p.doc_b = w.b
  )
  GROUP BY a, b
)
SELECT doc_a, doc_b, n_common_neighbors,
       CAST(ROUND(CAST(s_nano AS DOUBLE) / 1e9, 6) AS DOUBLE) AS aa_score
FROM scored
ORDER BY s_nano DESC, doc_a, doc_b
LIMIT {_AA_TOPK}
"""


@register(
    "adamic_adar_link_prediction",
    oracle=_adamic_adar_sql(DUCKDB, "documents"),
    doc=f"Top-{_AA_TOPK} predicted near-dup links by Adamic-Adar score "
    "over the SINGLE-minhash collision graph (band size 1 x 8 — denser "
    f"than the production 4x2 banding, buckets capped at "
    f"{_AA_BUCKET_CAP} docs so one hot hash value can never produce a "
    "quadratic straggler): wedge join on the shared neighbor, existing "
    "edges anti-joined out, per-wedge 1/ln(deg) weights nano-quantized "
    "before the exact per-pair sum, integer-ordered top-k.  Ranks which "
    "loose candidates the strict banding missed — the link-prediction "
    "primitive beside clustering_coefficient (closure measurement).",
    tags=("analytics", "graph", "dedup", "topk"),
)
def adamic_adar_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import session_view

    view = table_view(spark, sf_dir, "documents")
    # the loose candidate graph is a stored session relation, like the
    # strict pair graph every other graph consumer reads
    pairs = session_view(
        spark, sf_dir, "loosep",
        lambda: spark.sql(_loose_pairs_sql(SPARK, view)),
    )
    return spark.sql(_adamic_adar_sql(SPARK, view, pairs_rel=pairs))


# --------------------------------------------------------------------------
# two-group logrank test (BUILDING vs rest) on repurchase survival
# --------------------------------------------------------------------------
def _logrank_cells_sql(d: Dialect, orders: str, customer: str) -> str:
    """The bounded (group x day) event/censor cell grid — the relation
    every tail CTE of the logrank test references (CTE inlining expanded
    it into 40 static corpus scans per statement, guide §3.3).  Split out
    so the Spark side materializes it once per call."""
    dd_event = (
        "datediff(s.d2, s.d1)" if d.name == "spark"
        else "datediff('day', s.d1, s.d2)"
    )
    dd_censor = (
        "datediff(h.hmax, s.d1)" if d.name == "spark"
        else "datediff('day', s.d1, h.hmax)"
    )
    return f"""
WITH firsts AS (
  SELECT o_custkey AS ck, MIN(CAST(o_orderdate AS DATE)) AS d1
  FROM {orders} GROUP BY o_custkey
),
seconds AS (
  SELECT o.o_custkey AS ck,
         MIN(CASE WHEN CAST(o.o_orderdate AS DATE) > f.d1
                  THEN CAST(o.o_orderdate AS DATE) END) AS d2,
         MAX(f.d1) AS d1
  FROM {orders} o JOIN firsts f ON f.ck = o.o_custkey
  GROUP BY o.o_custkey
),
horizon AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS hmax FROM {orders}),
cohort AS (
  SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g,
         CAST(CASE WHEN s.d2 IS NOT NULL THEN {dd_event}
              ELSE {dd_censor} END AS BIGINT) AS t,
         CASE WHEN s.d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM seconds s CROSS JOIN horizon h
  JOIN {customer} c ON c.c_custkey = s.ck
)
SELECT g, t,
       CAST(SUM(ev) AS BIGINT) AS dd,
       CAST(SUM(1 - ev) AS BIGINT) AS cc
FROM cohort GROUP BY g, t
"""


def _logrank_sql(
    d: Dialect, orders: str, customer: str, cells_rel: str | None = None
) -> str:
    cells = (
        f"SELECT * FROM {cells_rel}"
        if cells_rel
        else _logrank_cells_sql(d, orders, customer)
    )
    return f"""
WITH cells AS ({cells}),
gtot AS (SELECT g, CAST(SUM(dd + cc) AS BIGINT) AS n_g FROM cells GROUP BY g),
taxis AS (SELECT DISTINCT t FROM cells),
dense AS (
  SELECT gg.g, ta.t, COALESCE(ce.dd, 0) AS dd, COALESCE(ce.cc, 0) AS cc
  FROM taxis ta
  CROSS JOIN (SELECT 0 AS g UNION ALL SELECT 1) gg
  LEFT JOIN cells ce ON ce.g = gg.g AND ce.t = ta.t
),
-- at-risk per group from a window PARTITIONED BY group over the
-- bounded day axis (never unpartitioned)
risk AS (
  SELECT de.g, de.t, de.dd,
         gt.n_g - COALESCE(SUM(de.dd + de.cc) OVER (PARTITION BY de.g
             ORDER BY de.t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) AS at_risk
  FROM dense de JOIN gtot gt ON gt.g = de.g
),
evt AS (
  SELECT t,
         CAST(MAX(CASE WHEN g = 1 THEN dd END) AS BIGINT) AS d1,
         CAST(MAX(CASE WHEN g = 0 THEN dd END) AS BIGINT) AS d0,
         CAST(MAX(CASE WHEN g = 1 THEN at_risk END) AS BIGINT) AS n1,
         CAST(MAX(CASE WHEN g = 0 THEN at_risk END) AS BIGINT) AS n0
  FROM risk GROUP BY t
),
-- per-event-time expectation/variance terms micro-quantized BEFORE the
-- bounded day-axis sum (order-independence discipline)
terms AS (
  SELECT d1,
         CAST(FLOOR(CAST(d1 + d0 AS DOUBLE) * n1 / (n1 + n0) * 1e6)
              AS BIGINT) AS e1_micro,
         CAST(FLOOR(CAST(d1 + d0 AS DOUBLE) * n1 / (n1 + n0)
              * (CAST(n0 AS DOUBLE) / (n1 + n0))
              * (CAST(n1 + n0 - d1 - d0 AS DOUBLE)
                 / NULLIF(CAST(n1 + n0 - 1 AS DOUBLE), 0)) * 1e6)
              AS BIGINT) AS v_micro
  FROM evt WHERE d1 + d0 > 0 AND n1 + n0 > 1
),
agg AS (
  SELECT CAST(SUM(d1) AS BIGINT) AS o1,
         CAST(SUM(e1_micro) AS BIGINT) AS e1m,
         CAST(SUM(v_micro) AS BIGINT) AS vm
  FROM terms
)
SELECT (SELECT n_g FROM gtot WHERE g = 1) AS n_group1,
       (SELECT n_g FROM gtot WHERE g = 0) AS n_group0,
       a.o1 AS observed_events_g1,
       CAST(ROUND(CAST(a.e1m AS DOUBLE) / 1e6, 6) AS DOUBLE)
         AS expected_events_g1,
       CAST(ROUND((a.o1 - CAST(a.e1m AS DOUBLE) / 1e6)
                  * (a.o1 - CAST(a.e1m AS DOUBLE) / 1e6)
                  / NULLIF(CAST(a.vm AS DOUBLE) / 1e6, 0), 6) AS DOUBLE)
         AS logrank_chi2,
       CAST(CASE WHEN (a.o1 - CAST(a.e1m AS DOUBLE) / 1e6)
                      * (a.o1 - CAST(a.e1m AS DOUBLE) / 1e6)
                      / NULLIF(CAST(a.vm AS DOUBLE) / 1e6, 0) > 3.841e0
                 THEN 1 ELSE 0 END AS INT) AS reject_equal_hazards_5pct
FROM agg a
"""


@register(
    "logrank_test_segments",
    oracle=_logrank_sql(DUCKDB, "orders", "customer"),
    doc="Two-group logrank test (BUILDING segment vs rest) of the "
    "repurchase survival curves — the SIGNIFICANCE test beside "
    "kaplan_meier_repurchase (estimator), nelson_aalen_hazard "
    "(hazard), and harrell_c_index (discrimination): cohorts collapse "
    "to the bounded (group x day) grid, at-risk counts from a window "
    "PARTITIONED BY group, per-event-time hypergeometric E/V terms "
    "micro-quantized before the bounded sum, chi2 vs the literal "
    "3.841e0.",
    tags=("evaluation", "survival", "stats"),
)
def logrank_test_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import materialize_once

    orders = table_view(spark, sf_dir, "orders")
    customer = table_view(spark, sf_dir, "customer")
    # Materialize the bounded (group x day) cell grid once (guide §3.3):
    # gtot/taxis/dense plus the two gtot scalar subqueries expanded the
    # cohort chain into 40 static corpus scans per statement.  One
    # checkpoint -> one cohort build; the statement reads only the view.
    cells = materialize_once(
        spark,
        _logrank_cells_sql(SPARK, orders, customer),
        "lr_cells",
        key=sf_dir,
    )
    return spark.sql(_logrank_sql(SPARK, orders, customer, cells_rel=cells))


# --------------------------------------------------------------------------
# query-likelihood retrieval with Dirichlet smoothing
# --------------------------------------------------------------------------
_QL_MU = 2000
_QL_TOPK = 25


def _ql_sql(d: Dialect, table: str) -> str:
    from .retrieval import QUERY_TERMS

    w = d.splitws("lower(text)")
    in_list = ", ".join(f"'{t}'" for t in QUERY_TERMS)
    terms_rel = " UNION ALL ".join(f"SELECT '{t}' AS term" for t in QUERY_TERMS)
    if d.name == "spark":
        postings = (
            f"SELECT doc_id, term FROM words "
            f"LATERAL VIEW explode(w) t AS term WHERE term IN ({in_list})"
        )
        dl_expr = "size(w)"
    else:
        postings = (
            f"SELECT doc_id, term FROM "
            f"(SELECT doc_id, unnest(w) AS term FROM words) p "
            f"WHERE term IN ({in_list})"
        )
        dl_expr = "len(w)"
    return f"""
WITH words AS (SELECT doc_id, {w} AS w FROM {table}),
dl AS (SELECT doc_id, CAST({dl_expr} AS BIGINT) AS dl FROM words),
clen AS (SELECT CAST(SUM(dl) AS BIGINT) AS cl FROM dl),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM ({postings}) p GROUP BY doc_id, term
),
cf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY term),
cand AS (SELECT DISTINCT doc_id FROM tf),
qterms AS ({terms_rel}),
-- the full query-term grid per candidate doc (zero-tf terms still
-- contribute their smoothed background mass); per-cell log-likelihood
-- nano-quantized before the exact 4-cell per-doc sum
grid AS (
  SELECT ca.doc_id, qt.term, COALESCE(t.tf, 0) AS tf, cf.cf, dl.dl, cl.cl
  FROM cand ca
  CROSS JOIN qterms qt
  JOIN cf ON cf.term = qt.term
  JOIN dl ON dl.doc_id = ca.doc_id
  CROSS JOIN clen cl
  LEFT JOIN tf t ON t.doc_id = ca.doc_id AND t.term = qt.term
),
cells AS (
  SELECT doc_id,
         CAST(FLOOR(LN((tf + {_QL_MU}.0e0 * cf / cl) / (dl + {_QL_MU}.0e0))
              * 1e9) AS BIGINT) AS ll_nano
  FROM grid
),
scored AS (
  SELECT doc_id, CAST(SUM(ll_nano) AS BIGINT) AS s_nano
  FROM cells GROUP BY doc_id
)
SELECT doc_id,
       CAST(ROUND(CAST(s_nano AS DOUBLE) / 1e9, 6) AS DOUBLE) AS ql_score
FROM scored
ORDER BY s_nano DESC, doc_id
LIMIT {_QL_TOPK}
"""


register_sql(
    "query_likelihood_dirichlet",
    _ql_sql,
    ("documents",),
    doc=f"Query-likelihood retrieval with Dirichlet smoothing (mu = "
    f"{_QL_MU}), top-{_QL_TOPK}: the language-modeling ranker beside "
    "BM25 (tf saturation) and the RRF/dense arms — candidates are docs "
    "with >= 1 matching term (postings-filtered at the explode), the "
    "full query-term grid rides a 4-row literal, per-cell "
    "log-likelihoods nano-quantized before the exact per-doc sum, "
    "integer-ordered top-k.",
    tags=("retrieval", "text", "topk"),
)


# --------------------------------------------------------------------------
# MRR / success@k of the BM25 ranking
# --------------------------------------------------------------------------
def _mrr_sql(d: Dialect, table: str) -> str:
    from .retrieval import _bm25_sql
    from .round9e import _rel_case

    return f"""
WITH ranked AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk
  FROM ({_bm25_sql(d, table)}) b
),
rels AS (SELECT doc_id, {_rel_case()} AS rel FROM {table}),
hits AS (
  SELECT r.rk FROM ranked r JOIN rels re ON re.doc_id = r.doc_id
  WHERE re.rel >= 1
),
agg AS (SELECT CAST(MIN(rk) AS BIGINT) AS first_rk FROM hits)
SELECT COALESCE(a.first_rk, 0) AS first_relevant_rank,
       CAST(ROUND(CASE WHEN a.first_rk IS NULL THEN 0.0e0
                       ELSE 1.0e0 / a.first_rk END, 6) AS DOUBLE) AS mrr,
       CAST(CASE WHEN a.first_rk IS NOT NULL AND a.first_rk <= 5
                 THEN 1 ELSE 0 END AS INT) AS success_at_5,
       CAST(CASE WHEN a.first_rk IS NOT NULL AND a.first_rk <= 10
                 THEN 1 ELSE 0 END AS INT) AS success_at_10
FROM agg a
"""


register_sql(
    "mrr_retrieval_eval",
    _mrr_sql,
    ("documents",),
    doc="Reciprocal rank and success@5/10 of the BM25 ranking against "
    "the graded relevance labels (ndcg_retrieval_eval's rel case): the "
    "first-hit IR metric completing the eval triangle beside nDCG "
    "(graded position-weighted) and RBO (rank-vs-rank).  The rank "
    "window runs on the LIMIT-25 BM25 sublist, never the corpus.",
    tags=("evaluation", "retrieval", "stats"),
)


# --------------------------------------------------------------------------
# curriculum training schedule plan
# --------------------------------------------------------------------------
_CURR_BANDS = 4


def _curriculum_sql(d: Dialect, table: str) -> str:
    h = d.md5_prefix_int(f"('curr|' || {d.strcast('doc_id')})")
    band = (
        f"LEAST({_CURR_BANDS} - 1, "
        f"{d.idiv('(CAST(n_chars AS BIGINT) - b.lo) * ' + str(_CURR_BANDS), '(b.hi - b.lo + 1)')})"
    )
    return f"""
WITH bounds AS (
  SELECT CAST(MIN(n_chars) AS BIGINT) AS lo, CAST(MAX(n_chars) AS BIGINT) AS hi
  FROM {table}
)
SELECT t.doc_id,
       CAST({band} AS INT) AS difficulty_band,
       CAST({band} AS INT) AS epoch_first_seen,
       CAST({h} AS BIGINT) AS shuffle_key
FROM {table} t CROSS JOIN bounds b
ORDER BY doc_id
"""


register_sql(
    "curriculum_schedule_plan",
    _curriculum_sql,
    ("documents",),
    doc=f"Curriculum training schedule: docs band into {_CURR_BANDS} "
    "equi-width difficulty bands by length (shorter = easier first, the "
    "standard length-based curriculum), band b enters the mix at epoch "
    "b (progressive), within-band order comes from a salted portable "
    "60-bit hash — deterministic, seed-free, reproducible from the row "
    "alone (the dataset_hash_split contract).  Row-parallel projection "
    "against a one-row bounds scalar; no shuffle beyond the scan.",
    tags=("curation", "sampling", "plan"),
)


# --------------------------------------------------------------------------
# stratified IPW average-treatment-effect estimator
# --------------------------------------------------------------------------
_IPW_STRATA = 4


def _ipw_sql(d: Dialect, events: str) -> str:
    treat = f"({d.md5_prefix_int(f'(' + chr(39) + 'ipw|' + chr(39) + ' || ' + d.strcast('user_id') + ')')}) % 2"
    return f"""
WITH users AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_ev,
         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS converted
  FROM {events} GROUP BY user_id
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(n_ev) AS BIGINT) AS n_events
  FROM users
),
-- activity strata by the ratio to the mean event count (exact integer
-- comparison: s = min(3, floor(2 * n_ev * n_users / n_events)))
assigned AS (
  SELECT u.user_id, u.converted,
         CAST({treat} AS INT) AS treated,
         CAST(LEAST({_IPW_STRATA} - 1,
              {d.idiv("2 * u.n_ev * t.n_users", "t.n_events")}) AS INT) AS stratum
  FROM users u CROSS JOIN tot t
),
cells AS (
  SELECT stratum, treated,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(converted) AS BIGINT) AS conv
  FROM assigned GROUP BY stratum, treated
),
strata AS (
  SELECT stratum,
         CAST(MAX(CASE WHEN treated = 1 THEN n END) AS BIGINT) AS n1,
         CAST(MAX(CASE WHEN treated = 0 THEN n END) AS BIGINT) AS n0,
         CAST(MAX(CASE WHEN treated = 1 THEN conv END) AS BIGINT) AS c1,
         CAST(MAX(CASE WHEN treated = 0 THEN conv END) AS BIGINT) AS c0
  FROM cells GROUP BY stratum
),
ok AS (SELECT * FROM strata WHERE n1 > 0 AND n0 > 0),
-- per-stratum effect weighted by stratum mass, nano-quantized before
-- the bounded strata sum
eff AS (
  SELECT CAST(SUM(n1 + n0) AS BIGINT) AS n_used,
         CAST(SUM(CAST(FLOOR((n1 + n0)
              * (CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
              * 1e9) AS BIGINT)) AS BIGINT) AS ate_nano_x_n
  FROM ok
)
SELECT s.stratum,
       s.n1 AS n_treated,
       s.n0 AS n_control,
       CAST(ROUND(CAST(s.c1 AS DOUBLE) / NULLIF(s.n1, 0), 6) AS DOUBLE)
         AS conv_rate_treated,
       CAST(ROUND(CAST(s.c0 AS DOUBLE) / NULLIF(s.n0, 0), 6) AS DOUBLE)
         AS conv_rate_control,
       CAST(ROUND(CAST(e.ate_nano_x_n AS DOUBLE) / 1e9 / e.n_used, 6)
            AS DOUBLE) AS ate_stratified
FROM strata s CROSS JOIN eff e
ORDER BY s.stratum
"""


register_sql(
    "ipw_ate_stratified",
    _ipw_sql,
    ("events",),
    doc=f"Stratified average-treatment-effect estimator: users hash-"
    f"assign to arms (portable salted md5 bit — deterministic, no RNG), "
    f"stratify into {_IPW_STRATA} activity bands by the exact integer "
    "ratio to mean event count, per-stratum conversion-rate contrasts "
    "weight by stratum mass (nano-quantized before the bounded sum); "
    "strata missing an arm drop out.  The stratification estimator "
    "beside cuped (covariate adjustment), did (time contrast), and "
    "snips (off-policy reweighting).",
    tags=("analytics", "causal", "experiment"),
)
