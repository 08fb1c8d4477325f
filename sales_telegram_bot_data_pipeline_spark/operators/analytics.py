"""Classic large-scale analytics operators: market-basket association
rules, RFM customer segmentation, chi-squared independence, Spearman rank
correlation, k-anonymity audit.

These extend the engine beyond the reference's own pipeline (the reference
computes per-shop price tables and user regroupings — README.md:66-106 —
the natural next questions a sales-analytics user asks are "which brands
sell together", "which customers matter", "is behaviour independent of
weekday", "are these two measures monotonically related", "is this export
re-identifiable").  Every operator is expressed as shuffles on bounded or
pre-aggregated keys:

- association rules: the pair self-join fans out per order by the DISTINCT
  brand count of the order (<= 25 brands total), never by line count;
- RFM / Spearman: global ranks via the distributed range-rank / range-
  prefix-sum primitives (scalars_extra.range_ranked / range_prefix_summed)
  — no single-partition window anywhere;
- chi-squared / k-anonymity: map-side-combinable groupBys over bounded
  cell / band domains.

Hash-stability: all rates derive from exact integer (or DECIMAL-exact)
inputs with identical double ops on both engines, rounded to 6 decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dialect import DUCKDB, SPARK, Dialect
from ..registry import register, register_sql
from ..sources.tables import load_table, table_view

# --------------------------------------------------------------------------
# association rules over per-order brand baskets
# --------------------------------------------------------------------------
MIN_PAIR_SUPPORT = 5  # absolute co-occurrence floor

_ASSOC_BASKETS_SQL = """
SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
FROM {lineitem} JOIN {part} ON p_partkey = l_partkey
"""

_ASSOC_SQL = f"""
WITH baskets AS ({{baskets}}),
tot AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM baskets),
items AS (SELECT brand, COUNT(*) AS n_item FROM baskets GROUP BY brand),
pairs AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS n_pair
  FROM baskets a JOIN baskets b ON a.okey = b.okey AND a.brand < b.brand
  GROUP BY a.brand, b.brand
)
SELECT brand_a, brand_b, CAST(n_pair AS BIGINT) AS n_pair,
       ROUND(CAST(n_pair AS DOUBLE) / t.n_orders, 6) AS support,
       ROUND(CAST(n_pair AS DOUBLE) / ia.n_item, 6) AS conf_a_to_b,
       ROUND(CAST(n_pair AS DOUBLE) / ib.n_item, 6) AS conf_b_to_a,
       ROUND(CAST(n_pair AS DOUBLE) * t.n_orders
             / (CAST(ia.n_item AS DOUBLE) * ib.n_item), 6) AS lift
FROM pairs
JOIN items ia ON ia.brand = pairs.brand_a
JOIN items ib ON ib.brand = pairs.brand_b
CROSS JOIN tot t
WHERE n_pair >= {MIN_PAIR_SUPPORT}
ORDER BY brand_a, brand_b
"""


@register(
    "association_rules_lift",
    oracle=_ASSOC_SQL.format(
        baskets=_ASSOC_BASKETS_SQL.format(lineitem="lineitem", part="part")
    ),
    doc="Market-basket association rules over per-order brand baskets: "
    "support, directional confidence, lift.  Scale shape: the basket "
    "relation is DISTINCT (order, brand) so the pair self-join fans out "
    "per order by its distinct-brand count (bounded by the 25-value brand "
    "domain, NOT by line count); pair counts are map-side combinable; the "
    "totals relation is a one-row scalar broadcast.  All rates from exact "
    "integer counts -> identical doubles on both engines.",
    tags=("analytics", "association", "self-join"),
)
def association_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import materialize_once

    lineitem = table_view(spark, sf_dir, "lineitem")
    part = table_view(spark, sf_dir, "part")
    # Materialize the basket relation ONCE per call (guide §3.3): Spark
    # inlines the CTE into every consumer (tot, items, both self-join
    # sides), and the executed plan showed the lineitem-join-part subtree
    # expanded into 20 parquet scans / 40 exchanges — four-plus corpus
    # scans at 100 TB.  The distinct (order, brand) relation is bounded by
    # orders x the 25-value brand domain, so one checkpoint is tiny; the
    # oracle keeps the single-statement CTE form (DuckDB materializes
    # CTEs) and its unchanged PASS is the equivalence proof.
    baskets = materialize_once(
        spark, _ASSOC_BASKETS_SQL.format(lineitem=lineitem, part=part), "ar_baskets", sf_dir
    )
    return spark.sql(_ASSOC_SQL.format(baskets=f"SELECT * FROM {baskets}"))


# --------------------------------------------------------------------------
# RFM segmentation on distributed exact quintiles
# --------------------------------------------------------------------------
_RFM_ORACLE = """
WITH cust AS (
  SELECT o_custkey AS ck,
         datediff('day', CAST(MAX(o_orderdate) AS DATE),
                  (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders)) AS recency_days,
         COUNT(*) AS freq,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS monetary_cents
  FROM orders GROUP BY o_custkey
),
t AS (SELECT COUNT(*) AS n FROM cust),
r AS (SELECT ck, ROW_NUMBER() OVER (ORDER BY recency_days, ck) AS rr FROM cust),
f AS (SELECT ck, ROW_NUMBER() OVER (ORDER BY freq, ck) AS rf FROM cust),
m AS (SELECT ck, ROW_NUMBER() OVER (ORDER BY monetary_cents, ck) AS rm FROM cust),
scored AS (
  SELECT c.ck, c.monetary_cents,
         5 - CAST((5 * (r.rr - 1)) // t.n AS INT) AS r_score,
         1 + CAST((5 * (f.rf - 1)) // t.n AS INT) AS f_score,
         1 + CAST((5 * (m.rm - 1)) // t.n AS INT) AS m_score
  FROM cust c
  JOIN r ON r.ck = c.ck JOIN f ON f.ck = c.ck JOIN m ON m.ck = c.ck
  CROSS JOIN t
)
SELECT r_score, f_score, m_score,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       -- round-half-up mean in EXACT integer math (double ROUND half-cases
       -- differ between engines): avg_cents = (2*sum + n) // (2*n);
       -- HUGEINT casts because DuckDB's // on DECIMAL is not integral
       CAST(CAST(SUM(monetary_cents) * 2 + COUNT(*) AS HUGEINT)
            // CAST(2 * COUNT(*) AS HUGEINT) AS DOUBLE) / 100 AS avg_monetary
FROM scored GROUP BY r_score, f_score, m_score
ORDER BY r_score, f_score, m_score
"""


@register(
    "rfm_segmentation",
    oracle=_RFM_ORACLE,
    doc="RFM customer segmentation: recency (days since last order), "
    "frequency (order count), monetary (exact cents), each scored into "
    "exact quintiles by the DISTRIBUTED range-rank primitive "
    "(scalars_extra.range_ranked: range repartition + bounded per-"
    "partition-count collect + partition-local row_number) — never a "
    "single-partition global sort; ties broken by custkey so both engines "
    "rank identically.  Oracle = the same formula over ROW_NUMBER "
    "(the oracle may sort globally).",
    tags=("analytics", "segmentation", "distributed-rank"),
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalars_extra import range_ranked

    orders = load_table(spark, sf_dir, "orders")
    maxd = orders.agg(F.max(F.to_date("o_orderdate")).alias("maxd"))
    cust = (
        orders.crossJoin(F.broadcast(maxd))
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.datediff(F.first("maxd"), F.max(F.to_date("o_orderdate"))).alias(
                "recency_days"
            ),
            F.count(F.lit(1)).alias("freq"),
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                    "decimal(38,0)"
                )
            )
            .cast("decimal(38,0)")
            .alias("monetary_cents"),
        )
        .localCheckpoint(eager=False)  # three rank passes fan out from here
    )

    # ONE distributed rank pass for ALL THREE quintile axes (guide §2.4 —
    # same fusion as spearman_rank_correlation's two-axis prefix pass): the
    # three per-dimension relations are axis-tagged and unioned, and under
    # (axis, v, ck) ordering each axis' rows form a contiguous block of
    # exactly n rows (every customer appears once per axis), so the
    # per-axis rank is the global rank minus axis*n.  The per-axis form
    # paid three repartitionByRange samplings + three bounded offset
    # collects + three joins back to cust; this pays one of each (the
    # score pivot is a groupBy on ck).  Values compare in DECIMAL(38,0):
    # recency/freq are exact integers, monetary is already that type, so
    # per-axis ordering — and therefore every quintile bucket — is
    # unchanged.
    dec = "decimal(38,0)"
    axes = (
        cust.select(
            F.lit(0).alias("axis"), F.col("recency_days").cast(dec).alias("v"), "ck"
        )
        .unionByName(
            cust.select(F.lit(1).alias("axis"), F.col("freq").cast(dec).alias("v"), "ck")
        )
        .unionByName(
            cust.select(
                F.lit(2).alias("axis"), F.col("monetary_cents").cast(dec).alias("v"), "ck"
            )
        )
    )
    ranked, total = range_ranked(axes, ["axis", "v", "ck"])
    if ranked is None:
        return spark.createDataFrame(
            [],
            "r_score int, f_score int, m_score int, n_customers bigint, avg_monetary double",
        )
    n = total // 3
    bucket = F.expr(f"cast((5 * (r - axis * {n} - 1)) div {n} as int)")
    score = F.when(F.col("axis") == 0, 5 - bucket).otherwise(1 + bucket)
    scores = (
        ranked.select("ck", "axis", score.alias("s"))
        .groupBy("ck")
        .agg(
            F.max(F.when(F.col("axis") == 0, F.col("s"))).alias("r_score"),
            F.max(F.when(F.col("axis") == 1, F.col("s"))).alias("f_score"),
            F.max(F.when(F.col("axis") == 2, F.col("s"))).alias("m_score"),
        )
    )
    return (
        cust.join(scores, "ck")
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.expr(
                "cast((sum(monetary_cents) * 2 + count(1)) div (2 * count(1))"
                " as double) / 100"
            ).alias("avg_monetary"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


# --------------------------------------------------------------------------
# chi-squared independence: event_type x day-of-week
# --------------------------------------------------------------------------
def _chi2_sql(d: Dialect, events: str) -> str:
    # timezone-free portable weekday: day-number since epoch mod 7
    return f"""
WITH ev AS (
  SELECT event_type, CAST({d.epoch_day("ts")} % 7 AS INT) AS dow FROM {events}
),
obs AS (SELECT event_type, dow, COUNT(*) AS n_obs FROM ev GROUP BY event_type, dow),
rt AS (SELECT event_type, COUNT(*) AS n_row FROM ev GROUP BY event_type),
ct AS (SELECT dow, COUNT(*) AS n_col FROM ev GROUP BY dow),
tot AS (SELECT COUNT(*) AS n FROM ev)
SELECT o.event_type, o.dow, CAST(o.n_obs AS BIGINT) AS n_obs,
       ROUND(CAST(r.n_row AS DOUBLE) * c.n_col / t.n, 6) AS expected,
       ROUND(
         (CAST(CAST(o.n_obs AS DECIMAL(38,0)) * t.n
               - CAST(r.n_row AS DECIMAL(38,0)) * c.n_col AS DOUBLE)
          * CAST(CAST(o.n_obs AS DECIMAL(38,0)) * t.n
                 - CAST(r.n_row AS DECIMAL(38,0)) * c.n_col AS DOUBLE))
         / (CAST(t.n AS DOUBLE) * t.n * r.n_row * c.n_col), 6) AS contrib
FROM obs o
JOIN rt r ON r.event_type = o.event_type
JOIN ct c ON c.dow = o.dow
CROSS JOIN tot t
ORDER BY o.event_type, o.dow
"""


register_sql(
    "chi_squared_independence",
    _chi2_sql,
    ("events",),
    doc="Chi-squared independence contingency table of event_type x weekday "
    "(timezone-free epoch-day mod 7): observed counts, expected under "
    "independence, per-cell chi-squared contribution "
    "(obs*N - rowtot*coltot)^2 / (N^2 * rowtot * coltot) with the "
    "difference computed EXACTLY in DECIMAL(38,0) before the double "
    "division.  One map-combinable groupBy per marginal; cell domain "
    "bounded by |event_type| x 7.",
    tags=("analytics", "stats", "agg"),
)


# --------------------------------------------------------------------------
# Spearman rank correlation with tie-corrected average ranks
# --------------------------------------------------------------------------
_SPEARMAN_ORACLE = """
WITH xg AS (SELECT l_quantity AS v, COUNT(*) AS c FROM lineitem GROUP BY l_quantity),
xr AS (
  SELECT v, 2 * COALESCE(SUM(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS rx2
  FROM xg
),
yg AS (SELECT l_extendedprice AS v, COUNT(*) AS c FROM lineitem GROUP BY l_extendedprice),
yr AS (
  SELECT v, 2 * COALESCE(SUM(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS ry2
  FROM yg
),
t AS (SELECT COUNT(*) AS n FROM lineitem),
d AS (
  SELECT CAST(xr.rx2 - (t.n + 1) AS DECIMAL(38,0)) AS dx,
         CAST(yr.ry2 - (t.n + 1) AS DECIMAL(38,0)) AS dy
  FROM lineitem l
  JOIN xr ON xr.v = l.l_quantity
  JOIN yr ON yr.v = l.l_extendedprice
  CROSS JOIN t
),
s AS (
  SELECT CAST(SUM(dx * dy) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(dx * dx) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(dy * dy) AS DECIMAL(38,0)) AS syy,
         COUNT(*) AS n
  FROM d
)
SELECT CAST(n AS BIGINT) AS n_rows,
       ROUND(CAST(sxy AS DOUBLE)
             / sqrt(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)), 6) AS spearman_rho
FROM s
"""


@register(
    "spearman_rank_correlation",
    oracle=_SPEARMAN_ORACLE,
    doc="Spearman rank correlation of l_quantity vs l_extendedprice with "
    "TIE-CORRECTED average ranks (2x-scaled so every rank is an exact "
    "integer: rank2 = 2*count_below + count_eq + 1).  Scale shape: ranks "
    "are computed over the DISTINCT-VALUE relation via the distributed "
    "range-prefix-sum primitive (scalars_extra.range_prefix_summed — range "
    "repartition + bounded per-partition-sum collect, never a corpus-"
    "global window) and equi-joined back to rows; centered rank products "
    "accumulate EXACTLY in DECIMAL(38,0) (|d| <= n so sums fit 38 digits "
    "past 1e10 rows), with one double sqrt at the end.  rho identical "
    "across engines bit-for-bit.",
    tags=("analytics", "stats", "distributed-rank"),
)
def spearman_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalars_extra import range_prefix_summed

    li = load_table(spark, sf_dir, "lineitem").select("l_quantity", "l_extendedprice")

    # ONE distributed prefix-sum pass for BOTH rank axes (the per-axis
    # form paid two repartitionByRange checkpoints + two bounded offset
    # collects): the two value grids are axis-tagged and unioned, and
    # under (axis, v) ordering each axis' rows form a contiguous block —
    # axis 1's exclusive prefix is just the global prefix minus the
    # axis-0 grand mass, which equals n (each axis' counts sum to the
    # row count, so total = 2n — no extra corpus scan for a bare count).
    gx = (
        li.groupBy(F.col("l_quantity").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.lit(0).alias("axis"), "v", "c")
    )
    gy = (
        li.groupBy(F.col("l_extendedprice").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.lit(1).alias("axis"), "v", "c")
    )
    summed, total = range_prefix_summed(gx.unionByName(gy), ["axis", "v"], "c")
    if summed is None:
        return spark.createDataFrame([], "n_rows bigint, spearman_rho double")
    n = total // 2
    xr = summed.where(F.col("axis") == 0).select(
        "v", (2 * F.col("cum_before") + F.col("c") + 1).cast("bigint").alias("rx2")
    )
    yr = summed.where(F.col("axis") == 1).select(
        "v",
        (2 * (F.col("cum_before") - n) + F.col("c") + 1).cast("bigint").alias("ry2"),
    )
    d = (
        li.join(xr, li.l_quantity == xr.v)
        .drop("v")
        .join(yr, li.l_extendedprice == yr.v)
        .drop("v")
    )
    d = d.select(
        (F.col("rx2") - (n + 1)).cast("decimal(38,0)").alias("dx"),
        (F.col("ry2") - (n + 1)).cast("decimal(38,0)").alias("dy"),
    )
    s = d.agg(
        F.sum(F.col("dx") * F.col("dy")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("decimal(38,0)").alias("syy"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    return s.select(
        "n_rows",
        F.round(
            F.col("sxy").cast("double")
            / F.sqrt(F.col("sxx").cast("double") * F.col("syy").cast("double")),
            6,
        ).alias("spearman_rho"),
    )


# --------------------------------------------------------------------------
# k-anonymity audit over quasi-identifiers
# --------------------------------------------------------------------------
K_ANON_THRESHOLD = 5
K_BAND_CAP = 10

def _kanon_sql(d: Dialect, customer: str) -> str:
    return f"""
WITH q AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 1000.0) AS INT) AS bal_band
  FROM {customer}
),
g AS (
  SELECT c_nationkey, c_mktsegment, bal_band, COUNT(*) AS grp_n
  FROM q GROUP BY c_nationkey, c_mktsegment, bal_band
),
banded AS (
  SELECT CAST(LEAST(grp_n, {K_BAND_CAP}) AS INT) AS k_band, grp_n FROM g
)
SELECT k_band,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(grp_n) AS BIGINT) AS n_customers,
       (k_band < {K_ANON_THRESHOLD}) AS at_risk
FROM banded GROUP BY k_band
ORDER BY k_band
"""


register_sql(
    "k_anonymity_audit",
    _kanon_sql,
    ("customer",),
    doc=f"k-anonymity audit of a customer export under quasi-identifiers "
    "(nation, market segment, account-balance kilo-band): group-size "
    f"histogram capped at {K_BAND_CAP}+, with groups below k="
    f"{K_ANON_THRESHOLD} flagged re-identifiable.  Two map-combinable "
    "groupBys; band domain bounded — the governance gate a dataset "
    "release pipeline runs before publishing.",
    tags=("analytics", "privacy", "audit"),
)


# --------------------------------------------------------------------------
# epsilon band join via bucketing (|price_a - price_b| <= eps)
# --------------------------------------------------------------------------
BAND_EPS = 100.0  # dollars

_BAND_JOIN_ORACLE = f"""
WITH priced AS (
  SELECT o_orderkey AS okey, o_orderpriority AS pri,
         CAST(o_totalprice AS DOUBLE) AS p
  FROM orders
),
pairs AS (
  SELECT a.pri AS pri,
         CAST(ROUND(abs(a.p - c.p) * 100) AS BIGINT) AS gap_cents
  FROM priced a JOIN priced c
    ON c.pri = a.pri AND a.okey < c.okey AND abs(a.p - c.p) <= {BAND_EPS}
)
SELECT pri AS o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(CAST(SUM(gap_cents) AS DOUBLE) / (100.0 * COUNT(*)), 6) AS avg_gap
FROM pairs GROUP BY pri ORDER BY pri
"""

_BAND_JOIN_SPARK = f"""
WITH priced AS (
  SELECT o_orderkey AS okey, o_orderpriority AS pri,
         CAST(o_totalprice AS DOUBLE) AS p,
         CAST(FLOOR(o_totalprice / {BAND_EPS}) AS BIGINT) AS b
  FROM {{orders}}
),
probe AS (
  SELECT okey, pri, p, b + d AS nb
  FROM priced LATERAL VIEW explode(array(-1, 0, 1)) t AS d
),
pairs AS (
  SELECT a.pri AS pri,
         CAST(ROUND(abs(a.p - c.p) * 100) AS BIGINT) AS gap_cents
  FROM priced a JOIN probe c
    ON c.pri = a.pri AND c.nb = a.b AND a.okey < c.okey
  WHERE abs(a.p - c.p) <= {BAND_EPS}
)
SELECT pri AS o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(CAST(SUM(gap_cents) AS DOUBLE) / (100.0 * COUNT(*)), 6) AS avg_gap
FROM pairs GROUP BY pri ORDER BY pri
"""


@register(
    "band_join_price_neighbors",
    oracle=_BAND_JOIN_ORACLE,
    doc=f"Epsilon band join: pairs of same-priority orders within "
    f"+/-{BAND_EPS} of each other's total price, counted per priority with "
    "the mean gap (gaps summed EXACTLY as integer cents).  Scale shape: "
    "the theta condition |pa-pb|<=eps becomes an EQUI-join on "
    "floor(price/eps) buckets with the probe side exploded to its 3 "
    "candidate buckets — each qualifying pair matches exactly one bucket, "
    "so no dedup pass is needed and the join never degenerates to a "
    "nested loop.  Oracle = the direct theta-join form (different plan, "
    "same pairs — the bucketing logic is what's under test).",
    tags=("analytics", "join", "band"),
)
def band_join_price_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table_view(spark, sf_dir, "orders")
    return spark.sql(_BAND_JOIN_SPARK.format(orders=orders))


# --------------------------------------------------------------------------
# closed-form OLS trend over daily revenue
# --------------------------------------------------------------------------
def _ols_sql(d: Dialect, orders: str) -> str:
    datediff = d.epoch_day("o_orderdate")
    return f"""
WITH daily AS (
  SELECT CAST({datediff} AS BIGINT) AS x,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS y
  FROM {orders} GROUP BY {datediff}
),
s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(y * y) AS DECIMAL(38,0)) AS syy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy
  FROM daily
),
c AS (
  SELECT n,
         CAST(n * sxy - sx * sy AS DECIMAL(38,0)) AS num,
         CAST(n * sxx - sx * sx AS DECIMAL(38,0)) AS den_x,
         CAST(n * syy - sy * sy AS DECIMAL(38,0)) AS den_y,
         sx, sy
  FROM s
)
SELECT CAST(n AS BIGINT) AS n_days,
       ROUND(CAST(num AS DOUBLE) / CAST(den_x AS DOUBLE) / 100.0, 6) AS slope_per_day,
       ROUND((CAST(sy AS DOUBLE) - CAST(num AS DOUBLE) / CAST(den_x AS DOUBLE)
              * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) / 100.0, 6) AS intercept,
       ROUND(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
             / (CAST(den_x AS DOUBLE) * CAST(den_y AS DOUBLE)), 6) AS r_squared
FROM c
"""


register_sql(
    "revenue_trend_ols",
    _ols_sql,
    ("orders",),
    doc="Closed-form OLS trend line over daily revenue: slope ($/day), "
    "intercept, R^2 from the five classic sums (Sx, Sy, Sxx, Syy, Sxy) — "
    "ONE aggregation pass over the bounded daily relation, every sum "
    "accumulated EXACTLY in DECIMAL(38,0) cents (order-independent), the "
    "final ratios in identical double ops.  The distributed shape of "
    "'fit a regression without collecting anything': model state is O(1).",
    tags=("analytics", "stats", "regression"),
)


# --------------------------------------------------------------------------
# Benford first-digit audit
# --------------------------------------------------------------------------
# log10(1 + 1/d) to 6 places, inlined as LITERALS so both engines compare
# against bit-identical constants (no libm dependency in the oracle path)
_BENFORD = {
    1: "0.301030", 2: "0.176091", 3: "0.124939", 4: "0.096910",
    5: "0.079181", 6: "0.066947", 7: "0.057992", 8: "0.051153",
    9: "0.045757",
}

def _benford_sql(d: Dialect, orders: str) -> str:
    strtype = "STRING" if d.name == "spark" else "VARCHAR"
    return f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS {strtype}), 1, 1) AS INT)
           AS digit
  FROM {orders} WHERE o_totalprice >= 1
),
obs AS (SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit),
tot AS (SELECT COUNT(*) AS n_all FROM digits)
SELECT digit, CAST(n AS BIGINT) AS n_orders,
       ROUND(CAST(n AS DOUBLE) / t.n_all, 6) AS share,
       (CASE digit {' '.join(f'WHEN {d} THEN {v}' for d, v in _BENFORD.items())}
        END) AS benford_expected,
       ROUND(ABS(CAST(n AS DOUBLE) / t.n_all
             - (CASE digit {' '.join(f'WHEN {d} THEN {v}' for d, v in _BENFORD.items())} END)), 6)
         AS abs_deviation
FROM obs CROSS JOIN tot t
ORDER BY digit
"""


register_sql(
    "benford_first_digit_audit",
    _benford_sql,
    ("orders",),
    doc="Benford's-law data-quality audit: first-significant-digit "
    "distribution of order totals vs the log10(1+1/d) expectation "
    "(inlined as literal constants — no libm in the comparison path), "
    "with absolute deviation per digit.  The classic fabricated-data / "
    "broken-ingest tripwire; one map-combinable groupBy over a 9-value "
    "domain plus a scalar total.",
    tags=("analytics", "audit", "stats"),
)


# --------------------------------------------------------------------------
# l-diversity audit (sibling of k-anonymity: sensitive-value diversity)
# --------------------------------------------------------------------------
L_DIVERSITY_THRESHOLD = 3

def _ldiv_sql(d: Dialect, customer: str) -> str:
    return f"""
WITH q AS (
  SELECT c_nationkey,
         CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 1000.0) AS INT) AS bal_band,
         c_mktsegment
  FROM {customer}
),
g AS (
  SELECT c_nationkey, bal_band,
         COUNT(*) AS grp_n,
         COUNT(DISTINCT c_mktsegment) AS l
  FROM q GROUP BY c_nationkey, bal_band
)
SELECT CAST(l AS INT) AS l_value,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(grp_n) AS BIGINT) AS n_customers,
       (l < {L_DIVERSITY_THRESHOLD}) AS at_risk
FROM g GROUP BY l ORDER BY l_value
"""


register_sql(
    "l_diversity_audit",
    _ldiv_sql,
    ("customer",),
    doc="l-diversity audit: within each quasi-identifier group (nation, "
    "account-balance kilo-band), how many DISTINCT sensitive values "
    "(market segment) appear — a k-anonymous group with one segment still "
    f"leaks it.  Groups with l < {L_DIVERSITY_THRESHOLD} flagged.  Two "
    "map-combinable groupBys (the distinct lands inside the first); "
    "the release-gate sibling of k_anonymity_audit.",
    tags=("analytics", "privacy", "audit"),
)


# --------------------------------------------------------------------------
# schema contract audit (metadata gate — rows-only)
# --------------------------------------------------------------------------
# expected physical schemas for the engine's canonical tables; a column may
# list several accepted types where testdata generations differ on disk
# (events.ts has shipped as both TIMESTAMP and TIMESTAMP(NANOS)-as-long —
# sources/tables.py adapts, so the contract accepts the adapted type)
SCHEMA_CONTRACT: dict[str, dict[str, tuple[str, ...]]] = {
    "orders": {
        "o_orderkey": ("bigint",),
        "o_custkey": ("bigint",),
        "o_orderstatus": ("string",),
        "o_totalprice": ("double",),
        "o_orderdate": ("timestamp", "timestamp_ntz"),
        "o_orderpriority": ("string",),
    },
    "events": {
        "event_id": ("bigint",),
        "ts": ("timestamp", "timestamp_ntz"),
        "user_id": ("bigint",),
        "event_type": ("string",),
        "value": ("double",),
        "props": ("string",),
    },
    "documents": {
        "doc_id": ("bigint",),
        "text": ("string",),
        "lang": ("string",),
        "source": ("string",),
        "n_chars": ("bigint",),
    },
    "embeddings": {
        "vec_id": ("bigint",),
        "embedding": ("array<float>", "array<double>"),
        "label": ("int",),
    },
}


@register(
    "schema_contract_audit",
    oracle=None,  # pure metadata — DuckDB sees different physical types by
    # design (e.g. nanosecond timestamps); pinned in tests/test_round6d_ops.py
    doc="Schema contract gate: every canonical table's live schema checked "
    "column-by-column against the declared contract — missing columns, "
    "type drift, and unexpected extras each emit a violation row; green "
    "tables emit an 'ok' row so the output is non-empty exactly when the "
    "scan succeeded.  Runs on table METADATA only (no data read past the "
    "parquet footer) — the pre-flight check an ingest DAG runs before "
    "committing a batch, same family as table_checksum_audit.",
    tags=("analytics", "audit", "schema"),
)
def schema_contract_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    out: list[tuple[str, str, str, str, str]] = []
    for tname, contract in sorted(SCHEMA_CONTRACT.items()):
        try:
            live = dict(load_table(spark, sf_dir, tname).dtypes)
        except Exception as e:  # unreadable table is itself a violation
            out.append((tname, "*", "|".join(("<readable>",)), type(e).__name__, "unreadable"))
            continue
        bad = False
        for col, accepted in sorted(contract.items()):
            got = live.get(col)
            if got is None:
                out.append((tname, col, "|".join(accepted), "<missing>", "missing"))
                bad = True
            elif got not in accepted:
                out.append((tname, col, "|".join(accepted), got, "type_drift"))
                bad = True
        for col in sorted(set(live) - set(contract)):
            out.append((tname, col, "<absent>", live[col], "unexpected"))
            bad = True
        if not bad:
            out.append((tname, "*", "*", "*", "ok"))
    return spark.createDataFrame(
        out, "table_name string, column_name string, expected string, actual string, status string"
    ).orderBy("table_name", "column_name")


# --------------------------------------------------------------------------
# revenue concentration: Gini coefficient + Pareto top-shares
# --------------------------------------------------------------------------
_CONCENTRATION_ORACLE = """
WITH cust AS (
  SELECT o_custkey AS ck,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT ck, cents, ROW_NUMBER() OVER (ORDER BY cents, ck) AS r,
         COUNT(*) OVER () AS n
  FROM cust
),
s AS (
  SELECT MAX(n) AS n,
         CAST(SUM(cents) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(r AS DECIMAL(38,0)) * cents) AS DECIMAL(38,0)) AS sry,
         CAST(SUM(CASE WHEN r > n - n // 10 THEN cents ELSE 0 END)
              AS DECIMAL(38,0)) AS top10,
         CAST(SUM(CASE WHEN r > n - n // 100 THEN cents ELSE 0 END)
              AS DECIMAL(38,0)) AS top1
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_customers,
       ROUND(2.0 * CAST(sry AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(sy AS DOUBLE))
             - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini,
       ROUND(CAST(top10 AS DOUBLE) / CAST(sy AS DOUBLE), 6) AS top10pct_share,
       ROUND(CAST(top1 AS DOUBLE) / CAST(sy AS DOUBLE), 6) AS top1pct_share
FROM s
"""


@register(
    "revenue_concentration_audit",
    oracle=_CONCENTRATION_ORACLE,
    doc="Revenue concentration: exact Gini coefficient over per-customer "
    "revenue (rank formula G = 2*Sum(r*y)/(n*Sum(y)) - (n+1)/n, ranks from "
    "the DISTRIBUTED range-rank primitive with custkey tie-break) plus "
    "Pareto top-10%% / top-1%% revenue shares from the same ranked "
    "relation.  Every sum is DECIMAL(38,0)-exact integer cents; the only "
    "doubles are the final ratios — bit-identical across engines.  The "
    "'how 80/20 is this business' audit, one rank pass + one aggregate.",
    tags=("analytics", "stats", "distributed-rank"),
)
def revenue_concentration_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalars_extra import range_ranked

    cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .alias("cents")
        )
    )
    ranked, n = range_ranked(cust, ["cents", "ck"])
    if ranked is None:
        return spark.createDataFrame(
            [], "n_customers bigint, gini double, top10pct_share double, top1pct_share double"
        )
    s = ranked.agg(
        F.sum("cents").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("r").cast("decimal(38,0)") * F.col("cents"))
        .cast("decimal(38,0)")
        .alias("sry"),
        F.sum(F.when(F.col("r") > n - n // 10, F.col("cents")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("top10"),
        F.sum(F.when(F.col("r") > n - n // 100, F.col("cents")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("top1"),
    )
    return s.selectExpr(
        f"cast({n} as bigint) AS n_customers",
        f"round(2.0 * cast(sry as double) / ({float(n)} * cast(sy as double))"
        f" - ({float(n)} + 1.0) / {float(n)}, 6) AS gini",
        "round(cast(top10 as double) / cast(sy as double), 6) AS top10pct_share",
        "round(cast(top1 as double) / cast(sy as double), 6) AS top1pct_share",
    )


# --------------------------------------------------------------------------
# hash-split A/B conversion lift with z-test
# --------------------------------------------------------------------------
def _ab_sql(d: Dialect, events: str) -> str:
    strtype = "STRING" if d.name == "spark" else "VARCHAR"
    arm_hash = d.md5_prefix_int(f"('ab|' || CAST(user_id AS {strtype}))")
    return f"""
WITH assign AS (
  SELECT user_id,
         ({arm_hash} % 2) AS grp,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM {events}
  GROUP BY user_id
),
g AS (
  SELECT grp, COUNT(*) AS n, SUM(converted) AS conv
  FROM assign GROUP BY grp
),
w AS (
  SELECT MAX(CASE WHEN grp = 0 THEN n END) AS n_a,
         MAX(CASE WHEN grp = 0 THEN conv END) AS conv_a,
         MAX(CASE WHEN grp = 1 THEN n END) AS n_b,
         MAX(CASE WHEN grp = 1 THEN conv END) AS conv_b
  FROM g
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(conv_a AS BIGINT) AS conv_a,
       CAST(n_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
       ROUND(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
       ROUND(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
       ROUND(CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a, 6) AS lift,
       -- NULL (not an error) when conversion is degenerate (p=0 or p=1):
       -- the pooled variance is 0 and the z-test is undefined
       ROUND(
         (CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a)
         / NULLIF(sqrt( (CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                 * (1.0e0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                 * (1.0e0 / n_a + 1.0e0 / n_b) ), 0.0e0), 6) AS z_score
FROM w
"""


register_sql(
    "ab_conversion_ztest",
    _ab_sql,
    ("events",),
    doc="Hash-split A/B conversion test: users route to arms by a portable "
    "content hash (deterministic, balanced, no RNG — the same assignment "
    "every engine and every run), per-arm purchase-conversion rates, lift, "
    "and the two-proportion pooled z-score.  Counts are exact integers; "
    "the z arithmetic is identical double ops on both engines.  One "
    "groupBy(user) + one tiny pivot.",
    tags=("analytics", "experiment", "stats"),
)


# --------------------------------------------------------------------------
# per-brand Pearson correlation of discount vs quantity
# --------------------------------------------------------------------------
def _elasticity_sql(d: Dialect, lineitem: str, part: str) -> str:
    return f"""
WITH pts AS (
  SELECT p_brand,
         CAST(ROUND(l_discount * 100) AS DECIMAL(38,0)) AS d2,
         CAST(ROUND(l_quantity) AS DECIMAL(38,0)) AS q0
  FROM {lineitem} JOIN {part} ON p_partkey = l_partkey
),
s AS (
  SELECT p_brand,
         COUNT(*) AS n,
         CAST(SUM(d2) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(q0) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(d2 * d2) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(q0 * q0) AS DECIMAL(38,0)) AS syy,
         CAST(SUM(d2 * q0) AS DECIMAL(38,0)) AS sxy
  FROM pts GROUP BY p_brand
)
SELECT p_brand,
       CAST(n AS BIGINT) AS n_lines,
       ROUND(
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / sqrt( (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) ),
         6) AS discount_qty_corr
FROM s
WHERE n >= 30
ORDER BY p_brand
"""


register_sql(
    "discount_quantity_correlation",
    _elasticity_sql,
    ("lineitem", "part"),
    doc="Per-brand Pearson correlation of discount vs quantity (the price-"
    "elasticity proxy question).  Both variables are EXACT small integers "
    "(discount in percent points, quantity in units), the five classic "
    "sums accumulate in DECIMAL(38,0) per brand (map-side combinable, "
    "bounded 25-row output), and the correlation is one identical double "
    "expression per group — the grouped sibling of revenue_trend_ols.",
    tags=("analytics", "stats", "agg"),
)


# --------------------------------------------------------------------------
# shipping SLA buckets per priority
# --------------------------------------------------------------------------
def _sla_sql(d: Dialect, orders: str, lineitem: str) -> str:
    dd_args = (
        "to_date(l_shipdate), to_date(o_orderdate)"
        if d.name == "spark"
        else "'day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)"
    )
    return f"""
WITH lagdays AS (
  SELECT o_orderpriority AS pri,
         datediff({dd_args}) AS lag_days
  FROM {orders} JOIN {lineitem} ON l_orderkey = o_orderkey
),
bucketed AS (
  SELECT pri,
         CASE WHEN lag_days <= 7 THEN '0-7'
              WHEN lag_days <= 14 THEN '8-14'
              WHEN lag_days <= 30 THEN '15-30'
              ELSE '31+' END AS sla_bucket
  FROM lagdays
),
tot AS (SELECT pri, COUNT(*) AS n_all FROM bucketed GROUP BY pri)
SELECT b.pri AS o_orderpriority, b.sla_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(CAST(COUNT(*) AS DOUBLE) / t.n_all, 6) AS share
FROM bucketed b JOIN tot t ON t.pri = b.pri
GROUP BY b.pri, b.sla_bucket, t.n_all
ORDER BY o_orderpriority, sla_bucket
"""


register_sql(
    "shipping_sla_buckets",
    _sla_sql,
    ("orders", "lineitem"),
    doc="Order-to-ship SLA distribution: per priority, lineitems bucketed "
    "by days from order to ship (0-7 / 8-14 / 15-30 / 31+) with exact "
    "shares — the fulfilment-latency scorecard.  One co-partitioned "
    "fact-to-fact equi-join, integer day math, map-combinable buckets.",
    tags=("analytics", "sla", "agg"),
)


# --------------------------------------------------------------------------
# referential integrity audit
# --------------------------------------------------------------------------
def _ri_sql(d: Dialect, lineitem: str, orders: str, customer: str) -> str:
    return f"""
WITH l_orphans AS (
  SELECT COUNT(*) AS n_total,
         SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS n_orphans
  FROM {lineitem} l LEFT JOIN {orders} o ON o.o_orderkey = l.l_orderkey
),
o_orphans AS (
  SELECT COUNT(*) AS n_total,
         SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS n_orphans
  FROM {orders} o LEFT JOIN {customer} c ON c.c_custkey = o.o_custkey
),
childless AS (
  SELECT COUNT(*) AS n_total,
         SUM(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END) AS n_orphans
  FROM {orders} o
  LEFT JOIN (SELECT DISTINCT l_orderkey FROM {lineitem}) l
    ON l.l_orderkey = o.o_orderkey
)
SELECT relation, CAST(n_total AS BIGINT) AS n_total,
       CAST(n_orphans AS BIGINT) AS n_violations,
       ROUND(CAST(n_orphans AS DOUBLE) / n_total, 6) AS violation_rate
FROM (
  SELECT 'lineitem_without_order' AS relation, n_total, n_orphans FROM l_orphans
  UNION ALL
  SELECT 'order_without_customer' AS relation, n_total, n_orphans FROM o_orphans
  UNION ALL
  SELECT 'order_without_lineitem' AS relation, n_total, n_orphans FROM childless
) u
ORDER BY relation
"""


register_sql(
    "referential_integrity_audit",
    _ri_sql,
    ("lineitem", "orders", "customer"),
    doc="Referential-integrity audit across the fact chain: lineitems whose "
    "order is missing, orders whose customer is missing, and childless "
    "orders — each as a LEFT-join orphan count with exact violation rates. "
    "The ingest-commit gate that catches a partial load before downstream "
    "joins silently drop rows; three co-partitioned equi-joins, "
    "3-row output.",
    tags=("analytics", "audit", "integrity"),
)


# --------------------------------------------------------------------------
# Theil–Sen robust trend (median of pairwise slopes) over daily revenue
# --------------------------------------------------------------------------
def _theilsen_sql(d: Dialect, orders: str) -> str:
    datediff = d.epoch_day("o_orderdate")
    median_fn = "percentile(slope, 0.5)" if d.name == "spark" else "quantile_cont(slope, 0.5)"
    return f"""
WITH weekly AS (
  -- WEEKLY grain, not daily: Theil-Sen is O(points^2) by definition, and
  -- ~345 weeks -> 59k pairs keeps the pair relation trivially bounded
  -- where 2400 days -> 3M pairs made this the registry's slowest query
  SELECT CAST(FLOOR(CAST({datediff} AS BIGINT) / 7.0) AS BIGINT) AS x,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS y
  FROM {orders} GROUP BY CAST(FLOOR(CAST({datediff} AS BIGINT) / 7.0) AS BIGINT)
),
slopes AS (
  -- pairwise slopes in IDENTICAL double ops in both engines: exact cent
  -- integers divided once; bounded by the CALENDAR squared
  SELECT CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
  FROM weekly a JOIN weekly b ON b.x > a.x
),
med AS (
  SELECT COUNT(*) AS n_pairs, {median_fn} AS med_slope FROM slopes
),
anchor AS (
  SELECT COUNT(*) AS n_weeks,
         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(y) AS DECIMAL(38,0)) AS sy
  FROM weekly
)
SELECT CAST(a.n_weeks AS BIGINT) AS n_weeks,
       CAST(m.n_pairs AS BIGINT) AS n_pairs,
       ROUND(m.med_slope / 100.0, 6) AS slope_per_week,
       -- Theil–Sen intercept (mean-anchored variant): mean(y) - slope*mean(x)
       ROUND((CAST(a.sy AS DOUBLE) / a.n_weeks
              - m.med_slope * CAST(a.sx AS DOUBLE) / a.n_weeks) / 100.0, 6)
         AS intercept
FROM med m CROSS JOIN anchor a
"""


register_sql(
    "theilsen_trend_robust",
    _theilsen_sql,
    ("orders",),
    doc="Theil–Sen robust trend over WEEKLY revenue: the MEDIAN of all "
    "pairwise week-to-week slopes — the estimator that shrugs off the "
    "outlier periods that drag revenue_trend_ols (its closed-form "
    "sibling).  Slopes are exact cent integers divided once in identical "
    "double ops; the pair join is bounded by the CALENDAR squared "
    "(~345 weeks -> 59k pairs at ANY corpus size — weekly grain chosen "
    "precisely because Theil-Sen is O(points^2) by definition), and the "
    "exact interpolated median runs on that bounded relation.",
    tags=("analytics", "stats", "regression"),
)


# --------------------------------------------------------------------------
# t-closeness audit (the EMD sibling of k-anonymity / l-diversity)
# --------------------------------------------------------------------------
T_CLOSENESS_THRESHOLD = 0.35  # max total-variation distance before flagging

def _tclose_sql(d: Dialect, customer: str) -> str:
    return f"""
WITH q AS (
  SELECT c_nationkey,
         CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 1000.0) AS INT) AS bal_band,
         c_mktsegment
  FROM {customer}
),
segtot AS (
  SELECT c_mktsegment, COUNT(*) AS g_n FROM q GROUP BY c_mktsegment
),
tot AS (SELECT COUNT(*) AS n_all FROM q),
grp AS (
  SELECT c_nationkey, bal_band, COUNT(*) AS grp_n FROM q
  GROUP BY c_nationkey, bal_band
),
cell AS (
  SELECT c_nationkey, bal_band, c_mktsegment, COUNT(*) AS c_n FROM q
  GROUP BY c_nationkey, bal_band, c_mktsegment
),
-- every (group x segment) cell, INCLUDING absent segments (they contribute
-- the full global share to the distance)
dist AS (
  SELECT g.c_nationkey, g.bal_band, g.grp_n,
         ABS(CAST(COALESCE(c.c_n, 0) AS DOUBLE) / g.grp_n
             - CAST(s.g_n AS DOUBLE) / t.n_all) AS absdiff
  FROM grp g
  CROSS JOIN segtot s
  CROSS JOIN tot t
  LEFT JOIN cell c
    ON c.c_nationkey = g.c_nationkey AND c.bal_band = g.bal_band
   AND c.c_mktsegment = s.c_mktsegment
),
per_group AS (
  SELECT c_nationkey, bal_band, grp_n,
         ROUND(SUM(absdiff) / 2.0, 6) AS t_distance
  FROM dist GROUP BY c_nationkey, bal_band, grp_n
)
SELECT CAST(FLOOR(t_distance / 0.05) AS INT) AS t_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(grp_n) AS BIGINT) AS n_customers,
       (MIN(t_distance) > {T_CLOSENESS_THRESHOLD}) AS at_risk
FROM per_group
GROUP BY CAST(FLOOR(t_distance / 0.05) AS INT)
ORDER BY t_bucket
"""


register_sql(
    "t_closeness_audit",
    _tclose_sql,
    ("customer",),
    doc="t-closeness audit completing the privacy triple (k_anonymity_"
    "audit, l_diversity_audit): per quasi-identifier group (nation, "
    "balance kilo-band), the total-variation distance between the group's "
    "sensitive-value (market segment) distribution and the GLOBAL one — "
    "a diverse-but-skewed group still leaks.  Absent segments enter via "
    "the group x segment grid (|segments| = 5, so the CROSS JOIN is a "
    f"bounded broadcast), groups above t = {T_CLOSENESS_THRESHOLD} "
    "flagged, output histogrammed by 0.05 distance buckets.",
    tags=("analytics", "privacy", "audit"),
)


# --------------------------------------------------------------------------
# rolling control-chart anomalies on daily event counts
# --------------------------------------------------------------------------
CCHART_WINDOW = 13  # trailing days in the control window
CCHART_MIN_N = 8  # minimum trailing days before a verdict
CCHART_SIGMA = 3.0

def _cchart_sql(d: Dialect, events: str) -> str:
    datediff = d.epoch_day("ts")
    return f"""
WITH daily AS (
  SELECT event_type, CAST({datediff} AS BIGINT) AS day_no,
         COUNT(*) AS n_events
  FROM {events} GROUP BY event_type, {datediff}
),
win AS (
  SELECT event_type, day_no, n_events,
         COUNT(*) OVER w AS w_n,
         SUM(n_events) OVER w AS w_sum,
         SUM(n_events * n_events) OVER w AS w_sumsq
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day_no
               ROWS BETWEEN {CCHART_WINDOW} PRECEDING AND 1 PRECEDING)
),
scored AS (
  SELECT event_type, day_no, n_events, w_n,
         CAST(w_sum AS DOUBLE) / w_n AS mu,
         -- sample variance from exact integer sums: (n*sumsq - sum^2) / (n*(n-1))
         (CAST(w_n AS DOUBLE) * w_sumsq - CAST(w_sum AS DOUBLE) * w_sum)
           / (CAST(w_n AS DOUBLE) * (w_n - 1)) AS var_s
  FROM win WHERE w_n >= {CCHART_MIN_N}
)
SELECT event_type, day_no,
       CAST(n_events AS BIGINT) AS n_events,
       ROUND(mu, 6) AS rolling_mean,
       ROUND(sqrt(var_s), 6) AS rolling_std,
       ROUND((n_events - mu) / NULLIF(sqrt(var_s), 0), 6) AS z_score
FROM scored
WHERE ABS(n_events - mu) > {CCHART_SIGMA} * sqrt(var_s)
ORDER BY event_type, day_no
"""


register_sql(
    "control_chart_anomalies",
    _cchart_sql,
    ("events",),
    doc=f"Rolling control-chart anomaly detection: per event_type, each "
    f"day's count vs the trailing-{CCHART_WINDOW}-day mean/std (exact "
    "integer window sums -> identical double variance in both engines), "
    f"flagged beyond {CCHART_SIGMA} sigma with at least {CCHART_MIN_N} "
    "trailing days — the ingest-volume tripwire an ops pipeline pages on. "
    "Windows partition by event_type over the aggregated DAY relation "
    "(O(days) per partition, never corpus rows).",
    tags=("analytics", "timeseries", "anomaly", "window"),
)


# --------------------------------------------------------------------------
# churn training-set builder: leakage-free features + label horizon
# --------------------------------------------------------------------------
CHURN_HORIZON_DAYS = 365  # orders span ~7 years; 1y horizon gives ~20% churn


def _churn_sql(d: Dialect, orders: str) -> str:
    if d.name == "spark":
        cutoff = f"date_sub(h.dmax, {CHURN_HORIZON_DAYS})"
        gap = f"datediff(date_sub(h.dmax, {CHURN_HORIZON_DAYS}), agg.last_obs_day)"
    else:
        cutoff = f"(h.dmax - {CHURN_HORIZON_DAYS})"
        gap = f"datediff('day', agg.last_obs_day, h.dmax - {CHURN_HORIZON_DAYS})"
    return f"""
WITH h AS (
  SELECT CAST(MAX(CAST(o_orderdate AS DATE)) AS DATE) AS dmax FROM {orders}
),
agg AS (
  SELECT o_custkey AS custkey,
         CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) < {cutoff} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_orders,
         CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) < {cutoff}
                       THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                 AS DECIMAL(38,0)) ELSE 0 END)
              AS DECIMAL(38,0)) AS spend_cents,
         CAST(COUNT(DISTINCT CASE WHEN CAST(o_orderdate AS DATE) < {cutoff}
                                  THEN CAST(o_orderdate AS DATE) END) AS BIGINT)
           AS order_days,
         MAX(CASE WHEN CAST(o_orderdate AS DATE) < {cutoff}
                  THEN CAST(o_orderdate AS DATE) END) AS last_obs_day,
         CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) >= {cutoff} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_after
  FROM {orders} CROSS JOIN h
  GROUP BY o_custkey
)
SELECT custkey, n_orders, CAST(spend_cents AS BIGINT) AS spend_cents, order_days,
       CAST({gap} AS BIGINT) AS last_gap_days,
       (n_after = 0) AS churned
FROM agg CROSS JOIN h
WHERE n_orders > 0
ORDER BY custkey
"""


register_sql(
    "churn_label_features",
    _churn_sql,
    ("orders",),
    doc=f"Supervised training-set builder for churn: label = customer "
    f"places NO order in the final {CHURN_HORIZON_DAYS}-day horizon; "
    "features (order count, exact-cents spend, distinct order days, "
    "recency gap) computed ONLY from the observation window before the "
    "cutoff — the leakage-free label-horizon construction every "
    "behavioural model pipeline needs (~20% positive rate on this "
    "corpus).  One conditional-aggregate groupBy per customer, horizon "
    "scalar broadcast; pure map-combinable aggregation, no window, no "
    "self-join.",
    tags=("analytics", "training", "agg"),
)


# --------------------------------------------------------------------------
# Markov stationary distribution by integer-exact power iteration
# --------------------------------------------------------------------------
MARKOV_ITERS = 8
_MK_UNIT = 1_000_000_000_000  # probability mass in pico-units
_MK_PQ = 1_000_000  # transition probabilities quantized to micro-units


def _markov_stationary_sql(d, events: str) -> str:
    """Stationary distribution of the first-order event-type Markov chain
    (the long-run behavioural mix), by {MARKOV_ITERS} unrolled power
    iterations on the O(types^2) transition matrix — every iteration is a
    join of a |types|-row vector against the bounded matrix relation, and
    ALL arithmetic is integer: probabilities quantize to micro-units once,
    the mass vector lives in pico-units, each step's products floor-divide
    back — deterministic across engines, partitionings and runs (no
    floating accumulation anywhere).  Mass lost to flooring is < types *
    iters units ~ 1e-10 of total.  The chain is restricted to states with
    outgoing transitions (all of them, on this corpus)."""
    idiv = d.idiv
    step = idiv("(v.p * p.pm)", str(_MK_PQ))
    iters = "".join(
        f""",
v{k} AS (
  SELECT p.j AS ty, CAST(SUM({step}) AS BIGINT) AS p
  FROM v{k - 1} v JOIN p ON p.i = v.ty GROUP BY p.j
)"""
        for k in range(1, MARKOV_ITERS + 1)
    )
    return f"""
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM {events}
),
trans AS (
  SELECT event_type AS from_type, next_type AS to_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE next_type IS NOT NULL GROUP BY event_type, next_type
),
-- restrict the chain to edges whose TARGET also has outgoing transitions
-- and renormalize rows over the kept edges (review fix: an inner join on
-- the vector silently dropped mass flowing into chain-terminal states);
-- a deeper terminal chain still leaks, which the mass_leak column makes
-- VISIBLE instead of silent
live AS (SELECT DISTINCT from_type AS ty FROM trans),
trans2 AS (SELECT t.* FROM trans t JOIN live l ON l.ty = t.to_type),
rt AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot FROM trans2 GROUP BY from_type),
p AS (
  SELECT t.from_type AS i, t.to_type AS j,
         CAST({idiv("(t.n * " + str(_MK_PQ) + ")", "r.tot")} AS BIGINT) AS pm
  FROM trans2 t JOIN rt r ON r.from_type = t.from_type
),
types AS (SELECT from_type AS ty FROM rt),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM types),
tot_in AS (
  SELECT to_type AS ty, CAST(SUM(n) AS BIGINT) AS n_in FROM trans GROUP BY to_type
),
grand AS (SELECT CAST(SUM(n) AS BIGINT) AS g FROM trans),
v0 AS (
  SELECT ty, CAST({idiv(str(_MK_UNIT), "nt.c")} AS BIGINT) AS p
  FROM types CROSS JOIN nt
){iters},
mass AS (SELECT CAST(SUM(p) AS BIGINT) AS m FROM v{MARKOV_ITERS})
SELECT v.ty AS event_type,
       ROUND(CAST(v.p AS DOUBLE) / {_MK_UNIT}, 6) AS stationary_prob,
       ROUND(CAST(COALESCE(ti.n_in, 0) AS DOUBLE) / g.g, 6) AS empirical_in_share,
       ROUND(1.0 - CAST(ms.m AS DOUBLE) / {_MK_UNIT}, 6) AS mass_leak
FROM v{MARKOV_ITERS} v
LEFT JOIN tot_in ti ON ti.ty = v.ty
CROSS JOIN grand g
CROSS JOIN mass ms
ORDER BY event_type
"""


def _markov_trans_sql(events: str) -> str:
    """The bounded <=|types|^2 transition-count matrix — the relation
    every tail CTE of the stationary-distribution fold references (CTE
    inlining expanded it through live/trans2/rt/p/tot_in/grand into 20
    static corpus scans per statement, guide §3.3).  Split out so the
    Spark side materializes it once per call; the Spark-only fold twin
    passes it as ``trans_rel``."""
    return f"""
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM {events}
)
SELECT event_type AS from_type, next_type AS to_type,
       CAST(COUNT(*) AS BIGINT) AS n
FROM seq WHERE next_type IS NOT NULL GROUP BY event_type, next_type
"""


def _markov_stationary_fold_sql(events: str, trans_rel: str | None = None) -> str:
    """Spark-side twin of :func:`_markov_stationary_sql` with the
    {MARKOV_ITERS} power iterations as ONE ``aggregate()`` fold over the
    collapsed bounded matrix instead of an unrolled CTE chain.  The chain
    form inlines the windowed transition matrix once per iteration, so
    Catalyst re-analyzes an O(iters)-deep tree — measured ~3 s of pure
    planning at ANY scale (sf0.001 == sf0.1; round-12 probe), the same
    CollapseProject class as the round-11 Hilbert fix.  The fold is an
    O(1) expression tree: the <= |types|^2 matrix collapses to one array
    row, the mass vector is a map, and each step floor-divides per edge
    then sums — integer arithmetic identical to the unrolled form
    (bit-equality pytest-pinned; same Python twin test applies)."""
    trans = (
        f"SELECT * FROM {trans_rel}"
        if trans_rel
        else _markov_trans_sql(events)
    )
    return f"""
WITH trans AS ({trans}),
live AS (SELECT DISTINCT from_type AS ty FROM trans),
trans2 AS (SELECT t.* FROM trans t JOIN live l ON l.ty = t.to_type),
rt AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot FROM trans2 GROUP BY from_type),
p AS (
  SELECT t.from_type AS i, t.to_type AS j,
         CAST(((t.n * {_MK_PQ}) div r.tot) AS BIGINT) AS pm
  FROM trans2 t JOIN rt r ON r.from_type = t.from_type
),
tot_in AS (
  SELECT to_type AS ty, CAST(SUM(n) AS BIGINT) AS n_in FROM trans GROUP BY to_type
),
grand AS (SELECT CAST(SUM(n) AS BIGINT) AS g FROM trans),
-- bounded grid (<= |types|^2 edges) collapses to ONE row; the iterations
-- run inside a single fold, so the plan tree is iteration-count-free.
-- The map is keyed on BOTH endpoints (ks) with NULL standing for "absent
-- from this iteration's vector": the unrolled chain's JOIN drops edges
-- whose source is absent and its GROUP BY emits only keys with >=1
-- surviving in-edge, so presence is dynamic per step — a state whose
-- surviving out-edges are all pruned (in p.j but not p.i) still receives
-- and re-emits inflow each step (round-12 advisory: keying on ts alone
-- dropped such states and emitted spurious 0.0 rows for dried-up sources)
matv AS (
  SELECT collect_list(named_struct('i', i, 'j', j, 'pm', pm)) AS m,
         CAST(COUNT(DISTINCT i) AS BIGINT) AS c,
         array_sort(collect_set(i)) AS ts,
         array_sort(array_union(collect_set(i), collect_set(j))) AS ks
  FROM p
),
fin AS (
  SELECT aggregate(
           sequence(1, {MARKOV_ITERS}),
           map_from_entries(transform(ks, ty ->
             struct(ty, IF(array_contains(ts, ty),
                           CAST(({_MK_UNIT} div c) AS BIGINT),
                           CAST(NULL AS BIGINT))))),
           (acc, k) -> map_from_entries(transform(ks, ty ->
             struct(ty, aggregate(
                          filter(m, e -> e.j = ty AND acc[e.i] IS NOT NULL),
                          CAST(NULL AS BIGINT),
                          (s, e) -> COALESCE(s, CAST(0 AS BIGINT))
                                    + ((acc[e.i] * e.pm) div {_MK_PQ})))))
         ) AS vm
  FROM matv
),
vfin AS (
  SELECT ty, pmass
  FROM (SELECT explode(vm) AS (ty, pmass) FROM fin)
  WHERE pmass IS NOT NULL
),
mass AS (SELECT CAST(SUM(pmass) AS BIGINT) AS m FROM vfin)
SELECT v.ty AS event_type,
       ROUND(CAST(v.pmass AS DOUBLE) / {_MK_UNIT}, 6) AS stationary_prob,
       ROUND(CAST(COALESCE(ti.n_in, 0) AS DOUBLE) / g.g, 6) AS empirical_in_share,
       ROUND(1.0 - CAST(ms.m AS DOUBLE) / {_MK_UNIT}, 6) AS mass_leak
FROM vfin v
LEFT JOIN tot_in ti ON ti.ty = v.ty
CROSS JOIN grand g
CROSS JOIN mass ms
ORDER BY event_type
"""


@register(
    "markov_stationary_distribution",
    oracle=_markov_stationary_sql(DUCKDB, "events"),
    doc=f"Stationary distribution of the event-type Markov chain by "
    f"{MARKOV_ITERS} unrolled INTEGER-exact power iterations (transition "
    "probabilities quantized to micro-units once, mass vector in "
    "pico-units, floor-divide per step — no floating accumulation, so "
    "the result is bit-identical across engines/partitionings); each "
    "iteration joins a |types|-row vector against the O(types^2) matrix. "
    "Emitted beside the one-step empirical in-share: their gap measures "
    "how far the observed mix sits from the chain's long-run equilibrium. "
    "Companion to event_transition_matrix (the matrix) and "
    "top_event_paths (the trajectories).",
    tags=("analytics", "markov", "iteration"),
)
def markov_stationary_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import materialize_once

    events = table_view(spark, sf_dir, "events")
    # Materialize the bounded transition matrix once (guide §3.3):
    # live/trans2/rt/p/tot_in/grand expanded the windowed corpus pass into
    # 20 static scans per statement.  One checkpoint -> one corpus pass.
    trans = materialize_once(spark, _markov_trans_sql(events), "mk_trans", key=sf_dir)
    return spark.sql(_markov_stationary_fold_sql(events, trans_rel=trans))


# --------------------------------------------------------------------------
# autocorrelation of daily revenue (exact integer deviations)
# --------------------------------------------------------------------------
ACF_MAX_LAG = 14

_ACF_DAILY_SQL = """
SELECT CAST({dayno} AS BIGINT) AS day,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                     AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS cents
FROM {orders} GROUP BY 1
"""

_ACF_SQL = """
WITH daily AS ({daily}),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS DECIMAL(38,0)) AS s
  FROM daily
),
-- scaled deviation d_t = n*x_t - s keeps everything integral; the common
-- 1/n^2 factor cancels in the autocorrelation ratio
dev AS (
  SELECT d.day, CAST(d.cents * t.n - t.s AS DECIMAL(38,0)) AS dv
  FROM daily d CROSS JOIN tot t
),
den AS (SELECT CAST(SUM(dv * dv) AS DECIMAL(38,6)) AS d2 FROM dev),
lags AS ({lags_rel}),
num AS (
  SELECT l.lag, CAST(SUM(a.dv * b.dv) AS DECIMAL(38,6)) AS nsum,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM lags l
  JOIN dev a ON 1 = 1
  JOIN dev b ON b.day = a.day + l.lag
  GROUP BY l.lag
)
SELECT n.lag, n.n_pairs,
       ROUND(CAST(n.nsum AS DOUBLE) / CAST(d2.d2 AS DOUBLE), 6) AS acf
FROM num n CROSS JOIN den d2
ORDER BY n.lag
"""


@register(
    "acf_daily_revenue",
    oracle=_ACF_SQL.format(
        daily=_ACF_DAILY_SQL.format(
            dayno=DUCKDB.epoch_day("o_orderdate"),
            orders="orders",
        ),
        lags_rel=f"SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS lag",
    ),
    doc=f"Autocorrelation of daily revenue at lags 1..{ACF_MAX_LAG} — the "
    "time-series seasonality diagnostic (weekly cadence shows as a lag-7 "
    "peak).  EXACT arithmetic: the day series aggregates to integer "
    "cents, deviations scale to n*x - s so the 1/n^2 factor cancels in "
    "the ratio and every product stays in DECIMAL(38) — no floating "
    "accumulation anywhere.  The lag dimension rides a 14-element "
    "literal; the shifted self-join is an equi-join on (day + lag) over "
    "the BOUNDED day-domain aggregate.",
    tags=("analytics", "timeseries", "self-join"),
)
def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import materialize_once

    orders = table_view(spark, sf_dir, "orders")
    # Materialize the bounded day-grid series once (guide §3.3): the
    # dev/den/num chain expanded it into 12 static corpus scans.
    daily = materialize_once(
        spark,
        _ACF_DAILY_SQL.format(
            dayno=SPARK.epoch_day("o_orderdate"),
            orders=orders,
        ),
        "acf_daily",
        key=sf_dir,
    )
    return spark.sql(
        _ACF_SQL.format(
            daily=f"SELECT * FROM {daily}",
            lags_rel=f"SELECT explode(sequence(1, {ACF_MAX_LAG})) AS lag",
        )
    )


# --------------------------------------------------------------------------
# Mann-Kendall trend test on the weekly revenue series
# --------------------------------------------------------------------------
def _mk_trend_sql(d: Dialect, orders: str) -> str:
    datediff = d.epoch_day("o_orderdate")
    return f"""
WITH weekly AS (
  SELECT CAST(FLOOR(CAST({datediff} AS BIGINT) / 7.0) AS BIGINT) AS x,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS y
  FROM {orders} GROUP BY CAST(FLOOR(CAST({datediff} AS BIGINT) / 7.0) AS BIGINT)
),
s AS (
  SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END)
              AS BIGINT) AS s_stat
  FROM weekly a JOIN weekly b ON b.x > a.x
),
ties AS (
  SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_corr
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM weekly GROUP BY y) g
  WHERE t > 1
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM weekly)
SELECT n.n AS n_weeks, s.s_stat,
       CAST((n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_corr) AS BIGINT) AS var18_num,
       ROUND(
         CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1)
              WHEN s.s_stat < 0 THEN (s.s_stat + 1)
              ELSE 0 END
         / SQRT((n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_corr) / 18.0), 6)
         AS z_stat,
       (ABS(
         CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1)
              WHEN s.s_stat < 0 THEN (s.s_stat + 1)
              ELSE 0 END
         / SQRT((n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_corr) / 18.0)) > 1.96)
         AS significant_05
FROM s CROSS JOIN ties CROSS JOIN n
"""


register_sql(
    "mann_kendall_trend",
    _mk_trend_sql,
    ("orders",),
    doc="Mann-Kendall monotone-trend TEST on the weekly revenue series — "
    "the significance companion to theilsen_trend_robust's slope (same "
    "weekly grain, same bounded O(weeks^2) pair relation): S = sum of "
    "pairwise signs (exact integer), tie-corrected variance "
    "n(n-1)(2n+5)/18 - sum t(t-1)(2t+5)/18 (exact integer numerator), "
    "continuity-corrected z.  Distribution-free — no normality "
    "assumption, unlike revenue_trend_ols's F.",
    tags=("analytics", "timeseries", "stats"),
)


# --------------------------------------------------------------------------
# CUSUM change detection on the weekly revenue series (closed form)
# --------------------------------------------------------------------------
# The deviation prefix (weekly -> tot -> sig -> d) is its OWN template
# constant shared by the full query and the Spark prefix-sum path, which
# needs exactly `d` and nothing after it (round-8 advisory: the previous
# string-split of the rendered SQL on ",\np AS (" silently produced
# malformed SQL on any whitespace edit instead of failing at import).
_CUSUM_D_SQL = """
WITH weekly AS (
  SELECT CAST(FLOOR(CAST({datediff} AS BIGINT) / 7.0) AS BIGINT) AS x,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS cents
  FROM {orders} GROUP BY CAST(FLOOR(CAST({datediff} AS BIGINT) / 7.0) AS BIGINT)
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS DECIMAL(38,0)) AS s,
         CAST(SUM(cents * cents) AS DECIMAL(38,6)) AS q
  FROM weekly
),
-- scaled deviation d = n*x - s (integer-exact, the ACF trick); slack k =
-- 0.5 sigma in the SAME scaled units, floored once to an integer
sig AS (
  SELECT CAST(FLOOR(0.5 * SQRT((CAST(t.q AS DOUBLE) * t.n - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE)))) AS DECIMAL(38,0)) AS slack,
         CAST(FLOOR(4.0 * SQRT((CAST(t.q AS DOUBLE) * t.n - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE)))) AS DECIMAL(38,0)) AS h
  FROM tot t
),
d AS (
  SELECT w.x, CAST(w.cents * t.n - t.s - sg.slack AS DECIMAL(38,0)) AS dv
  FROM weekly w CROSS JOIN tot t CROSS JOIN sig sg
)"""

_CUSUM_SQL = _CUSUM_D_SQL + """,
p AS ({prefix_rel}),
-- CUSUM closed form: S_t = max(0, P_t - min_(k<=t) P_k); the running
-- min comes from a bounded |weeks|^2 triangular self-join (the weekly
-- relation is calendar-bounded), never a global window on the Spark side
runmin AS (
  SELECT a.x, MIN(LEAST(b.pc, 0)) AS minp
  FROM p a JOIN p b ON b.x <= a.x
  GROUP BY a.x
),
scored AS (
  SELECT p.x, CAST(GREATEST(p.pc - r.minp, 0) AS DECIMAL(38,0)) AS cusum_scaled,
         sg.h
  FROM p JOIN runmin r ON r.x = p.x CROSS JOIN sig sg
)
SELECT s2.x AS week,
       ROUND(CAST(s2.cusum_scaled AS DOUBLE) / t.n / 100, 6) AS cusum_dollars,
       (s2.cusum_scaled > s2.h) AS alarm
FROM scored s2 CROSS JOIN tot t
ORDER BY week
"""


def _cusum_prefix_oracle() -> str:
    # INCLUSIVE prefix sum of dv in week order, with P_0 = 0 handled by
    # LEAST(min, 0) in runmin
    return """
  SELECT x, CAST(SUM(dv) OVER (ORDER BY x
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,0)) AS pc
  FROM d
"""


@register(
    "cusum_change_detection",
    oracle=_CUSUM_SQL.format(
        datediff=DUCKDB.epoch_day("o_orderdate"),
        orders="orders",
        prefix_rel=_cusum_prefix_oracle(),
    ),
    doc="One-sided CUSUM upward-shift detector on the weekly revenue "
    "series, via the CLOSED FORM S_t = max(0, P_t - min_k<=t P_k) — no "
    "recursion: prefix sums of the slack-adjusted deviations, running "
    "min from a bounded |weeks|^2 self-join.  Deviations use the exact "
    "n*x - s scaling (the ACF trick) so every cumulative value is an "
    "exact DECIMAL integer; only the one-time sigma slack/threshold "
    "crosses libm (floored once).  Slack k = 0.5 sigma, alarm h = 4 "
    "sigma — the SPC change-point monitor beside the control chart's "
    "per-point z.",
    tags=("analytics", "timeseries", "spc"),
)
def cusum_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table_view(spark, sf_dir, "orders")
    # Spark side: the prefix sum rides the distributed range-prefix-sum
    # primitive over the week order instead of a global window
    from .scalars_extra import range_prefix_summed

    inner = _CUSUM_SQL.format(
        datediff=SPARK.epoch_day("o_orderdate"),
        orders=orders,
        prefix_rel="SELECT x, pc FROM {prefix}",
    )
    d_sql = (
        _CUSUM_D_SQL.format(
            datediff=SPARK.epoch_day("o_orderdate"),
            orders=orders,
        )
        + "\nSELECT x, dv FROM d"
    )
    d_df = spark.sql(d_sql)
    summed, _tot = range_prefix_summed(d_df, ["x"], "dv")
    if summed is None:
        return spark.createDataFrame([], "week bigint, cusum_dollars double, alarm boolean")
    prefix = summed.select(
        "x", (F.col("cum_before") + F.col("dv")).cast("decimal(38,0)").alias("pc")
    ).localCheckpoint(eager=False)
    return spark.sql(inner, prefix=prefix)


# --------------------------------------------------------------------------
# aggregate sensitivity audit (max single-user contribution per cell)
# --------------------------------------------------------------------------
def _sens_sql(d: Dialect, events: str) -> str:
    return f"""
WITH per_user AS (
  SELECT event_type, user_id,
         CAST(COUNT(*) AS BIGINT) AS n_u,
         CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT) AS v_u
  FROM {events} GROUP BY event_type, user_id
),
cell AS (
  SELECT event_type,
         CAST(SUM(n_u) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(v_u) AS BIGINT) AS v_total,
         CAST(MAX(n_u) AS BIGINT) AS max_user_rows,
         CAST(MAX(ABS(v_u)) AS BIGINT) AS max_user_value_u
  FROM per_user GROUP BY event_type
)
SELECT event_type, n_rows, n_users,
       ROUND(CAST(max_user_rows AS DOUBLE) / n_rows, 6) AS max_row_share,
       ROUND(CAST(max_user_value_u AS DOUBLE) / NULLIF(ABS(v_total), 0), 6)
         AS max_value_share,
       (CAST(max_user_rows AS DOUBLE) / n_rows > 0.01) AS dominated
FROM cell ORDER BY event_type
"""


register_sql(
    "aggregate_sensitivity_audit",
    _sens_sql,
    ("events",),
    doc="Per-aggregate-cell SENSITIVITY audit: the largest single user's "
    "row and value contribution share per event_type — the number that "
    "(a) flags cells effectively describing one individual before a "
    "release and (b) calibrates the noise scale any differential-privacy "
    "mechanism would need (sensitivity = max individual contribution). "
    "Values quantize to micro-units at the row (order-free sums); two "
    "map-combinable groupBys, bounded output.  Completes the privacy "
    "release family beside k-anonymity / l-diversity / t-closeness.",
    tags=("analytics", "privacy", "agg"),
)


# --------------------------------------------------------------------------
# circular (directional) statistics of event time-of-day
# --------------------------------------------------------------------------
def _circ_sql(d: Dialect, events: str) -> str:
    if d.name == "spark":
        sod = "hour(ts) * 3600 + minute(ts) * 60 + second(ts)"
    else:
        sod = "EXTRACT(hour FROM ts) * 3600 + EXTRACT(minute FROM ts) * 60 + EXTRACT(second FROM ts)"
    return f"""
WITH pts AS (
  SELECT event_type,
         -- second-of-day as an angle; per-row libm cos/sin quantized to
         -- nano-units BEFORE summation (order-free; the one libm crossing)
         CAST(ROUND(COS(({sod}) * 2 * PI() / 86400.0) * 1000000000) AS BIGINT) AS cx,
         CAST(ROUND(SIN(({sod}) * 2 * PI() / 86400.0) * 1000000000) AS BIGINT) AS cy
  FROM {events}
),
agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cx) AS BIGINT) AS sx, CAST(SUM(cy) AS BIGINT) AS sy
  FROM pts GROUP BY event_type
)
SELECT event_type, n,
       ROUND(
         (CASE WHEN ATAN2(CAST(sy AS DOUBLE), CAST(sx AS DOUBLE)) < 0
               THEN ATAN2(CAST(sy AS DOUBLE), CAST(sx AS DOUBLE)) + 2 * PI()
               ELSE ATAN2(CAST(sy AS DOUBLE), CAST(sx AS DOUBLE)) END)
         * 86400.0 / (2 * PI()) / 3600.0, 6) AS mean_hour,
       ROUND(SQRT(CAST(sx AS DOUBLE) * sx + CAST(sy AS DOUBLE) * sy) / n
             / 1000000000, 6) AS resultant_r,
       ROUND(CAST(n AS DOUBLE)
             * (SQRT(CAST(sx AS DOUBLE) * sx + CAST(sy AS DOUBLE) * sy) / n
                / 1000000000)
             * (SQRT(CAST(sx AS DOUBLE) * sx + CAST(sy AS DOUBLE) * sy) / n
                / 1000000000), 6) AS rayleigh_z
FROM agg ORDER BY event_type
"""


register_sql(
    "circular_time_profile",
    _circ_sql,
    ("events",),
    doc="Circular (directional) statistics of event time-of-day per type: "
    "the mean hour computed on the CIRCLE (23:00 and 01:00 average to "
    "midnight, not noon — the error every linear mean makes on clock "
    "data), the resultant length R (concentration: 0 = uniform over the "
    "day, 1 = a single spike) and the Rayleigh z = n*R^2 uniformity "
    "statistic.  Per-row cos/sin quantize to nano-unit integers before "
    "the sum (order-free aggregation; one libm crossing per row, same "
    "empirical contract as the freshness profile).",
    tags=("analytics", "timeseries", "stats"),
)


# --------------------------------------------------------------------------
# cohort LTV triangle (cohort quarter x quarters-since-acquisition)
# --------------------------------------------------------------------------
def _ltv_sql(d: Dialect, orders: str) -> str:
    div = "div" if d.name == "spark" else "//"
    # d1 is already a DATE, so it is not re-cast
    d1 = (
        "datediff(d1, to_date('1970-01-01'))"
        if d.name == "spark"
        else "datediff('day', DATE '1970-01-01', d1)"
    )
    qnum_d1 = f"{d1} {div} 91"
    qnum_o = f"{d.epoch_day('o.o_orderdate')} {div} 91"
    return f"""
WITH firsts AS (
  SELECT o_custkey AS ck, MIN(CAST(o_orderdate AS DATE)) AS d1
  FROM {orders} GROUP BY o_custkey
),
cohorts AS (
  SELECT ck, CAST({qnum_d1} AS BIGINT) AS cohort_q FROM firsts
),
facts AS (
  SELECT c.cohort_q,
         CAST({qnum_o} AS BIGINT) - c.cohort_q AS age_q,
         CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0)) AS cents
  FROM {orders} o JOIN cohorts c ON c.ck = o.o_custkey
),
size_ AS (SELECT cohort_q, CAST(COUNT(*) AS BIGINT) AS n_cust FROM cohorts GROUP BY cohort_q),
cell AS (
  SELECT cohort_q, age_q,
         CAST(SUM(cents) AS BIGINT) AS rev_cents,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM facts GROUP BY cohort_q, age_q
)
SELECT c.cohort_q, c.age_q, s.n_cust, c.n_orders,
       ROUND(CAST(c.rev_cents AS DOUBLE) / 100, 6) AS revenue,
       ROUND(CAST(c.rev_cents AS DOUBLE) / s.n_cust / 100, 6) AS rev_per_cohort_cust
FROM cell c JOIN size_ s ON s.cohort_q = c.cohort_q
ORDER BY c.cohort_q, c.age_q
"""


register_sql(
    "cohort_ltv_triangle",
    _ltv_sql,
    ("orders",),
    doc="Cohort LTV triangle: acquisition-quarter x quarters-since-"
    "acquisition revenue matrix with per-cohort-member normalization — "
    "the finance view of customer lifetime value (each cohort row reads "
    "as its cumulative monetization curve; diagonal = calendar).  "
    "Quarter = epoch-day div 91 (timezone/locale-free, same idiom as the "
    "week buckets).  One first-order aggregate, one fact join "
    "co-partitioned on custkey, exact cents; output bounded by "
    "quarters^2 / 2.  Completes the cohort family: retention_cohorts "
    "(presence), growth_accounting_weekly (flows), this (value).",
    tags=("analytics", "cohort", "agg"),
)
