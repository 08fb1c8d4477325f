"""TPC-H completion suite: the 11 classic query shapes the registry did not
yet cover (Q2, Q8, Q9, Q11, Q13, Q15, Q17, Q19, Q20, Q21, Q22), adapted to
the driver's schema (no partsupp / c_phone / l_commitdate — each adaptation
keeps the PLAN SHAPE that makes the query a benchmark classic and swaps only
the columns).

Why these matter for the engine: together they exercise every remaining
Catalyst decorrelation / subquery-planning path —

- Q2 / Q17: correlated SCALAR subqueries (per-group min / 0.2*avg) that
  Catalyst decorrelates into an aggregate + join;
- Q11: scalar-subquery HAVING threshold against the same derived relation;
- Q13: left-outer join + grouped histogram of group sizes;
- Q15: equality against a scalar MAX over a derived view;
- Q19: OR-of-conjuncts join predicate (DPP/pushdown stress);
- Q20: nested IN (semi join against a grouped HAVING relation);
- Q21: EXISTS / NOT EXISTS multi-self-join — registered Spark form is the
  hand-decorrelated per-(order, supplier) aggregate (one shuffle instead of
  three correlated re-scans of the fact table; the scale-right plan at
  100 TB) while the ORACLE runs the classic correlated form, so the
  equivalence of the two formulations is itself cross-checked;
- Q22: anti join + scalar average threshold, compared in exact decimal via
  multiply-through (c_acctbal * n > total) so no engine-specific decimal
  AVG precision rule can flip a boundary row.

Hash-stability: money math goes through exact DECIMAL casts before SUM
(order-independent, bit-identical across engines); genuinely fractional
outputs are rounded to 6 decimals on both sides; Q11 compares in integer
1e-4 units (BIGINT both engines).  All adaptations are driver-schema
riffs on the public TPC-H spec (transaction processing council, rev 3.x).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dialect import Dialect
from ..registry import register, register_sql
from ..sources.tables import load_table, table_view


def _dec(col: str, prec: int = 18, scale: int = 2) -> F.Column:
    return F.col(col).cast(f"decimal({prec},{scale})")


# ---------------------------------------------------------------------------
# Q2 — min-cost supplier (correlated scalar MIN).
# Adaptation: no partsupp, so the (part, supplier) cost relation is derived
# from lineitem as MIN(l_extendedprice) per pair — the correlated-subquery
# plan shape (per-part min over an eligible-supplier relation referenced
# twice) is untouched.  Scale: the supply CTE aggregates lineitem BEFORE any
# dim join (map-side combinable, one shuffle on (partkey, suppkey)); the
# correlated MIN decorrelates to a per-part aggregate joined back.
# ---------------------------------------------------------------------------
_Q2_ELIGIBLE_SQL = """
WITH supply AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS supplycost
  FROM {lineitem} GROUP BY l_partkey, l_suppkey
)
SELECT sp.partkey, sp.suppkey, sp.supplycost, s.s_name, s.s_acctbal, n.n_name
FROM supply sp
JOIN {supplier} s ON s.s_suppkey = sp.suppkey
JOIN {nation} n ON n.n_nationkey = s.s_nationkey
JOIN {region} r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'EUROPE'
"""

_Q2_PART_PRED = "p_size <= 10 AND p_type = 'SMALL'"

_Q2_SQL = f"""
WITH eligible AS ({{eligible}})
SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_name,
       CAST(e.supplycost AS DOUBLE) AS supplycost
FROM {{part}} p JOIN eligible e ON p.p_partkey = e.partkey
WHERE {_Q2_PART_PRED}
  AND e.supplycost = (SELECT MIN(e2.supplycost) FROM eligible e2
                      WHERE e2.partkey = p.p_partkey)
ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p.p_partkey
LIMIT 100
"""


@register(
    "q2_min_cost_supplier",
    oracle=_Q2_SQL.format(
        eligible=_Q2_ELIGIBLE_SQL.format(
            lineitem="lineitem", supplier="supplier", nation="nation",
            region="region",
        ),
        part="part",
    ),
    doc="TPC-H Q2 shape: correlated scalar MIN subquery over an "
    "eligible-supplier relation referenced twice (Catalyst decorrelates "
    "to per-part aggregate + join); supply costs derived from lineitem "
    "pre-aggregated before any dim join.",
    tags=("relational", "subquery", "tpch"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import materialize_once

    v = {
        t: table_view(spark, sf_dir, t)
        for t in ("lineitem", "supplier", "nation", "region", "part")
    }
    # Materialize the eligible (part, supplier, cost) relation once,
    # pre-filtered to qualifying parts (guide §3.2/§3.3): the correlated
    # scalar MIN referenced `eligible` twice, re-running the lineitem
    # aggregate + 3-dim join per reference; the semi-filter on the
    # selective part predicate shrinks the checkpoint at any scale and
    # cannot change the result — both references are keyed on the
    # filtered part set.  The oracle keeps the unfiltered two-reference
    # form.
    eligible = materialize_once(
        spark,
        _Q2_ELIGIBLE_SQL.format(**v)
        + f" AND sp.partkey IN (SELECT p_partkey FROM {v['part']} WHERE {_Q2_PART_PRED})",
        "q2_elig",
        key=sf_dir,
    )
    return spark.sql(
        _Q2_SQL.format(eligible=f"SELECT * FROM {eligible}", part=v["part"])
    )


# ---------------------------------------------------------------------------
# Q8 — national market share.  7-way join (3 broadcast dims), conditional
# decimal aggregation, per-year share ratio.
# ---------------------------------------------------------------------------
def _q8_sql(
    d: Dialect, lineitem: str, part: str, orders: str, customer: str, nation: str,
    region: str, supplier: str,
) -> str:
    return f"""
SELECT EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
       ROUND(
         CAST(SUM(CASE WHEN n2.n_name = 'NATION_7'
                       THEN CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(8,2)))
                       ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
         / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(8,2)))) AS DOUBLE),
         6) AS mkt_share
FROM {lineitem} l
JOIN {part} p     ON p.p_partkey = l.l_partkey
JOIN {orders} o   ON o.o_orderkey = l.l_orderkey
JOIN {customer} c ON c.c_custkey = o.o_custkey
JOIN {nation} n1  ON n1.n_nationkey = c.c_nationkey
JOIN {region} r   ON r.r_regionkey = n1.n_regionkey
JOIN {supplier} s ON s.s_suppkey = l.l_suppkey
JOIN {nation} n2  ON n2.n_nationkey = s.s_nationkey
WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY EXTRACT(YEAR FROM o.o_orderdate)
ORDER BY o_year
"""


register_sql(
    "q8_market_share",
    _q8_sql,
    ("lineitem", "part", "orders", "customer", "nation", "region", "supplier"),
    doc="TPC-H Q8 shape: market share of one supplier nation within a "
    "customer region by order year — 7-way join where every dim "
    "(part/customer/nation x2/region/supplier) broadcasts, conditional "
    "exact-decimal volume sums, share = ratio of the two.",
    tags=("relational", "join", "tpch"),
)


# ---------------------------------------------------------------------------
# Q9 — profit by supplier nation and year.  Adaptation: no ps_supplycost, so
# cost proxy = 0.5 * p_retailprice * l_quantity (exact decimal); the 5-way
# join + expression + (nation, year) aggregation shape is untouched.
# ---------------------------------------------------------------------------
def _q9_sql(d: Dialect, lineitem: str, part: str, supplier: str, orders: str, nation: str) -> str:
    return f"""
SELECT n.n_name AS nation, EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
       CAST(SUM(
         CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(8,2)))
         - CAST(0.5 AS DECIMAL(2,1)) * CAST(p.p_retailprice AS DECIMAL(12,2)) * CAST(l.l_quantity AS DECIMAL(8,0))
       ) AS DOUBLE) AS sum_profit
FROM {lineitem} l
JOIN {part} p     ON p.p_partkey = l.l_partkey
JOIN {supplier} s ON s.s_suppkey = l.l_suppkey
JOIN {orders} o   ON o.o_orderkey = l.l_orderkey
JOIN {nation} n   ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%gear%'
GROUP BY n.n_name, EXTRACT(YEAR FROM o.o_orderdate)
ORDER BY nation, o_year DESC
"""


register_sql(
    "q9_profit_by_nation_year",
    _q9_sql,
    ("lineitem", "part", "supplier", "orders", "nation"),
    doc="TPC-H Q9 shape: profit (revenue minus exact-decimal cost proxy — "
    "no partsupp in this schema, cost = 0.5*retail*qty) per supplier "
    "nation per order year; part filter LIKE '%gear%' pushes to the scan, "
    "dims broadcast, one (nation, year) shuffle.",
    tags=("relational", "join", "tpch"),
)


# ---------------------------------------------------------------------------
# Q11 — important part value (scalar-subquery threshold over the same
# derived relation).  Exactness: per-line revenue is materialized in integer
# 1e-4 units (BIGINT), so the threshold compare (v*1000 > total) is pure
# integer arithmetic in both engines — no decimal AVG/precision rule can
# flip a boundary part.
# ---------------------------------------------------------------------------
def _q11_sql(d: Dialect, lineitem: str, supplier: str, nation: str) -> str:
    return f"""
WITH part_value AS (
  SELECT l.l_partkey AS partkey,
         SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(8,2))) * 10000 AS BIGINT)) AS vu
  FROM {lineitem} l
  JOIN {supplier} s ON s.s_suppkey = l.l_suppkey
  JOIN {nation} n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
  GROUP BY l.l_partkey
)
SELECT partkey, CAST(ROUND(CAST(vu AS DOUBLE) / 10000, 4) AS DOUBLE) AS part_value
FROM part_value
WHERE vu * 1000 > (SELECT SUM(vu) FROM part_value)
ORDER BY part_value DESC, partkey
"""


register_sql(
    "q11_important_part_value",
    _q11_sql,
    ("lineitem", "supplier", "nation"),
    doc="TPC-H Q11 shape: per-part value vs a scalar-subquery fraction of "
    "the grand total over the SAME derived relation (planned as one "
    "aggregate reused twice + broadcast scalar); integer-unit compare "
    "(vu*1000 > total) keeps the threshold exact cross-engine.",
    tags=("relational", "subquery", "tpch"),
)


# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution (left outer join histogram).
# ---------------------------------------------------------------------------
def _q13_sql(d: Dialect, customer: str, orders: str) -> str:
    return f"""
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM {customer} c
  LEFT JOIN {orders} o ON o.o_custkey = c.c_custkey
                    AND o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
  GROUP BY c.c_custkey
) pc
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


register_sql(
    "q13_customer_order_distribution",
    _q13_sql,
    ("customer", "orders"),
    doc="TPC-H Q13 shape: LEFT OUTER join with an extra join-side predicate "
    "(kept in the join condition, NOT a post-filter — zero-order customers "
    "must survive), per-customer counts, then the distribution of counts. "
    "All-integer, exact.",
    tags=("relational", "outer-join", "tpch"),
)


# ---------------------------------------------------------------------------
# Q15 — top supplier (scalar MAX over a derived revenue view; exact-decimal
# equality keeps "ties all returned" deterministic cross-engine).
# ---------------------------------------------------------------------------
def _q15_sql(d: Dialect, lineitem: str, supplier: str) -> str:
    return f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,2)))) AS total_revenue
  FROM {lineitem}
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(r.total_revenue AS DOUBLE) AS total_revenue
FROM {supplier} s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s.s_suppkey
"""


register_sql(
    "q15_top_revenue_supplier",
    _q15_sql,
    ("lineitem", "supplier"),
    doc="TPC-H Q15 shape: quarterly revenue view, suppliers whose revenue "
    "equals the scalar MAX over that view (view computed once, scalar "
    "broadcast back); exact-decimal equality so ties are engine-stable.",
    tags=("relational", "subquery", "tpch"),
)


# ---------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (correlated scalar AVG).  l_quantity is
# integral by construction, so 0.2*AVG is identical IEEE math in both
# engines (exact integer sum / exact count).
# ---------------------------------------------------------------------------
def _q17_sql(d: Dialect, lineitem: str, part: str) -> str:
    return f"""
SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) / 7.0, 6) AS DOUBLE) AS avg_yearly
FROM {lineitem} l JOIN {part} p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#13' AND p.p_type = 'MEDIUM'
  AND l.l_quantity < (
    SELECT 0.2 * AVG(l2.l_quantity) FROM {lineitem} l2
    WHERE l2.l_partkey = p.p_partkey)
"""


register_sql(
    "q17_small_quantity_revenue",
    _q17_sql,
    ("lineitem", "part"),
    doc="TPC-H Q17 shape: correlated scalar AVG per part (decorrelated to "
    "a per-part aggregate + join — the fact table is scanned twice but "
    "never re-scanned per row), single-row global answer.",
    tags=("relational", "subquery", "tpch"),
)


# ---------------------------------------------------------------------------
# Q19 — OR-of-conjuncts join predicate.  Catalyst extracts the common
# p_partkey equi-condition so the join stays a hash join; the disjunction
# becomes a residual filter (and the p_brand IN superset pushes to the part
# scan).
# ---------------------------------------------------------------------------
def _q19_sql(d: Dialect, lineitem: str, part: str) -> str:
    return f"""
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue
FROM {lineitem} l JOIN {part} p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5  AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10 AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 20 AND 30)
"""


register_sql(
    "q19_disjunctive_brand_revenue",
    _q19_sql,
    ("lineitem", "part"),
    doc="TPC-H Q19 shape: three OR'd conjunct groups mixing build-side "
    "(brand/size) and probe-side (quantity) predicates — the equi-join "
    "key is still extracted (hash join, not nested loop) and the "
    "disjunction evaluates as a residual.",
    tags=("relational", "join", "tpch"),
)


# ---------------------------------------------------------------------------
# Q20 — excess-supply suppliers (nested IN: semi join against a grouped
# HAVING relation).  Adaptation: "excess stock" = supplied > 50 units of a
# 'small%' part in 1996, derived from lineitem.
# ---------------------------------------------------------------------------
@register(
    "q20_excess_supply_suppliers",
    oracle="""
SELECT s.s_suppkey, s.s_name
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE n.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
  AND s.s_suppkey IN (
    SELECT l.l_suppkey
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_name LIKE 'small%'
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l.l_suppkey, l.l_partkey
    HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,2))) > 50
  )
ORDER BY s.s_suppkey
""",
    doc="TPC-H Q20 shape: nested IN — the inner relation aggregates "
    "(supplier, part) shipments over a filtered year with a HAVING "
    "threshold, the outer is a semi join against its distinct suppkeys; "
    "lineitem aggregates before the semi join, so the probe relation is "
    "tiny.",
    tags=("relational", "semi-join", "tpch"),
)
def q20_excess_supply_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3", "NATION_4")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").where(F.col("p_name").like("small%"))
    excess = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(_dec("l_quantity")).alias("q"))
        .where(F.col("q") > 50)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(excess, supp.s_suppkey == excess.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting.  Adaptation: "late" =
# l_shipdate > o_orderdate + 30 days (no l_commitdate/l_receiptdate).
# The ORACLE runs the classic correlated EXISTS / NOT EXISTS form; the
# registered Spark query is the hand-decorrelated per-(order, supplier)
# aggregate — at 100 TB that is one shuffle of (orderkey, suppkey, late)
# instead of three correlated self-scans of the fact table, and the driver's
# value-hash equality between the two formulations is itself the proof they
# are the same query.
# ---------------------------------------------------------------------------
@register(
    "q21_waiting_suppliers",
    oracle="""
SELECT s.s_name, COUNT(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 100
""",
    doc="TPC-H Q21 shape: the sole-late-supplier-in-a-multi-supplier-order "
    "query. Oracle = classic EXISTS/NOT-EXISTS self-joins; Spark form = "
    "decorrelated per-(order, supplier) lateness aggregate (n_supps > 1, "
    "exactly one late supplier, count that supplier's late lines) — one "
    "fact shuffle instead of three correlated re-scans.",
    tags=("relational", "exists", "tpch"),
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")
    # one pass over the joined fact: per (order, supplier) late-line counts
    per_os = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.sum(F.when(late, 1).otherwise(0)).alias("n_late_lines"))
    )
    # per order: how many suppliers, how many of them were late — as
    # WINDOWS over the same relation instead of a groupBy + join-back,
    # which planned per_os (and its lineitem-join-orders subtree) TWICE
    # (guide §2.4: two operations keyed the same way share one exchange;
    # the r13 apss window trick).  Exact integer counts either way.
    from pyspark.sql import Window

    w = Window.partitionBy("l_orderkey")
    waiting = (
        per_os.withColumn("n_supps", F.count(F.lit(1)).over(w))
        .withColumn(
            "n_late_supps",
            F.sum(F.when(F.col("n_late_lines") > 0, 1).otherwise(0)).over(w),
        )
        .where(
            (F.col("n_late_lines") > 0)
            & (F.col("n_supps") > 1)
            & (F.col("n_late_supps") == 1)
        )
        .select("l_suppkey", "n_late_lines")
    )
    return (
        waiting.join(F.broadcast(supp), waiting.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("n_late_lines").cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q22 — dormant high-balance customers.  Adaptation: country code ->
# c_nationkey (no c_phone).  The scalar-average threshold compares in exact
# decimal via multiply-through (bal * n > total), so no decimal-AVG
# precision rule can flip a boundary customer.
# ---------------------------------------------------------------------------
def _q22_sql(d: Dialect, customer: str, orders: str) -> str:
    return f"""
WITH pos AS (
  SELECT SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS tot, COUNT(*) AS n
  FROM {customer} WHERE c_acctbal > 0.0
)
SELECT c.c_nationkey AS cntrycode,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
FROM {customer} c CROSS JOIN pos
WHERE CAST(c.c_acctbal AS DECIMAL(12,2)) * pos.n > pos.tot
  AND NOT EXISTS (SELECT 1 FROM {orders} o WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c.c_nationkey
ORDER BY cntrycode
"""


register_sql(
    "q22_dormant_high_balance",
    _q22_sql,
    ("customer", "orders"),
    doc="TPC-H Q22 shape: customers above the positive-balance average "
    "(scalar subquery, broadcast one-row CROSS JOIN) with no orders in "
    "the recent window (NOT EXISTS anti join on a filtered orders scan), "
    "grouped by nation; threshold compared "
    "multiply-through in exact decimal.",
    tags=("relational", "anti-join", "tpch"),
)
