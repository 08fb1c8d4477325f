"""Relational core: scans, filters, joins (broadcast/semi/anti), aggregations
(incl. rollup/cube/pivot/nesting), windows, sorts/limits/top-k, set ops.

The reference's relational surface is tiny (point lookups, a class-keyed
pivot, include/exclude set logic — SURVEY.md §2 ops 4, 13, 41, 47–49); the
engine generalizes each into the full Spark operator family and exercises it
over the driver's TPC-H-ish testdata.

Scale notes (100 TB):
- dims (region/nation/customer/supplier/part) are broadcast — no shuffle of
  the fact side for lookup joins (reference does one RPC per probe,
  s3_dynamodb_utils.py:22-24; here one broadcast hash table per executor);
- every groupBy is a partial (map-side) aggregation first — Catalyst does
  this automatically for sum/count/min/max;
- top-k uses orderBy+limit which Spark executes as per-partition TakeOrdered
  (no global sort/shuffle of the full data);
- window functions partition by high-cardinality keys (custkey), so state
  per key is tiny and the shuffle is well-spread.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dialect import Dialect
from ..registry import register, register_sql
from ..sources.tables import load_table


def _dec(col: str, prec: int = 18, scale: int = 2) -> F.Column:
    """Exact-decimal view of a double column (hash-stable aggregation)."""
    return F.col(col).cast(f"decimal({prec},{scale})")


# ---------------------------------------------------------------------------
# Q1 — flagship pricing summary (TPC-H Q1 shape).
# Scan → filter (pushed to parquet) → groupBy low-cardinality keys → exact
# decimal partial aggregation.  One shuffle of ~6 groups; trivially scales.
# l_discount/l_tax are 2-decimal by construction; scale-2 casts keep the
# double products exact under DuckDB's precision-18 multiply cap.
# ---------------------------------------------------------------------------
def _q1_sql(d: Dialect, lineitem: str) -> str:
    return f"""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,2))) * (1 + CAST(l_tax AS DECIMAL(8,2)))) AS DOUBLE) AS sum_charge,
  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
  COUNT(*) AS count_order
FROM {lineitem}
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


register_sql(
    "q1_pricing_summary",
    _q1_sql,
    ("lineitem",),
    doc="Flagship: filtered scan + multi-measure exact-decimal aggregation "
    "(generalizes the reference's per-shop price summarization surface).",
    tags=("agg", "filter", "flagship"),
)


# ---------------------------------------------------------------------------
# Q3 shape — join fact to two dims, aggregate, top-k by measure.
# customer is broadcast; orders⋈lineitem shuffles on orderkey (co-partitioned).
# ---------------------------------------------------------------------------
@register(
    "q3_top_unshipped_revenue",
    oracle="""
SELECT
  l_orderkey,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS revenue,
  o_orderdate,
  o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    doc="Join + agg + top-k (TPC-H Q3 shape); dims broadcast, deterministic "
    "tie-break on orderkey.",
    tags=("join", "agg", "topk"),
)
def q3_top_unshipped_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    revenue = _dec("l_extendedprice", 12, 2) * (F.lit(1) - _dec("l_discount", 8, 4))
    return (
        li.join(
            orders.join(cust, orders.o_custkey == cust.c_custkey),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q5 shape — multi-way join through the star schema, revenue per nation.
# All four dims broadcast; the only shuffle is lineitem⋈orders + final agg.
# ---------------------------------------------------------------------------
@register(
    "q5_revenue_by_nation",
    oracle="""
SELECT
  n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
    doc="Star-schema multi-join (local-supplier revenue, TPC-H Q5 shape); "
    "nation/region/supplier/customer all broadcast.",
    tags=("join", "agg"),
)
def q5_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    revenue = _dec("l_extendedprice", 12, 2) * (F.lit(1) - _dec("l_discount", 8, 4))
    return (
        # customer/supplier scale with the fact tables (~15B/1.5B rows at
        # 100 TB) — no forced broadcast; AQE chooses from actual sizes.
        # region/nation are true fixed-size dims and keep their hints.
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


# ---------------------------------------------------------------------------
# op 4 — DynamoDB point-lookup generalized to a broadcast hash lookup join.
# Reference does one RPC per probe key (s3_dynamodb_utils.py:22-24); here the
# dim ships once per executor and probes are hash lookups.
# ---------------------------------------------------------------------------
def _broadcast_lookup_sql(d: Dialect, orders: str, customer: str) -> str:
    return f"""
SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
FROM {orders}
JOIN {customer} ON o_custkey = c_custkey
WHERE o_orderpriority = '1-URGENT' AND o_orderdate >= TIMESTAMP '1998-01-01'
ORDER BY o_orderkey
"""


register_sql(
    "broadcast_lookup_join",
    _broadcast_lookup_sql,
    ("orders", "customer"),
    doc="Point-lookup join (reference op 4: DynamoDB get_item per key) as a "
    "broadcast hash equi-join.",
    tags=("join", "broadcast"),
)


# ---------------------------------------------------------------------------
# op 48 — include-set membership as LEFT SEMI join.
# ---------------------------------------------------------------------------
@register(
    "semi_join_active_customers",
    oracle="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey IN (
  SELECT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '2001-01-01'
)
ORDER BY c_custkey
""",
    doc="Include-shops preference (reference op 48) as left-semi join.",
    tags=("join", "semi"),
)
def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    recent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# op 48 — exclude-set membership as LEFT ANTI join.
# ---------------------------------------------------------------------------
@register(
    "anti_join_dormant_customers",
    oracle="""
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE c_custkey NOT IN (
  SELECT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '2001-01-01' AND o_custkey IS NOT NULL
)
ORDER BY c_custkey
""",
    doc="Exclude-shops preference (reference op 48) as left-anti join.",
    tags=("join", "anti"),
)
def anti_join_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    recent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Global top-k: Spark executes orderBy+limit as TakeOrdered (per-partition
# heap + driver merge of k rows), never a full sort at scale.
# ---------------------------------------------------------------------------
@register(
    "topk_orders_global",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 15
""",
    doc="Global top-k with deterministic tie-break (reference op 30 min/max "
    "pairing generalized).",
    tags=("sort", "topk"),
)
def topk_orders_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Top-k per group via ranking window (reference op 41 last-wins generalized).
# ---------------------------------------------------------------------------
def _topk_per_segment_sql(d: Dialect, orders: str, customer: str) -> str:
    return f"""
SELECT c_mktsegment, o_orderkey, o_totalprice, rn
FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM {orders} JOIN {customer} ON o_custkey = c_custkey
) t
WHERE rn <= 3
ORDER BY c_mktsegment, rn
"""


register_sql(
    "topk_orders_per_segment",
    _topk_per_segment_sql,
    ("orders", "customer"),
    doc="Per-group top-k via row_number ranking window.",
    tags=("window", "topk"),
)


# ---------------------------------------------------------------------------
# Analytic window: running total per customer (exact decimal, deterministic
# frame order).
# ---------------------------------------------------------------------------
def _running_total_sql(d: Dialect, orders: str) -> str:
    return f"""
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
FROM {orders}
WHERE o_custkey < 50
ORDER BY o_custkey, o_orderkey
"""


register_sql(
    "window_running_total",
    _running_total_sql,
    ("orders",),
    doc="Cumulative-frame analytic window (running spend per customer).",
    tags=("window",),
)


# ---------------------------------------------------------------------------
# lag/lead analytics: order-over-order delta per customer.
# ---------------------------------------------------------------------------
def _lag_lead_sql(d: Dialect, orders: str) -> str:
    return f"""
SELECT o_custkey, o_orderkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) -
            LAG(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS delta_prev,
       LEAD(o_orderkey) OVER w AS next_orderkey
FROM {orders}
WHERE o_custkey < 50
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderkey
"""


register_sql(
    "window_lag_lead_delta",
    _lag_lead_sql,
    ("orders",),
    doc="lag/lead analytic windows (order-over-order spend delta).",
    tags=("window",),
)


# ---------------------------------------------------------------------------
# ROLLUP — subtotal hierarchy (engine-side extension; reference has only flat
# groupBy).  NULL group keys are coalesced to 'ALL' for hash stability.
# ---------------------------------------------------------------------------
@register(
    "rollup_returnflag_status",
    oracle="""
SELECT
  COALESCE(l_returnflag, 'ALL') AS returnflag,
  COALESCE(l_linestatus, 'ALL') AS linestatus,
  COUNT(*) AS n_rows,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
""",
    doc="Hierarchical subtotals via ROLLUP.",
    tags=("agg", "rollup"),
)
def rollup_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n_rows"), F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_rows",
            "sum_qty",
        )
        .orderBy("returnflag", "linestatus")
    )


# ---------------------------------------------------------------------------
# CUBE — all grouping combinations.
# ---------------------------------------------------------------------------
def _cube_sql(d: Dialect, orders: str) -> str:
    return f"""
SELECT
  COALESCE(o_orderstatus, 'ALL') AS orderstatus,
  COALESCE(o_orderpriority, 'ALL') AS orderpriority,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM {orders}
GROUP BY CUBE(o_orderstatus, o_orderpriority)
ORDER BY orderstatus, orderpriority
"""


register_sql(
    "cube_status_priority",
    _cube_sql,
    ("orders",),
    doc="Full grouping-combination aggregation via CUBE.",
    tags=("agg", "cube"),
)


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS (beyond rollup/cube): chosen subtotal combinations.
# ---------------------------------------------------------------------------
def _grouping_sets_sql(d: Dialect, lineitem: str, orders: str) -> str:
    return f"""
SELECT
  COALESCE(l_returnflag, 'ALL') AS returnflag,
  COALESCE(o_orderpriority, 'ALL') AS orderpriority,
  COUNT(*) AS n_rows,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM {lineitem} JOIN {orders} ON l_orderkey = o_orderkey
GROUP BY GROUPING SETS ((l_returnflag), (o_orderpriority))
ORDER BY returnflag, orderpriority
"""


register_sql(
    "grouping_sets_flag_priority",
    _grouping_sets_sql,
    ("lineitem", "orders"),
    doc="Explicit GROUPING SETS: two independent subtotal dimensions in one "
    "pass over the join.",
    tags=("agg", "grouping-sets"),
)


# ---------------------------------------------------------------------------
# Correlated scalar subquery (optimizer surface: decorrelation to join).
# ---------------------------------------------------------------------------
def _correlated_max_sql(d: Dialect, customer: str, orders: str) -> str:
    return f"""
SELECT c_custkey, c_name,
       (SELECT CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        FROM {orders} WHERE o_custkey = c_custkey) AS max_order_price
FROM {customer}
WHERE c_custkey < 100
ORDER BY c_custkey
"""


register_sql(
    "correlated_max_order",
    _correlated_max_sql,
    ("customer", "orders"),
    doc="Correlated scalar subquery (Catalyst decorrelates it into an "
    "aggregate + left join — same shape the reference's per-key point "
    "lookups collapse into at scale).",
    tags=("subquery", "join"),
)


# ---------------------------------------------------------------------------
# Distribution analytics: ntile / percent_rank / cume_dist.
# ---------------------------------------------------------------------------
def _distribution_ranks_sql(d: Dialect, orders: str) -> str:
    return f"""
SELECT o_orderkey,
       NTILE(4) OVER w AS quartile,
       CAST(ROUND(PERCENT_RANK() OVER w, 6) AS DOUBLE) AS pct_rank,
       CAST(ROUND(CUME_DIST() OVER w, 6) AS DOUBLE) AS cume
FROM {orders}
WHERE o_custkey < 30
WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
ORDER BY o_orderkey
"""


register_sql(
    "window_distribution_ranks",
    _distribution_ranks_sql,
    ("orders",),
    doc="Distribution window functions (ntile/percent_rank/cume_dist) with "
    "a deterministic total order.",
    tags=("window",),
)


# ---------------------------------------------------------------------------
# Set operations: UNION / INTERSECT / EXCEPT over customer key sets.
# ---------------------------------------------------------------------------
@register(
    "set_ops_customer_cohorts",
    oracle="""
WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
     rich     AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
     urgent   AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
SELECT 'building_and_rich' AS cohort, c_custkey FROM (SELECT * FROM building INTERSECT SELECT * FROM rich)
UNION ALL
SELECT 'building_not_urgent' AS cohort, c_custkey FROM (SELECT * FROM building EXCEPT SELECT * FROM urgent)
UNION ALL
SELECT 'rich_or_urgent' AS cohort, c_custkey FROM (SELECT * FROM rich UNION SELECT * FROM urgent)
ORDER BY cohort, c_custkey
""",
    doc="UNION/INTERSECT/EXCEPT cohort algebra (reference op 48 include/"
    "exclude sets generalized).",
    tags=("setop",),
)
def set_ops_customer_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    building = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = cust.where(F.col("c_acctbal") > 5000).select("c_custkey")
    urgent = (
        orders.where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    out = (
        building.intersect(rich).select(F.lit("building_and_rich").alias("cohort"), "c_custkey")
        .unionAll(
            building.exceptAll(urgent)
            .distinct()
            .select(F.lit("building_not_urgent").alias("cohort"), "c_custkey")
        )
        .unionAll(rich.union(urgent).distinct().select(F.lit("rich_or_urgent").alias("cohort"), "c_custkey"))
    )
    return out.orderBy("cohort", "c_custkey")


# ---------------------------------------------------------------------------
# Projection + distinct.
# ---------------------------------------------------------------------------
def _distinct_segment_nation_sql(d: Dialect, customer: str, nation: str) -> str:
    return f"""
SELECT DISTINCT c_mktsegment, n_name
FROM {customer} JOIN {nation} ON c_nationkey = n_nationkey
ORDER BY c_mktsegment, n_name
"""


register_sql(
    "distinct_segment_nation",
    _distinct_segment_nation_sql,
    ("customer", "nation"),
    doc="Column-pruned projection + distinct (dedup-exact shape on relational "
    "columns).",
    tags=("distinct",),
)


# ---------------------------------------------------------------------------
# HAVING — post-aggregation predicate (TPC-H Q18 shape).
# ---------------------------------------------------------------------------
@register(
    "having_large_orders",
    oracle="""
SELECT l_orderkey,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM lineitem
GROUP BY l_orderkey
HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
ORDER BY l_orderkey
""",
    doc="Aggregate + HAVING filter (large-volume orders, TPC-H Q18 shape).",
    tags=("agg", "having"),
)
def having_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("q"))
        .where(F.col("q") > 250)
        .select("l_orderkey", F.col("q").cast("double").alias("total_qty"))
        .orderBy("l_orderkey")
    )


# ---------------------------------------------------------------------------
# Disjunctive multi-clause predicates (TPC-H Q19 shape).
# ---------------------------------------------------------------------------
def _disjunctive_sql(d: Dialect, lineitem: str, part: str) -> str:
    return f"""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM {lineitem} JOIN {part} ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 5)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 10)
   OR (p_type LIKE '%BRASS%' AND l_quantity < 3)
"""


register_sql(
    "disjunctive_predicates",
    _disjunctive_sql,
    ("lineitem", "part"),
    doc="Disjunctive predicate evaluation over a join (TPC-H Q19 shape).",
    tags=("filter", "join"),
)


# ---------------------------------------------------------------------------
# Global-average subquery filter (TPC-H Q22 shape).
# ---------------------------------------------------------------------------
def _above_avg_sql(d: Dialect, customer: str) -> str:
    return f"""
SELECT c_custkey, c_acctbal
FROM {customer}
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM {customer} WHERE c_acctbal > 0)
ORDER BY c_custkey
"""


register_sql(
    "above_avg_balance_customers",
    _above_avg_sql,
    ("customer",),
    doc="Uncorrelated scalar-subquery filter (above-average balances, "
    "TPC-H Q22 shape) — one tiny broadcast of the aggregate.",
    tags=("subquery", "filter"),
)


# ---------------------------------------------------------------------------
# Date / math scalar-function suite (checklist: date + math functions).
# ---------------------------------------------------------------------------
def _date_math_sql(d: Dialect, orders: str) -> str:
    return f"""
SELECT
  CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
  CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS order_month,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
  CAST(ROUND(SQRT(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)), 6) AS DOUBLE) AS sqrt_avg_price,
  CAST(MIN(DATE_TRUNC('month', o_orderdate)) AS TIMESTAMP) AS month_start
FROM {orders}
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
GROUP BY 1, 2
ORDER BY order_year, order_month
"""


register_sql(
    "date_math_functions",
    _date_math_sql,
    ("orders",),
    doc="Date (extract/date_trunc) + math (sqrt/round) scalar functions in "
    "one aggregate pass.",
    tags=("scalar", "date", "math"),
)


# ---------------------------------------------------------------------------
# op 41 — class-keyed pivot with deterministic last-wins (max_by over event
# time), the exact shape of the reference's detection→wide-record fold
# (data_pipeline.py:104-144: multiple detections of one class → last wins).
# ---------------------------------------------------------------------------
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "pivot_last_event_value",
    oracle="""
SELECT user_id,
  ARG_MAX(CASE WHEN event_type='click'    THEN value END, ts) FILTER (WHERE event_type='click')    AS click,
  ARG_MAX(CASE WHEN event_type='error'    THEN value END, ts) FILTER (WHERE event_type='error')    AS error,
  ARG_MAX(CASE WHEN event_type='purchase' THEN value END, ts) FILTER (WHERE event_type='purchase') AS purchase,
  ARG_MAX(CASE WHEN event_type='signup'   THEN value END, ts) FILTER (WHERE event_type='signup')   AS signup,
  ARG_MAX(CASE WHEN event_type='view'     THEN value END, ts) FILTER (WHERE event_type='view')     AS view
FROM events
GROUP BY user_id
ORDER BY user_id
""",
    doc="Reference op 41: per-image class pivot with last-wins semantics, as "
    "groupBy().pivot().agg(max_by(value, ts)) — deterministic, unlike the "
    "reference's loop-order dependence.",
    tags=("pivot", "agg"),
)
def pivot_last_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.expr("max_by(value, ts)"))
        .orderBy("user_id")
    )


@register(
    "pivot_event_type_counts",
    oracle="""
SELECT user_id,
  COUNT(*) FILTER (WHERE event_type='click')    AS click,
  COUNT(*) FILTER (WHERE event_type='error')    AS error,
  COUNT(*) FILTER (WHERE event_type='purchase') AS purchase,
  COUNT(*) FILTER (WHERE event_type='signup')   AS signup,
  COUNT(*) FILTER (WHERE event_type='view')     AS view
FROM events
GROUP BY user_id
ORDER BY user_id
""",
    doc="Pivot to per-class counts (detection-count-by-class shape).",
    tags=("pivot", "agg"),
)
def pivot_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# op 13 — nesting aggregation (collect per-group lists).  The reference folds
# detections into map<class, list<struct>> (yolo_ocr_utils.py:108-167); here
# the list is canonicalized (sorted, joined) so the oracle hash is stable.
# ---------------------------------------------------------------------------
@register(
    "nested_collect_event_types",
    oracle="""
SELECT user_id,
       ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT event_type)), ',') AS event_types,
       COUNT(*) AS n_events
FROM events
GROUP BY user_id
ORDER BY user_id
""",
    doc="Reference op 13 nesting agg: collect_set(struct)-style fold, "
    "canonicalized for oracle comparison.",
    tags=("agg", "nested"),
)
def nested_collect_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("event_types"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# JSON extraction over events.props (the reference's XCom/to_json edge,
# op 6, done natively).
# ---------------------------------------------------------------------------
@register(
    "approx_distinct_users",
    oracle=None,  # HLL sketch estimates aren't oracle-reproducible; the
    # companion exact query distinct-counts are (see test_relational_extras)
    doc="Sketch aggregation: approx_count_distinct (HyperLogLog++) per "
    "event_type — constant memory per group at any scale; rows-only check, "
    "accuracy pinned by a tolerance test against the exact count.",
    tags=("agg", "sketch"),
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


@register(
    "json_extract_props",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(*) FILTER (WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NULL) AS n_null_k
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    doc="JSON path extraction from the props column (reference op 6 "
    "to_json/from_json edges done natively).",
    tags=("json",),
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("try_cast(get_json_object(props, '$.k') as bigint)")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.count(F.when(k.isNull(), 1)).alias("n_null_k"),
        )
        .orderBy("event_type")
    )


@register(
    "json_variant_props",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(*) FILTER (WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NULL) AS n_null_k
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    doc="VARIANT twin of json_extract_props (Spark 4 semi-structured type): "
    "try_parse_json parses each props value ONCE into the binary-encoded "
    "VARIANT, then typed paths read fields without re-parsing the string — "
    "the scale answer when multiple fields are extracted per row (string "
    "JSON pays a full parse per get_json_object call; VARIANT pays one "
    "parse per row, and Parquet VARIANT shredding pushes field reads into "
    "the scan).  Malformed/missing values degrade to NULL (try_ forms), "
    "matching the string path's semantics — same oracle, same results.",
    tags=("json", "variant"),
)
def json_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "v", F.try_parse_json("props")
    )
    k = F.try_variant_get("v", "$.k", "bigint")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.count(F.when(k.isNull(), 1)).alias("n_null_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# TPC-H shape suite (adapted to the driver schema: no commitdate/shipmode/
# partsupp columns, so each query keeps the CLASSIC PLAN SHAPE — the thing
# worth testing — over the columns that exist).
# ---------------------------------------------------------------------------
@register(
    "q4_late_orders_by_priority",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    doc="TPC-H Q4 shape: EXISTS-correlated subquery planned as a LEFT SEMI "
    "join on orderkey (never a per-row probe), date-range filter pushed to "
    "the orders scan, low-cardinality count aggregation.",
    tags=("relational", "semi-join", "subquery"),
)
def q4_late_orders_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def _q12_sql(d: Dialect, orders: str, lineitem: str) -> str:
    return f"""
SELECT l.l_linestatus,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM {orders} o JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l.l_linestatus
ORDER BY l.l_linestatus
"""


register_sql(
    "q12_priority_class_by_status",
    _q12_sql,
    ("orders", "lineitem"),
    doc="TPC-H Q12 shape: fact-fact equi-join on orderkey with the filter "
    "pushed to the lineitem scan, conditional (CASE) aggregation into "
    "pivot-style measure columns.",
    tags=("relational", "join", "conditional-agg"),
)


def _q14_sql(d: Dialect, lineitem: str, part: str) -> str:
    return f"""
SELECT ROUND(
         100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                   THEN CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(8,2)))
                   ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
         / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(8,2)))) AS DOUBLE),
         6) AS promo_revenue_pct
FROM {lineitem} l JOIN {part} p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1996-02-01'
"""


register_sql(
    "q14_promo_revenue_ratio",
    _q14_sql,
    ("lineitem", "part"),
    doc="TPC-H Q14 shape: dim join (part broadcasts) + conditional exact-"
    "decimal revenue ratio in a single global aggregate.",
    tags=("relational", "join", "conditional-agg"),
)


@register(
    "q16_supplier_variety",
    oracle="""
SELECT p.p_brand, p.p_type, COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_size IN (1, 2, 3, 4, 5)
  AND l.l_suppkey NOT IN (
    SELECT s.s_suppkey FROM supplier s WHERE s.s_name LIKE '%#1'
  )
GROUP BY p.p_brand, p.p_type
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type
""",
    doc="TPC-H Q16 shape: NOT-IN anti-join against a filtered dim, dim-"
    "attribute grouping with COUNT(DISTINCT) — the distinct shuffles "
    "(brand, type, suppkey) then re-aggregates (two-phase distinct count).",
    tags=("relational", "anti-join", "distinct-agg"),
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 2, 3, 4, 5)
    )
    excl = load_table(spark, sf_dir, "supplier").where(F.col("s_name").like("%#1"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(excl, li.l_suppkey == excl.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type")
    )


@register(
    "q18_large_volume_customers",
    oracle="""
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey
""",
    doc="TPC-H Q18 shape: IN-subquery over a grouped HAVING (planned as a "
    "semi join against the pre-aggregated orderkey set — lineitem "
    "aggregates BEFORE joining, so the big join input is one row per "
    "qualifying order, not per line), then the 3-way join and re-group.",
    tags=("relational", "semi-join", "having"),
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("q"))
        .where(F.col("q") > 300)
        .select("l_orderkey")
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
    )


@register(
    "full_outer_reconciliation",
    oracle="""
WITH a AS (
  SELECT o_custkey, COUNT(*) AS n_1994 FROM orders
  WHERE o_orderdate >= TIMESTAMP '1994-01-01' AND o_orderdate < TIMESTAMP '1995-01-01'
  GROUP BY o_custkey
),
b AS (
  SELECT o_custkey, COUNT(*) AS n_1995 FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
  GROUP BY o_custkey
)
SELECT COALESCE(a.o_custkey, b.o_custkey) AS custkey,
       COALESCE(a.n_1994, 0) AS n_1994,
       COALESCE(b.n_1995, 0) AS n_1995,
       CASE WHEN a.o_custkey IS NULL THEN 'only_1995'
            WHEN b.o_custkey IS NULL THEN 'only_1994'
            ELSE 'both' END AS presence
FROM a FULL OUTER JOIN b ON b.o_custkey = a.o_custkey
ORDER BY custkey
""",
    doc="Period-over-period reconciliation via FULL OUTER join: per-customer "
    "1994 vs 1995 order counts with coalesced keys and presence routing — "
    "the audit/diff shape (both sides pre-aggregated to one row per key "
    "BEFORE the join, so the wide join input is bounded by key cardinality, "
    "not fact rows).",
    tags=("relational", "join", "full-outer"),
)
def full_outer_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    def year_counts(y: int, alias: str) -> DataFrame:
        return (
            orders.where(
                (F.col("o_orderdate") >= f"{y}-01-01") & (F.col("o_orderdate") < f"{y + 1}-01-01")
            )
            .groupBy("o_custkey")
            .agg(F.count("*").alias(alias))
        )

    a = year_counts(1994, "n_1994").withColumnRenamed("o_custkey", "k_a")
    b = year_counts(1995, "n_1995").withColumnRenamed("o_custkey", "k_b")
    return (
        a.join(b, a.k_a == b.k_b, "full_outer")
        .select(
            F.coalesce("k_a", "k_b").alias("custkey"),
            F.coalesce("n_1994", F.lit(0)).alias("n_1994"),
            F.coalesce("n_1995", F.lit(0)).alias("n_1995"),
            F.when(F.col("k_a").isNull(), "only_1995")
            .when(F.col("k_b").isNull(), "only_1994")
            .otherwise("both")
            .alias("presence"),
        )
        .orderBy("custkey")
    )


def _hierarchy_sql(d: Dialect, table: str) -> str:
    """Recursive-CTE hierarchy walk (Spark 4.1's WITH RECURSIVE — UNION ALL
    form, which both engines share; Spark does not yet support UNION
    inside recursion, so the cyclic-graph closure stays the CC loop's job).
    A synthetic acyclic forest over customers: parent(custkey) =
    custkey div 10, roots are custkey < 10 — strictly decreasing, so depth
    is bounded by log10(max key) and recursion terminates by construction.
    Per-root rollup: members, max depth, exact-decimal balance total."""
    return f"""
WITH RECURSIVE chain (custkey, root, depth) AS (
  SELECT c_custkey, c_custkey, 0 FROM {table} WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, ch.root, ch.depth + 1
  FROM {table} c JOIN chain ch ON {d.idiv("c.c_custkey", "10")} = ch.custkey
  WHERE c.c_custkey >= 10
)
SELECT ch.root,
       COUNT(*) AS n_members,
       MAX(ch.depth) AS max_depth,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM chain ch JOIN {table} c ON c.c_custkey = ch.custkey
GROUP BY ch.root
ORDER BY ch.root
"""


register_sql(
    "recursive_hierarchy_rollup",
    _hierarchy_sql,
    ("customer",),
    doc="WITH RECURSIVE hierarchy walk (Spark 4.1 recursive CTE, UNION ALL "
    "form shared verbatim with the DuckDB oracle): an acyclic customer "
    "forest (parent = custkey div 10), per-root member count / max depth / "
    "exact-decimal balance rollup. Termination bounded by construction; "
    "the cyclic-graph closure remains connected_components' iterative job.",
    tags=("relational", "recursive", "hierarchy"),
)


# --------------------------------------------------------------------------
# event-transition matrix (first-order Markov chain over user sessions)
# --------------------------------------------------------------------------
def _transition_sql(d: Dialect, events: str) -> str:
    return f"""
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM {events}
),
trans AS (
  SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
  FROM seq WHERE next_type IS NOT NULL GROUP BY event_type, next_type
),
row_tot AS (
  SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot FROM trans GROUP BY from_type
)
SELECT t.from_type, t.to_type, CAST(t.n AS BIGINT) AS n_transitions,
       CAST(ROUND(t.n * 1.0 / r.tot, 6) AS DOUBLE) AS p_transition
FROM trans t JOIN row_tot r ON r.from_type = t.from_type
ORDER BY t.from_type, t.to_type
"""


register_sql(
    "event_transition_matrix",
    _transition_sql,
    ("events",),
    doc="First-order Markov transition matrix over per-user event "
    "sequences: LEAD window per user (user_id is the natural parallel "
    "unit, ties broken by event_id for determinism), transition counts "
    "aggregate map-side to an O(types^2) matrix, row-normalized "
    "probabilities joined on the tiny aggregate — the behavioral-flow "
    "summary next to funnel_conversion/retention_cohorts, and the "
    "transition-prior a sequence model trains against.",
    tags=("relational", "events", "window", "agg"),
)


# --------------------------------------------------------------------------
# top event paths (ordered sequence / path analysis)
# --------------------------------------------------------------------------
PATH_PREFIX_LEN = 4  # compare the first N events of each user's journey
PATH_TOP_K = 20


def _event_paths_sql(d, events: str) -> str:
    """Top-k most common event-path prefixes: each user's first
    PATH_PREFIX_LEN events in (ts, event_id) order joined into a path
    string, path frequencies ranked.  The ordered aggregation differs by
    dialect (DuckDB has ORDER BY inside string_agg; Spark sorts an array
    of (ts, event_id, type) structs — struct comparison is lexicographic
    by field order, so both orderings are identical and total).

    Scale: one shuffle on user_id to build paths (bounded by the per-user
    event count), one map-side-combinable count on the path string, then
    TakeOrdered for the top-k — never a global sort of the paths."""
    if d.name == "spark":
        path = (
            "array_join(slice(transform(array_sort("
            "collect_list(struct(ts, event_id, event_type))), s -> s.event_type), "
            f"1, {PATH_PREFIX_LEN}), '>')"
        )
    else:
        path = (
            "array_to_string(list_slice(list(event_type ORDER BY ts, event_id), "
            f"1, {PATH_PREFIX_LEN}), '>')"
        )
    return f"""
WITH paths AS (
  SELECT user_id, {path} AS path FROM {events} GROUP BY user_id
),
freq AS (
  SELECT path, COUNT(*) AS n_users FROM paths GROUP BY path
)
SELECT path, CAST(n_users AS BIGINT) AS n_users
FROM freq ORDER BY n_users DESC, path LIMIT {PATH_TOP_K}
"""


register_sql(
    "top_event_paths",
    _event_paths_sql,
    ("events",),
    doc=f"Path analysis: each user's first {PATH_PREFIX_LEN}-event "
    "journey as an ordered path string, top-"
    f"{PATH_TOP_K} paths by user count — one user_id shuffle + "
    "map-side path counts + TakeOrdered; the sequence-mining "
    "companion to funnel_conversion and event_transition_matrix.",
    tags=("relational", "events", "agg", "topk"),
)


# --------------------------------------------------------------------------
# TPC-H shape suite extensions: Q6 / Q7 / Q10
# --------------------------------------------------------------------------
@register(
    "q6_forecast_revenue",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(12,2)))
            AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND CAST(l_discount AS DECIMAL(12,2)) BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    doc="TPC-H Q6 shape: pure scan-filter-aggregate — every predicate "
    "(date range, discount band, quantity cap) pushes to the parquet scan, "
    "no join, no shuffle beyond the final one-row combine; revenue as an "
    "exact decimal product-sum.  The minimal query whose entire cost is "
    "scan throughput — the I/O-bound baseline of the suite.",
    tags=("relational", "tpch", "scan"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").cast("decimal(12,2)").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * F.col("l_discount").cast("decimal(12,2)"))
            .cast("double")
            .alias("revenue"),
            F.count("*").cast("bigint").alias("n_lines"),
        )
    )


@register(
    "q7_volume_shipping",
    oracle="""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INT) AS l_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS volume
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation cn ON cn.n_nationkey = c.c_nationkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
WHERE sn.n_name IN ('NATION_0', 'NATION_1', 'NATION_2')
  AND cn.n_name IN ('NATION_0', 'NATION_1', 'NATION_2')
  AND sn.n_name <> cn.n_name
  AND l.l_shipdate >= TIMESTAMP '1996-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY sn.n_name, cn.n_name, EXTRACT(YEAR FROM l.l_shipdate)
ORDER BY supp_nation, cust_nation, l_year
""",
    doc="TPC-H Q7 shape: bilateral trade volume — a 6-table join where "
    "both nation dims broadcast, the disjunctive nation-pair predicate "
    "prunes early, and revenue aggregates by (nation pair, year); the "
    "multi-dim star-join stress of the suite.",
    tags=("relational", "tpch", "join"),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    cn = F.broadcast(nat.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation")))
    sn = F.broadcast(nat.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")))
    df = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(cn, cust.c_nationkey == F.col("cnk"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(sn, supp.s_nationkey == F.col("snk"))
        .where(
            F.col("supp_nation").isin("NATION_0", "NATION_1", "NATION_2")
            & F.col("cust_nation").isin("NATION_0", "NATION_1", "NATION_2")
            & (F.col("supp_nation") != F.col("cust_nation"))
        )
        .withColumn("l_year", F.year("l_shipdate").cast("int"))
    )
    return (
        df.groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1) - F.col("l_discount").cast("decimal(12,2)")))
            .cast("double")
            .alias("volume")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def _q10_sql(d: Dialect, customer: str, orders: str, lineitem: str, nation: str) -> str:
    return f"""
SELECT c.c_custkey, c.c_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
       CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal,
       n.n_name AS nation
FROM {customer} c
JOIN {orders} o ON o.o_custkey = c.c_custkey
JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
JOIN {nation} n ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-07-01' AND o.o_orderdate < TIMESTAMP '1996-10-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
"""


register_sql(
    "q10_returned_items",
    _q10_sql,
    ("customer", "orders", "lineitem", "nation"),
    doc="TPC-H Q10 shape: returned-item revenue ranking — selective fact "
    "predicates (quarter + returnflag) push to the scans, the nation dim "
    "broadcasts, revenue per customer aggregates before a TakeOrdered "
    "top-20 (no global sort).",
    tags=("relational", "tpch", "topk"),
)


# ---------------------------------------------------------------------------
# UNPIVOT / melt: wide per-document metrics -> long (doc_id, metric, value)
# ---------------------------------------------------------------------------
UNPIVOT_DOC_MOD = 20  # sampled key subset keeps the long output oracle-sized


def _unpivot_sql(d: Dialect, docs: str) -> str:
    """Spark rotates with its native UNPIVOT (stack(): one projection, no
    per-metric rescan); the DuckDB text is the equivalent UNION ALL."""
    if d.name == "spark":
        metrics = """CAST(size(filter(split(text, '\\\\s+'), t -> t <> '')) AS BIGINT) AS n_words,
         CAST(regexp_count(text, '[0-9]') AS BIGINT) AS n_digits"""
        rotate = """SELECT doc_id, metric, value
FROM wide
UNPIVOT (value FOR metric IN (n_chars, n_digits, n_words))"""
    else:
        metrics = """CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))
              AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digits"""
        rotate = """SELECT doc_id, metric, value FROM (
  SELECT doc_id, 'n_chars' AS metric, n_chars AS value FROM wide
  UNION ALL SELECT doc_id, 'n_digits', n_digits FROM wide
  UNION ALL SELECT doc_id, 'n_words', n_words FROM wide
) u"""
    return f"""
WITH wide AS (
  SELECT doc_id,
         CAST(n_chars AS BIGINT) AS n_chars,
         {metrics}
  FROM {docs} WHERE doc_id % {UNPIVOT_DOC_MOD} = 0
)
{rotate}
ORDER BY doc_id, metric
"""


register_sql(
    "unpivot_doc_metrics",
    _unpivot_sql,
    ("documents",),
    doc="UNPIVOT (melt): wide per-document metric columns rotated into the "
    "long (doc_id, metric, value) shape every metrics store and plotting "
    "layer ingests — the inverse of pivot_last_event_value.  Spark side "
    "uses the native stack() table generator (one projection, NO shuffle, "
    "no per-metric rescan); the oracle is the equivalent UNION ALL "
    "(3 scans) — same rows, which is the point: stack is pure fan-out.",
    tags=("relational", "unpivot", "projection"),
)


# --------------------------------------------------------------------------
# share-of-parent hierarchical rollup (region -> nation -> revenue)
# --------------------------------------------------------------------------
def _share_rollup_nat_sql(d: Dialect, orders: str, customer: str, nation: str, region: str) -> str:
    return f"""
SELECT r.r_name AS region, n.n_name AS nation,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                     AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS cents
FROM {orders} o
JOIN {customer} c ON c.c_custkey = o.o_custkey
JOIN {nation} n ON n.n_nationkey = c.c_nationkey
JOIN {region} r ON r.r_regionkey = n.n_regionkey
GROUP BY r.r_name, n.n_name
"""


def _share_rollup_sql(
    d: Dialect, orders: str, customer: str, nation: str, region: str, nat: str
) -> str:
    return f"""
WITH nat AS ({nat}),
reg AS (SELECT region, CAST(SUM(cents) AS DECIMAL(38,0)) AS rcents FROM nat GROUP BY region),
tot AS (SELECT CAST(SUM(cents) AS DECIMAL(38,0)) AS tcents FROM nat)
SELECT nat.region, nat.nation,
       CAST(nat.cents AS BIGINT) AS nation_cents,
       CAST(reg.rcents AS BIGINT) AS region_cents,
       ROUND(CAST(nat.cents AS DOUBLE) / CAST(reg.rcents AS DOUBLE), 6)
         AS share_of_region,
       ROUND(CAST(nat.cents AS DOUBLE) / CAST(t.tcents AS DOUBLE), 6)
         AS share_of_total
FROM nat JOIN reg ON reg.region = nat.region CROSS JOIN tot t
ORDER BY nat.region, nat.nation
"""


register_sql(
    "share_of_parent_rollup",
    _share_rollup_sql,
    ("orders", "customer", "nation", "region"),
    heads={"sr_nat": _share_rollup_nat_sql},
    doc="Ratio-to-parent hierarchical rollup: nation-grain revenue with "
    "share-of-region and share-of-total — the BI contribution view the "
    "plain ROLLUP (rollup_returnflag_status) does not give (subtotal "
    "ratios need the parent JOINED BACK, not just emitted as extra "
    "rows).  One fact aggregate co-partitioned to nation grain, then "
    "joins against the bounded region/total aggregates (broadcast); "
    "exact cents everywhere, two identical double divisions at the end.",
    tags=("relational", "rollup", "agg"),
)
