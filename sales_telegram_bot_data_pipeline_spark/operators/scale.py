"""Scale utilities: salted joins for skewed keys and MERGE-style upsert.

These are the knobs a 100 TB deployment reaches for when AQE's automatic
skew splitting isn't enough (extremely hot keys) or when a key-value sink
needs snapshot semantics instead of append.

- ``salted_join``: explode the small/dim side into SALT copies, scatter the
  skewed fact side across salts, equi-join on (key, salt).  Result is
  row-identical to the plain join; the hot key's rows now spread over SALT
  reducers instead of one.
- ``merge_upsert``: last-write-wins MERGE of an updates batch into a base
  snapshot by key (full-outer-join + coalesce) — the batch-table shape of
  the idempotent KV sink (sinks/kv.py); swap in Delta/Iceberg MERGE INTO on
  a cluster with a table format.
- ``two_phase_topk``: per-group top-k whose window partition size is
  BOUNDED for pathologically hot groups — phase 1 ranks within
  (group, salt) and keeps k per salt, phase 2 re-ranks the <= salts*k
  survivors; row-identical to the single-window top-k given a total
  (deterministic) ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT = 8


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt: int = DEFAULT_SALT,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``fact ⋈ dim`` on ``key`` with salt-scattered shuffle.

    The fact side gets a deterministic pseudo-random salt per row (hash of
    the full row via monotonically increasing id is NOT deterministic across
    retries — use a content hash of the key + a cheap row discriminator when
    exact retry-stability matters; here pmod(hash(all columns)) suffices for
    batch jobs).  The dim side replicates each row SALT times.
    """
    fact_s = fact.withColumn("__salt", F.pmod(F.hash(*fact.columns), F.lit(salt)))
    dim_s = dim.withColumn("__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    out = fact_s.join(dim_s, on=[key, "__salt"], how=how)
    return out.drop("__salt")


def write_bucketed(df: DataFrame, table: str, key: str, buckets: int = 16) -> None:
    """Persist ``df`` hash-bucketed (and sorted) by ``key`` — the 100 TB
    co-location move: two tables bucketed the same way join WITHOUT any
    Exchange, because each scan task already holds exactly one bucket of
    each side's key space.  On a petabyte fact table this converts every
    recurring join/aggregation on the bucket key from a full shuffle into a
    local merge (amortize one layout write across all downstream reads).

    Plan-asserted in tests/test_plans.py::test_bucketed_join_has_no_exchange."""
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def merge_upsert(base: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """MERGE: rows in ``updates`` replace same-key rows in ``base``; unmatched
    rows pass through (WHEN MATCHED UPDATE, WHEN NOT MATCHED INSERT)."""
    cols = [c for c in base.columns if c != key]
    u = updates.select(key, *[F.col(c).alias(f"__u_{c}") for c in cols]).withColumn(
        "__present", F.lit(True)
    )
    joined = base.join(u, on=key, how="full_outer")
    picked = [
        F.when(F.col("__present"), F.col(f"__u_{c}")).otherwise(F.col(c)).alias(c) for c in cols
    ]
    return joined.select(key, *picked)


# ---------------------------------------------------------------------------
# SCD Type-2 dimension update (effective-dated merge)
# ---------------------------------------------------------------------------
def _scd2_register():
    from pyspark.sql import SparkSession

    from ..registry import register
    from ..sources.tables import load_table

    @register(
        "scd2_dimension_update",
        oracle="""
WITH upd_keys AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
),
base AS (
  SELECT c_custkey, c_mktsegment,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal
  FROM customer
),
closed AS (
  SELECT b.c_custkey, b.c_mktsegment, b.acctbal,
         DATE '1995-01-01' AS valid_from, DATE '1996-07-01' AS valid_to,
         FALSE AS is_current
  FROM base b JOIN upd_keys u ON u.o_custkey = b.c_custkey
),
new_rows AS (
  SELECT b.c_custkey, 'UPGRADED' AS c_mktsegment,
         CAST(CAST(b.acctbal + 100 AS DECIMAL(18,2)) AS DOUBLE) AS acctbal,
         DATE '1996-07-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
         TRUE AS is_current
  FROM base b JOIN upd_keys u ON u.o_custkey = b.c_custkey
),
open_rows AS (
  SELECT b.c_custkey, b.c_mktsegment, b.acctbal,
         DATE '1995-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
         TRUE AS is_current
  FROM base b WHERE NOT EXISTS (SELECT 1 FROM upd_keys u WHERE u.o_custkey = b.c_custkey)
)
SELECT * FROM closed
UNION ALL SELECT * FROM new_rows
UNION ALL SELECT * FROM open_rows
ORDER BY c_custkey, valid_from
""",
        doc="Slowly-changing-dimension Type 2 merge: customers with 1996-H1 "
        "orders get a new attribute version — the old row closes "
        "(valid_to, is_current=false), a new effective-dated row opens, "
        "untouched keys pass through open.  Plan shape: one semi/anti "
        "split of the dim against the distinct update-key set (aggregated "
        "BEFORE the join), unions of projections — no window, no "
        "per-row lookups.",
        tags=("relational", "merge", "scd2"),
    )
    def scd2_dimension_update(spark: SparkSession, sf_dir: str) -> DataFrame:
        cust = load_table(spark, sf_dir, "customer")
        orders = load_table(spark, sf_dir, "orders")
        upd_keys = (
            orders.where(
                (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
            )
            .select("o_custkey")
            .distinct()
        )
        base = cust.select(
            "c_custkey",
            "c_mktsegment",
            F.col("c_acctbal").cast("decimal(18,2)").cast("double").alias("acctbal"),
        )
        d0 = F.lit("1995-01-01").cast("date")
        d1 = F.lit("1996-07-01").cast("date")
        dnull = F.lit(None).cast("date")
        hit = base.join(upd_keys, base.c_custkey == upd_keys.o_custkey, "left_semi")
        closed = hit.select(
            "c_custkey", "c_mktsegment", "acctbal",
            d0.alias("valid_from"), d1.alias("valid_to"), F.lit(False).alias("is_current"),
        )
        new_rows = hit.select(
            "c_custkey",
            F.lit("UPGRADED").alias("c_mktsegment"),
            (F.col("acctbal") + 100).cast("decimal(18,2)").cast("double").alias("acctbal"),
            d1.alias("valid_from"), dnull.alias("valid_to"), F.lit(True).alias("is_current"),
        )
        open_rows = base.join(
            upd_keys, base.c_custkey == upd_keys.o_custkey, "left_anti"
        ).select(
            "c_custkey", "c_mktsegment", "acctbal",
            d0.alias("valid_from"), dnull.alias("valid_to"), F.lit(True).alias("is_current"),
        )
        return closed.unionAll(new_rows).unionAll(open_rows).orderBy("c_custkey", "valid_from")


_scd2_register()


def two_phase_topk(
    df: DataFrame,
    group_col: str,
    order_cols: list,
    k: int,
    salts: int = DEFAULT_SALT,
) -> DataFrame:
    """Per-group top-k with BOUNDED window partitions: a single
    ``row_number() OVER (PARTITION BY group)`` sorts every row of the
    hottest group in one task, which a spam domain with 10^9 pages breaks.
    Phase 1 scatters each group across ``salts`` deterministic shards and
    keeps the local top-k per (group, salt) — each window sees at most
    rows/salts of the hot group; phase 2 re-ranks the <= salts*k
    survivors per group, a window whose input is bounded by construction.

    ``order_cols`` must be a TOTAL ordering (include a unique tiebreaker),
    which makes the result row-identical to the one-window form — pinned
    by test_two_phase_topk_matches_single_window.  Emits the final
    per-group rank as ``rank``."""
    from pyspark.sql import Window

    # withColumn REPLACES a same-named existing column, which would silently
    # corrupt caller data carrying any of the working/output names
    reserved = {"__salt", "__r", "rank"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"two_phase_topk: input already has reserved column(s) {sorted(reserved)}; "
            "rename them before calling ('rank' is the output column)"
        )
    salt_col = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salts))
    w1 = Window.partitionBy(group_col, "__salt").orderBy(*order_cols)
    w2 = Window.partitionBy(group_col).orderBy(*order_cols)
    return (
        df.withColumn("__salt", salt_col)
        .withColumn("__r", F.row_number().over(w1))
        .where(F.col("__r") <= k)
        .drop("__salt", "__r")
        .withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# salted hot-key join, oracle-checked through an aggregate
# ---------------------------------------------------------------------------
def _salted_join_register():
    from pyspark.sql import SparkSession

    from ..registry import register
    from ..sources.tables import load_table

    @register(
        "salted_hot_key_join",
        oracle="""
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS revenue
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
""",
        doc="Salted skew join end-to-end: orders (fact) scattered across 8 "
        "deterministic salts, customer (dim) exploded 8x, equi-join on "
        "(custkey, salt) — a hot customer's rows now spread over 8 "
        "reducers instead of one.  The oracle is the PLAIN join + "
        "aggregate: salting must be row-identical by construction, and "
        "the exact-decimal revenue per segment proves no row was lost or "
        "duplicated by the scatter (the manual fallback when AQE skew "
        "splitting can't fire, e.g. a skewed key under a hash aggregate).",
        tags=("join", "skew", "scale"),
    )
    def salted_hot_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_custkey").alias("custkey"), "o_totalprice"
        )
        customer = load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("custkey"), "c_mktsegment"
        )
        joined = salted_join(orders, customer, "custkey")
        return (
            joined.groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("decimal(38,2)")
                .cast("double")
                .alias("revenue"),
            )
            .orderBy("c_mktsegment")
        )


_salted_join_register()


# --------------------------------------------------------------------------
# rendezvous (highest-random-weight) shard assignment + removal stability
# --------------------------------------------------------------------------
HRW_SHARDS = 12  # live shard count
HRW_REMOVED = 7  # the shard whose removal the stability audit simulates


def _hrw_register():
    from ..functions.dialect import Dialect
    from ..registry import register_sql

    def _hrw_sql(d: Dialect, table: str) -> str:
        w = d.md5_prefix_int(
            f"('hrw|' || {d.strcast('doc_id')} || '|' || {d.strcast('s')})"
        )
        if d.name == "spark":
            shards = (
                f"SELECT doc_id, s FROM {table} "
                f"LATERAL VIEW explode(sequence(0, {HRW_SHARDS - 1})) t AS s"
            )
        else:
            shards = (
                f"SELECT doc_id, unnest(generate_series(0, {HRW_SHARDS - 1})) AS s "
                f"FROM {table}"
            )
        return f"""
WITH weighted AS (
  SELECT doc_id, CAST(s AS INT) AS shard, {w} AS wt
  FROM ({shards}) x
),
full_assign AS (
  SELECT doc_id, MAX_BY(shard, wt) AS shard_full
  FROM weighted GROUP BY doc_id
),
degraded AS (
  SELECT doc_id, MAX_BY(shard, wt) AS shard_degraded
  FROM weighted WHERE shard <> {HRW_REMOVED}
  GROUP BY doc_id
)
SELECT f.shard_full AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN f.shard_full <> g.shard_degraded THEN 1 ELSE 0 END)
            AS BIGINT) AS n_moved
FROM full_assign f JOIN degraded g ON g.doc_id = f.doc_id
GROUP BY f.shard_full
ORDER BY shard
"""

    register_sql(
        "rendezvous_shard_stability",
        _hrw_sql,
        ("documents",),
        doc=f"Rendezvous (highest-random-weight) shard assignment over "
        f"{HRW_SHARDS} shards with the REMOVAL-STABILITY audit that is "
        "HRW's whole point: reassigning after shard "
        f"{HRW_REMOVED} disappears moves ONLY the documents that lived on "
        "it (n_moved = n_docs exactly on the removed shard, 0 everywhere "
        "else — pinned in tests/test_round7_ops.py), where a mod-N scheme "
        "reshuffles ~everything.  Seed-free md5 weights ride one bounded "
        f"explode (x{HRW_SHARDS}) + two MAX_BY aggregates — no state, no "
        "coordination service; the deterministic data-placement primitive "
        "for 100-TB ingest routing next to dataset_hash_split's mod "
        "routing.",
        tags=("scale", "sharding", "audit"),
    )


_hrw_register()
