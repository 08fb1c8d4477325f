"""Temporal operators: interval (range) joins, as-of joins, validity
revalidation, and time-window aggregations (tumbling / sliding / session).

The reference's temporal surface is DAG #2's validity model
(README.md:70-82): recompute ``valid := valid_from <= today <= valid_to``
over pdf_metadata, diff against the stored flag, cascade the flip to
detected_data.  That model is an interval join at scale; the engine ships the
general forms and exercises them over orders/lineitem/events.

Scale notes (100 TB):
- the range join is implemented as a *bucketed equi-join* (explode the
  interval side to fixed-width time buckets, equi-join on bucket, refine with
  the precise predicate).  A naive ``a.ts BETWEEN b.lo AND b.hi`` join is a
  broadcast-nested-loop — O(n·m) — and is exactly what we avoid;
- the as-of join is the union+last(ignore nulls) window pattern: one shuffle
  by key, zero join blow-up, linear state;
- window aggregations map 1:1 onto Structured Streaming's windowing (same
  ``F.window``/``F.session_window`` calls work under readStream with a
  watermark — see streaming/), so the batch forms here double as the
  oracle-checkable parity surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.dialect import Dialect
from ..registry import register, register_sql
from ..sources.tables import load_table


def _dec(col: str, prec: int = 18, scale: int = 2) -> F.Column:
    return F.col(col).cast(f"decimal({prec},{scale})")


# ---------------------------------------------------------------------------
# Interval (range) join — reference op 46's validity model generalized:
# lineitems shipped within [o_orderdate, o_orderdate + 7 days).
# ---------------------------------------------------------------------------
@register(
    "interval_join_shipments",
    oracle="""
SELECT o_orderkey,
       COUNT(*) AS n_shipped,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM orders
JOIN lineitem
  ON l_shipdate >= o_orderdate
 AND l_shipdate <  o_orderdate + INTERVAL 7 DAY
WHERE o_orderpriority = '1-URGENT'
  AND o_orderdate >= TIMESTAMP '1997-03-01'
  AND o_orderdate <  TIMESTAMP '1997-04-01'
GROUP BY o_orderkey
ORDER BY o_orderkey
""",
    doc="Range join via bucketed equi-join: interval side explodes to 7-day "
    "buckets, point side computes its bucket, equi-join + precise refine. "
    "Scales as O(n+m) shuffle instead of the nested-loop O(n*m).",
    tags=("join", "range", "temporal"),
)
def interval_join_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket_days = 7  # bucket width == interval length → each interval spans exactly 2 buckets
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= F.lit("1997-03-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_orderdate")
    )
    day = F.unix_date(F.to_date("o_orderdate"))
    orders_b = orders.withColumn(
        "bucket",
        F.explode(F.array(F.floor(day / bucket_days), F.floor(day / bucket_days) + 1)),
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate", "l_quantity")
    li_b = li.withColumn("bucket", F.floor(F.unix_date(F.to_date("l_shipdate")) / bucket_days))
    # no broadcast hint: the filtered interval side is small TODAY, but a
    # forced broadcast is an executor OOM if the filter widens 100x — let AQE
    # pick broadcast vs shuffle at runtime from actual sizes
    joined = li_b.join(orders_b, "bucket").where(
        (F.col("l_shipdate") >= F.col("o_orderdate"))
        & (F.col("l_shipdate") < F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS"))
    )
    return (
        joined.groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_shipped"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# As-of join — for each purchase, the most recent signup (same user) at or
# before it.  Union + last(ignore nulls) over an event-time window: one
# shuffle by user_id, no join explosion.
# ---------------------------------------------------------------------------
@register(
    "asof_join_purchase_signup",
    oracle="""
SELECT p.event_id,
       p.user_id,
       p.ts,
       p.value AS purchase_value,
       s.ts    AS signup_ts,
       s.value AS signup_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
  ON p.user_id = s.user_id AND p.ts >= s.ts
ORDER BY p.event_id
""",
    doc="As-of join via the union + last(ignore nulls) window pattern "
    "(DuckDB oracle uses its native ASOF JOIN). At-or-before semantics; "
    "purchases with no prior signup keep NULLs (left as-of).",
    tags=("join", "asof", "temporal", "window"),
)
def asof_join_purchase_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "signup")
    )
    # at equal ts the signup must be visible to the purchase → signup sorts first
    rank = F.when(F.col("event_type") == "signup", F.lit(0)).otherwise(F.lit(1))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), rank, F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sig = F.when(F.col("event_type") == "signup", F.struct("ts", "value"))
    enriched = ev.withColumn("last_signup", F.last(sig, ignorenulls=True).over(w))
    return (
        enriched.where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("value").alias("purchase_value"),
            F.col("last_signup.ts").alias("signup_ts"),
            F.col("last_signup.value").alias("signup_value"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# op 46 — temporal validity revalidation (DAG #2's core: README.md:70-75).
# Recompute valid from the window, emit only rows whose flag flipped.
# ---------------------------------------------------------------------------
def _revalidation_sql(d: Dialect, orders: str) -> str:
    return f"""
SELECT o_orderkey,
       (o_orderkey % 2 = 0) AS stored_valid,
       (TIMESTAMP '1997-06-01' >= o_orderdate AND
        TIMESTAMP '1997-06-01' <= o_orderdate + INTERVAL 90 DAY) AS now_valid
FROM {orders}
WHERE (o_orderkey % 2 = 0) <>
      (TIMESTAMP '1997-06-01' >= o_orderdate AND
       TIMESTAMP '1997-06-01' <= o_orderdate + INTERVAL 90 DAY)
ORDER BY o_orderkey
"""


register_sql(
    "validity_revalidation",
    _revalidation_sql,
    ("orders",),
    doc="Reference op 46: scan metadata, recompute valid_from<=today<="
    "valid_to, emit the changed-set only (incremental revalidation). "
    "valid_from/valid_to/stored flag derived deterministically from orders.",
    tags=("temporal", "incremental"),
)


# ---------------------------------------------------------------------------
# op 47 — cascade the validity flip to the detail table ("only the relevant
# detected items", README.md:77-82): changed-set ⋈ lineitem, incremental.
# ---------------------------------------------------------------------------
@register(
    "cascade_validity_update",
    oracle="""
WITH changed AS (
  SELECT o_orderkey,
         (TIMESTAMP '1997-06-01' >= o_orderdate AND
          TIMESTAMP '1997-06-01' <= o_orderdate + INTERVAL 90 DAY) AS now_valid
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    AND (o_orderkey % 2 = 0) <>
        (TIMESTAMP '1997-06-01' >= o_orderdate AND
         TIMESTAMP '1997-06-01' <= o_orderdate + INTERVAL 90 DAY)
)
SELECT l_orderkey, l_linenumber, now_valid
FROM changed JOIN lineitem ON l_orderkey = o_orderkey
ORDER BY l_orderkey, l_linenumber
""",
    doc="Reference op 47: cascade update of detail rows for flipped parents "
    "only — equi-join of the changed-set against the detail table (the "
    "MERGE-shaped incremental write path).",
    tags=("temporal", "incremental", "join"),
)
def cascade_validity_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    today = F.lit("1997-06-01").cast("timestamp")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    now_valid = (today >= F.col("o_orderdate")) & (
        today <= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    changed = (
        orders.withColumn("now_valid", now_valid)
        .where((F.col("o_orderkey") % 2 == 0) != F.col("now_valid"))
        .select("o_orderkey", "now_valid")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    # no broadcast hint: the changed-set is ~half the year's orders by
    # construction (linear in table size, not "rare flips") — a forced
    # broadcast is an executor OOM at 100x; AQE picks broadcast at bench
    # scale from actual sizes.  The library form (streaming/revalidate.py)
    # keeps its hint: genuinely-rare flips are its contract.
    return (
        li.join(changed, li.l_orderkey == changed.o_orderkey)
        .select("l_orderkey", "l_linenumber", "now_valid")
        .orderBy("l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# Tumbling window aggregation (streaming parity form — same F.window works
# under readStream + watermark).
# ---------------------------------------------------------------------------
@register(
    "tumbling_window_stats",
    oracle="""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
""",
    doc="Tumbling 1-hour event-time windows (Structured Streaming window "
    "shape, oracle-checked in batch).",
    tags=("temporal", "streaming-parity", "agg"),
)
def tumbling_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# Sliding windows: 1-hour length, 30-minute slide (each event in 2 windows).
# ---------------------------------------------------------------------------
@register(
    "sliding_window_stats",
    oracle="""
SELECT window_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM (
  SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS window_start,
         value
  FROM events
) t
GROUP BY window_start
ORDER BY window_start
""",
    doc="Sliding windows (1h length / 30m slide) — overlap factor 2; oracle "
    "expands each row to its two member windows.",
    tags=("temporal", "streaming-parity", "agg"),
)
def sliding_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
        .orderBy("window_start")
    )


# ---------------------------------------------------------------------------
# Session windows: 15-minute inactivity gap per user.  Spark's
# session_window end == last event + gap; the oracle reproduces that with
# gaps-and-islands SQL.
# ---------------------------------------------------------------------------
@register(
    "session_window_stats",
    oracle="""
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w >= INTERVAL '15 minutes'
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '15 minutes' AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM sess
GROUP BY user_id, sid
ORDER BY user_id, session_start
""",
    doc="Session windows with 15-minute gap (applyInPandasWithState-free: "
    "native session_window). Session end = last event + gap, matching the "
    "oracle's islands construction.",
    tags=("temporal", "streaming-parity", "agg", "session"),
)
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "15 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# Watermark semantics, batch-parity form: drop events older than
# max(event_time) - 10 minutes, then window-aggregate the survivors —
# the batch equivalent of a 10-minute watermark's final state.
# ---------------------------------------------------------------------------
@register(
    "watermark_tail_stats",
    oracle="""
WITH wm AS (SELECT MAX(ts) - INTERVAL '10 minutes' AS cutoff FROM events)
SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
       COUNT(*) AS n_events
FROM events, wm
WHERE ts >= wm.cutoff
GROUP BY 1
ORDER BY window_start
""",
    doc="Watermark late-data semantics in batch-parity form: events behind "
    "max(ts)-10min are dropped before windowing (what a streaming watermark "
    "converges to).",
    tags=("temporal", "streaming-parity"),
)
def watermark_tail_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cutoff = ev.agg((F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("cutoff"))
    return (
        ev.join(F.broadcast(cutoff))
        .where(F.col("ts") >= F.col("cutoff"))
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
        .orderBy("window_start")
    )


# ---------------------------------------------------------------------------
# Funnel conversion: view -> click -> purchase, strictly ordered per user.
# The product-analytics query shape (stage timestamps via conditional min
# aggregation, not self-joins over raw events).
# ---------------------------------------------------------------------------
@register(
    "funnel_conversion",
    oracle="""
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id
),
agg AS (
  SELECT (SELECT COUNT(*) FROM v) AS n_view,
         (SELECT COUNT(*) FROM c) AS n_click,
         (SELECT COUNT(*) FROM p) AS n_purchase
)
SELECT n_view, n_click, n_purchase,
       CAST(((n_click * 2000000 + n_view) // (2 * n_view)) AS DOUBLE) / 1000000 AS view_to_click,
       CAST(((n_purchase * 2000000 + n_click) // (2 * n_click)) AS DOUBLE) / 1000000 AS click_to_purchase
FROM agg
""",
    doc="Per-user ordered funnel (first view -> first later click -> first "
    "later purchase): three conditional-min aggregations keyed by user_id, "
    "joins stay co-partitioned on the same key — no self-join over raw "
    "events, no window over the full table. Conversion rates via integer "
    "half-up arithmetic (cross-engine ROUND-on-double ties).",
    tags=("temporal", "funnel", "agg"),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase")))
        .selectExpr(
            "n_view",
            "n_click",
            "n_purchase",
            "cast(((n_click * 2000000 + n_view) div (2 * n_view)) as double) / 1000000 AS view_to_click",
            "cast(((n_purchase * 2000000 + n_click) div (2 * n_click)) as double) / 1000000 AS click_to_purchase",
        )
    )


# ---------------------------------------------------------------------------
# Retention cohorts: users grouped by first-activity week, activity tracked
# per week offset.  Weeks are computed as day-number div 7 from a fixed
# epoch date, so the bucketing is timezone-free and engine-portable.
# ---------------------------------------------------------------------------
@register(
    "retention_cohorts",
    oracle="""
WITH wk AS (
  SELECT DISTINCT user_id,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS week
  FROM events
),
coh AS (SELECT user_id, MIN(week) AS cohort_week FROM wk GROUP BY user_id),
sizes AS (SELECT cohort_week, COUNT(*) AS cohort_size FROM coh GROUP BY cohort_week)
SELECT c.cohort_week AS cohort_week,
       w.week - c.cohort_week AS week_offset,
       COUNT(*) AS n_active,
       s.cohort_size AS cohort_size,
       CAST(((COUNT(*) * 2000000 + s.cohort_size) // (2 * s.cohort_size)) AS DOUBLE) / 1000000 AS retention
FROM wk w
JOIN coh c ON c.user_id = w.user_id
JOIN sizes s ON s.cohort_week = c.cohort_week
GROUP BY c.cohort_week, w.week - c.cohort_week, s.cohort_size
ORDER BY c.cohort_week, week_offset
""",
    doc="Weekly retention cohorts: cohort = first-activity week, activity "
    "per (cohort, offset) — (user, week) de-dup then two groupBys on the "
    "user key; timezone-free day-number weeks; integer-arithmetic rates.",
    tags=("temporal", "retention", "agg"),
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wk = (
        ev.select(
            "user_id",
            (F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) / 7)
            .cast("bigint")  # datediff >= 0 here; cast truncation == floor
            .alias("week"),
        )
        .distinct()
    )
    coh = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = coh.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("cohort_size"))
    return (
        wk.join(coh, "user_id")
        .join(sizes, "cohort_week")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"), "cohort_size")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .selectExpr(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            "cast(((n_active * 2000000 + cohort_size) div (2 * cohort_size)) as double) / 1000000 AS retention",
        )
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# Attribution join: purchases attributed to every view by the same user in
# the preceding 30 minutes.  The BATCH form of the stream-stream interval
# join (streaming/windows.py::attribution_join_stream runs the identical
# join condition over two watermarked readStream sides; parity-tested).
# ---------------------------------------------------------------------------
ATTRIBUTION_HORIZON_MIN = 30


@register(
    "attribution_interval_join",
    oracle=f"""
SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id AS user_id,
       v.ts AS view_ts, p.ts AS purchase_ts
FROM events v JOIN events p
  ON p.user_id = v.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL {ATTRIBUTION_HORIZON_MIN} MINUTE
ORDER BY view_id, purchase_id
""",
    doc=f"View→purchase attribution self-join: same user, purchase within "
    f"{ATTRIBUTION_HORIZON_MIN} min after the view.  Equi-key (user_id) "
    "carries the shuffle; the time bound is a residual predicate, so the "
    "plan is a user-partitioned join, never a cross product.  Stream-stream "
    "twin: streaming/windows.py::attribution_join_stream (watermarks bound "
    "both sides' state to the horizon).",
    tags=("temporal", "interval-join", "streaming-twin"),
)
def attribution_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    return (
        v.join(
            p,
            (v.user_id == p.p_user)
            & (p.purchase_ts >= v.view_ts)
            & (p.purchase_ts <= v.view_ts + F.expr(f"INTERVAL {ATTRIBUTION_HORIZON_MIN} MINUTE")),
        )
        .select("view_id", "purchase_id", "user_id", "view_ts", "purchase_ts")
        .orderBy("view_id", "purchase_id")
    )


# ---------------------------------------------------------------------------
# Date-spine gap filling + daily/cumulative user rollups (time-series
# staples: report tables must have a row for EVERY (type, day) even when no
# events arrived — a LEFT JOIN against a generated calendar spine).
# ---------------------------------------------------------------------------
def _gap_fill_sql(d, table: str) -> str:
    """Zero-filled daily counts per event_type over the observed date range.
    Scale: the spine is days x types — generated, never scanned (O(range),
    not O(events)); daily counts partial-aggregate on (type, day); the fill
    join's build side is the tiny spine, so it broadcasts."""
    if d.name == "spark":
        spine = (
            "SELECT explode(sequence(b.d0, b.d1, interval 1 day)) AS day FROM bounds b"
        )
    else:
        spine = (
            "SELECT CAST(unnest(generate_series(CAST(b.d0 AS TIMESTAMP), "
            "CAST(b.d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM bounds b"
        )
    return f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
  FROM {table} GROUP BY event_type, CAST(ts AS DATE)
),
bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
spine AS ({spine}),
types AS (SELECT DISTINCT event_type FROM daily)
SELECT t.event_type, s.day,
       COALESCE(dl.n, 0) AS n_events,
       dl.n IS NULL AS is_gap
FROM spine s
CROSS JOIN types t
LEFT JOIN daily dl ON dl.event_type = t.event_type AND dl.day = s.day
ORDER BY t.event_type, s.day
"""


register_sql(
    "date_spine_gap_fill",
    _gap_fill_sql,
    ("events",),
    doc="Calendar gap filling: zero-filled daily counts per event_type via "
    "a generated date spine (O(range), never scanned) CROSS JOIN types, "
    "LEFT JOIN daily partial-aggregates — the report-table densification "
    "every time-series pipeline needs; spine side broadcasts.",
    tags=("temporal", "timeseries", "join"),
)


def _dau_sql(d: Dialect, table: str) -> str:
    return f"""
WITH first_seen AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM {table} GROUP BY user_id
),
dau AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(DISTINCT user_id) AS dau
  FROM {table} GROUP BY CAST(ts AS DATE)
),
new_users AS (
  SELECT first_day AS day, COUNT(*) AS new_users FROM first_seen GROUP BY first_day
)
SELECT d.day, d.dau,
       COALESCE(n.new_users, 0) AS new_users,
       CAST(SUM(COALESCE(n.new_users, 0))
            OVER (ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cumulative_users
FROM dau d LEFT JOIN new_users n ON n.day = d.day
ORDER BY d.day
"""


register_sql(
    "daily_active_cumulative_users",
    _dau_sql,
    ("events",),
    doc="DAU + new users + cumulative registered users per day: first-seen "
    "day per user (one groupBy on the user key), daily distincts, and a "
    "running SUM over the DAY axis — the window is O(days), not O(events), "
    "so the single-partition ordering is bounded by the calendar, not the "
    "corpus (cast BIGINT: DuckDB HUGEINT window-SUM trap).",
    tags=("temporal", "timeseries", "window"),
)


# --------------------------------------------------------------------------
# per-user event cadence profile (inter-arrival statistics / bot heuristic)
# --------------------------------------------------------------------------
CADENCE_MIN_EVENTS = 5
BURST_MEDIAN_S = 60  # median gap under a minute + regularity -> bot-like


def _cadence_sql(d: Dialect, table: str) -> str:
    """Per-user inter-arrival-time profile — the bot/automation heuristic
    every event pipeline runs: LAG the user's event times, aggregate the
    gaps to median / p90 / regularity (p90/median close to 1 means
    metronome-like traffic), flag users whose cadence is too fast and too
    regular to be human.

    Engine notes: ts is TIMESTAMP_NTZ (naive), and Spark's
    ``unix_timestamp(ntz)`` interprets it in the SESSION timezone — under a
    DST zone two events straddling a transition would gap 3600 s away from
    DuckDB's fixed-offset ``epoch()`` (deltas only cancel for fixed-offset
    zones).  So the epoch derives from FIELD EXTRACTION
    (days*86400 + hour*3600 + minute*60 + second), which is
    timezone-independent by construction in both engines and equals
    FLOOR(epoch(ts)) on the DuckDB side.  Quantiles use the ANSI
    ``PERCENTILE_CONT ... WITHIN GROUP``
    form, IDENTICAL SQL text in both engines — verified bit-for-bit
    (7.900000000000001 on both) where the engines' NATIVE spellings
    diverged: Spark's percentile() and DuckDB's quantile_cont() gave p90s
    one gap apart (92283.3 vs 92282.3) on the same 70-gap series.  The LAG
    window partitions per user (the natural parallel unit); the aggregate
    is one groupBy."""
    if d.name == "spark":
        ep = (
            "(unix_date(CAST(ts AS DATE)) * 86400L"
            " + hour(ts) * 3600 + minute(ts) * 60 + second(ts))"
        )
    else:
        # epoch() carries the fractional second and CAST(double AS BIGINT)
        # ROUNDS in DuckDB (Spark truncates) — FLOOR first, or every
        # half-second-offset event lands one second late
        ep = "CAST(FLOOR(epoch(ts)) AS BIGINT)"
    q50 = "PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY gap_s)"
    q90 = "PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY gap_s)"
    return f"""
WITH gaps AS (
  SELECT user_id,
         {ep} - LAG({ep}) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
  FROM {table}
),
agg AS (
  SELECT user_id, COUNT(*) AS n_gaps,
         {q50} AS med, {q90} AS p90
  FROM gaps WHERE gap_s IS NOT NULL
  GROUP BY user_id
  HAVING COUNT(*) >= {CADENCE_MIN_EVENTS - 1}
)
SELECT user_id,
       CAST(n_gaps + 1 AS BIGINT) AS n_events,
       CAST(ROUND(med, 6) AS DOUBLE) AS median_gap_s,
       CAST(ROUND(p90, 6) AS DOUBLE) AS p90_gap_s,
       CAST(ROUND(p90 / NULLIF(med, 0), 6) AS DOUBLE) AS regularity,
       -- med = 0 (same-second bursts, the MOST bot-like cadence) would fail
       -- a strict p90 < 3*med (0 < 0 is false) — flag it unconditionally
       (med < {BURST_MEDIAN_S} AND (med = 0 OR p90 < 3 * med)) AS bot_like
FROM agg
ORDER BY user_id
"""


register_sql(
    "user_cadence_profile",
    _cadence_sql,
    ("events",),
    doc="Per-user inter-arrival cadence: LAG gaps (user-partitioned "
    "window), continuous median/p90 quantiles, regularity ratio, and a "
    "too-fast-too-regular bot flag. Gap DELTAS cancel session-timezone "
    "epoch interpretation; quantiles are the interpolated form in both "
    "engines.",
    tags=("temporal", "window", "agg"),
)


# --------------------------------------------------------------------------
# interval coalescing (union of validity windows per key)
# --------------------------------------------------------------------------
def _coalesce_sql(d: Dialect, table: str) -> str:
    return f"""
WITH iv AS (
  SELECT o_custkey AS custkey,
         o_orderdate AS v_from,
         o_orderdate + INTERVAL 90 DAY AS v_to,
         o_orderkey
  FROM {table}
),
marked AS (
  SELECT custkey, v_from, v_to, o_orderkey,
         CASE WHEN v_from > MAX(v_to) OVER (
                PARTITION BY custkey ORDER BY v_from, v_to, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_period
  FROM iv
),
islands AS (
  SELECT custkey, v_from, v_to,
         SUM(new_period) OVER (
           PARTITION BY custkey ORDER BY v_from, v_to, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS period_id
  FROM marked
)
SELECT custkey, CAST(period_id AS BIGINT) AS period_id,
       CAST(MIN(v_from) AS DATE) AS period_start,
       CAST(MAX(v_to) AS DATE) AS period_end,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM islands
GROUP BY custkey, period_id
ORDER BY custkey, period_id
"""


register_sql(
    "validity_interval_coalesce",
    _coalesce_sql,
    ("orders",),
    doc="Interval-union coalescing: each order opens a [orderdate, +90d) "
    "validity window (the reference's op-46 window semantics); overlapping "
    "windows per customer merge into coverage periods via the running-max "
    "islands trick — one per-key sort, two windows, no self-join (the "
    "naive overlap join is O(n^2) per key). Each key's first row compares "
    "against MAX over an empty frame (NULL): '> NULL' is false in both "
    "engines' three-valued logic, so the first interval lands in period 0 "
    "consistently. Pure date/integer arithmetic, engine-portable.",
    tags=("temporal", "window"),
)


# --------------------------------------------------------------------------
# batch sessionization (gap-based islands over the raw event stream)
# --------------------------------------------------------------------------
SESSIONIZE_GAP_S = 1800  # new session after a 30-minute silence
SESSIONIZE_USER_MOD = 7  # sample 1-in-7 users: bounds output while the
#                          windows still run the full per-user machinery


def _session_events_ctes(d: Dialect, table: str, with_event_type: bool = False) -> str:
    """ev/marked/sess CTE bodies shared by ``sessionize_gap_islands`` and
    ``session_conversion_rate``: per-event session_seq via the LAG-mark +
    running-SUM islands pattern.  ``with_event_type`` threads event_type
    through for funnel consumers; the plain sessionizer leaves it off so
    the template also runs against minimal (user_id, event_id, ts)
    relations (the property tests feed exactly that)."""
    if d.name == "spark":
        ep = (
            "(unix_date(CAST(ts AS DATE)) * 86400L"
            " + hour(ts) * 3600 + minute(ts) * 60 + second(ts))"
        )
    else:
        ep = "CAST(FLOOR(epoch(ts)) AS BIGINT)"
    et = ", event_type" if with_event_type else ""
    return f"""ev AS (
  SELECT user_id, event_id, ts{et}, {ep} AS ep
  FROM {table}
  WHERE user_id % {SESSIONIZE_USER_MOD} = 0
),
marked AS (
  SELECT user_id, event_id, ts{et}, ep,
         CASE WHEN ep - LAG(ep) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > {SESSIONIZE_GAP_S}
              OR LAG(ep) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM ev
),
sess AS (
  SELECT user_id, ep{et},
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM marked
)"""


def _sessionize_sql(d: Dialect, table: str) -> str:
    """Per-user gap-based sessionization of the raw event table — the
    batch form every analytics pipeline derives before funnel/retention
    work, and the batch twin of ``F.session_window`` (which emits window
    bounds; this emits a SESSION TABLE with one row per session carrying a
    stable per-user sequence number, the joinable shape downstream models
    want).

    Islands pattern, same machinery as ``validity_interval_coalesce``:
    LAG the per-user event epoch, mark gaps > SESSIONIZE_GAP_S as session
    starts, running-SUM the marks into a session sequence, then one
    groupBy.  Two user-partitioned windows + one aggregate — no self-join,
    no global sort; the per-user partition is the natural parallel unit at
    100 TB.

    Epoch derives from FIELD EXTRACTION (timezone-independent in both
    engines — see _cadence_sql's engine notes); all arithmetic is integer
    seconds, so the output is cross-engine exact."""
    return f"""
WITH {_session_events_ctes(d, table)}
SELECT user_id,
       CAST(session_seq AS BIGINT) AS session_seq,
       CAST(MIN(ep) AS BIGINT) AS session_start_ep,
       CAST(MAX(ep) AS BIGINT) AS session_end_ep,
       CAST(MAX(ep) - MIN(ep) AS BIGINT) AS duration_s,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sess
GROUP BY user_id, session_seq
ORDER BY user_id, session_seq
"""


register_sql(
    "sessionize_gap_islands",
    _sessionize_sql,
    ("events",),
    doc=f"Batch gap-based sessionization ({SESSIONIZE_GAP_S}s silence "
    "opens a new session): LAG-mark + running-SUM islands over "
    "user-partitioned windows -> one session row per (user, seq) with "
    "start/end epoch, duration, event count. The joinable session-table "
    "twin of F.session_window; integer-seconds arithmetic end-to-end.",
    tags=("temporal", "window", "session"),
)


# --------------------------------------------------------------------------
# in-session funnel conversion (the session TABLE earning its keep)
# --------------------------------------------------------------------------
def _session_conversion_sql(d: Dialect, table: str) -> str:
    """The payoff of emitting a session TABLE instead of window bounds:
    funnel questions become one grouped aggregate over the session-tagged
    events — here, what fraction of sessions that contain a 'view'
    convert to a 'purchase' AFTER that view within the SAME session
    (cross-session purchases don't count: attribution stays inside the
    visit, which is what makes per-session conversion different from the
    corpus-wide funnel_conversion).

    Same islands machinery as sessionize_gap_islands (shared CTE bodies),
    one extra per-(user, session) aggregate and an O(1) rollup — integer
    epochs end-to-end."""
    return f"""
WITH {_session_events_ctes(d, table, with_event_type=True)},
per_sess AS (
  SELECT user_id, session_seq,
         MIN(CASE WHEN event_type = 'view' THEN ep END) AS first_view_ep,
         MAX(CASE WHEN event_type = 'purchase' THEN ep END) AS last_purchase_ep,
         COUNT(*) AS n_events
  FROM sess
  GROUP BY user_id, session_seq
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN first_view_ep IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS sessions_with_view,
       CAST(SUM(CASE WHEN last_purchase_ep IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS sessions_with_purchase,
       CAST(SUM(CASE WHEN first_view_ep IS NOT NULL
                      AND last_purchase_ep IS NOT NULL
                      AND first_view_ep <= last_purchase_ep THEN 1 ELSE 0 END) AS BIGINT) AS converted_sessions,
       CAST(ROUND(SUM(CASE WHEN first_view_ep IS NOT NULL
                            AND last_purchase_ep IS NOT NULL
                            AND first_view_ep <= last_purchase_ep THEN 1 ELSE 0 END) * 1.0e0
                  / NULLIF(SUM(CASE WHEN first_view_ep IS NOT NULL THEN 1 ELSE 0 END), 0), 6) AS DOUBLE)
         AS view_to_purchase_rate
FROM per_sess
"""


register_sql(
    "session_conversion_rate",
    _session_conversion_sql,
    ("events",),
    doc="In-session funnel conversion: fraction of sessions containing a "
    "'view' that reach a 'purchase' AFTER that view within the SAME "
    "session — attribution bounded by the visit, composed from the shared "
    "sessionization islands CTEs + one per-(user, session) aggregate + an "
    "O(1) rollup. Integer epochs end-to-end.",
    tags=("temporal", "session", "funnel"),
)


# --------------------------------------------------------------------------
# exponential-decay freshness profile (recency-weighted corpus accounting)
# --------------------------------------------------------------------------
DECAY_HALF_LIFE_DAYS = 30  # weight halves every 30 days of age


def _freshness_decay_sql(d: Dialect, table: str) -> str:
    """Recency-weighted accounting per event_type: every event contributes
    weight 2^(-age_days / half_life), so a stream that stopped a quarter
    ago shows near-zero decayed mass next to a live one of equal raw
    count — the freshness signal a data mix needs when 'how much' matters
    less than 'how recent'.

    Cross-engine portability: each row's weight is quantized to INTEGER
    micro-units BEFORE the sum (the kmeans/minhash convention) — an
    integer SUM is exact and partition-order-independent, whereas summing
    raw doubles exposes float-addition non-associativity across engines.
    The per-row EXP goes through engine libm; per-row agreement at 6
    decimals is empirically verified at sf<=0.1 by the parity net.
    Age derives from the corpus MAX epoch (one O(1) subquery), integer
    seconds; one map-side-combinable aggregate."""
    if d.name == "spark":
        ep = (
            "(unix_date(CAST(ts AS DATE)) * 86400L"
            " + hour(ts) * 3600 + minute(ts) * 60 + second(ts))"
        )
    else:
        ep = "CAST(FLOOR(epoch(ts)) AS BIGINT)"
    w_micro = (
        f"CAST(ROUND(EXP(-((mx.m - ep) / 86400.0e0) * {0.6931471805599453 / DECAY_HALF_LIFE_DAYS!r}"
        f") * 1000000, 0) AS BIGINT)"
    )
    return f"""
WITH ev AS (SELECT event_type, {ep} AS ep FROM {table}),
mx AS (SELECT MAX(ep) AS m FROM ev),
weighted AS (
  SELECT event_type, {w_micro} AS w_micro
  FROM ev CROSS JOIN mx
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(w_micro) AS BIGINT) AS decayed_mass_micro,
       CAST(ROUND(SUM(w_micro) * 1.0e0 / (COUNT(*) * 1000000), 6) AS DOUBLE) AS freshness_index
FROM weighted
GROUP BY event_type
ORDER BY event_type
"""


register_sql(
    "freshness_decay_profile",
    _freshness_decay_sql,
    ("events",),
    doc=f"Exponential-decay freshness profile: per event_type, each event "
    f"weighted 2^(-age_days/{DECAY_HALF_LIFE_DAYS}) from the corpus max "
    "epoch — the recency signal next to raw counts. Per-row weights "
    "quantize to integer micro-units BEFORE the sum (exact, "
    "partition-order-independent aggregation; only the per-row libm EXP "
    "crosses engines), one map-side-combinable aggregate + an O(1) max "
    "subquery.",
    tags=("temporal", "decay", "agg"),
)


# --------------------------------------------------------------------------
# SCD2 history reconstruction from an event change-log
# --------------------------------------------------------------------------
SCD2_BUILD_USER_MOD = 50  # sampled key subset keeps output oracle-sized

def _scd2_build_sql(d: Dialect, events: str) -> str:
    return f"""
WITH ev AS (
  SELECT user_id, ts, event_type, value, event_id
  FROM {events} WHERE user_id % {SCD2_BUILD_USER_MOD} = 0
),
hist AS (
  SELECT user_id, event_type, value AS state_value,
         ts AS valid_from, event_id,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
  FROM ev
)
SELECT user_id, event_type, state_value, valid_from, valid_to,
       (valid_to IS NULL) AS is_current
FROM hist
ORDER BY user_id, valid_from, event_type, event_id
"""


register_sql(
    "scd2_build_from_events",
    _scd2_build_sql,
    ("events",),
    doc="SCD2 dimension RECONSTRUCTION from a raw change-log: each event "
    "opens a validity interval closed by the key's next event "
    "(LEAD over a per-key window — partitioned by user_id, never global), "
    "latest row flagged current.  The CDC-compaction shape: replaying an "
    "event stream into the type-2 history that scd2_dimension_update then "
    "maintains incrementally; ties broken by event_id in BOTH the LEAD "
    "window and the final ORDER BY, so the emitted order is a total order "
    "and both engines order identically even when a user has two events "
    "with the same ts and event_type.",
    tags=("temporal", "scd2", "window"),
)


# --------------------------------------------------------------------------
# time-weighted average value over event-state intervals
# --------------------------------------------------------------------------
TWAP_USER_MOD = 20

def _twap_sql(d: Dialect, events: str) -> str:
    if d.name == "spark":
        # ts reads as TIMESTAMP_NTZ; the cast shifts both operands of the
        # difference identically (UTC session), so durations are exact
        epoch_us, epoch_close = "unix_micros(cast(", " as timestamp))"
    else:
        # epoch_us() returns BIGINT micros in DuckDB
        epoch_us, epoch_close = "epoch_us(", ")"
    return f"""
WITH ev AS (
  SELECT user_id, ts, value, event_id
  FROM {events} WHERE user_id % {TWAP_USER_MOD} = 0
),
iv AS (
  SELECT user_id,
         CAST(ROUND(value * 1000000) AS BIGINT) AS v6,
         {epoch_us}LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id){epoch_close}
           - {epoch_us}ts{epoch_close} AS dur_us
  FROM ev
),
closed AS (SELECT * FROM iv WHERE dur_us IS NOT NULL)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(dur_us) AS BIGINT) AS total_micros,
       ROUND(CAST(SUM(CAST(v6 AS DECIMAL(38,0)) * dur_us) AS DOUBLE)
             / (1000000.0 * SUM(dur_us)), 6) AS twap_value
FROM closed GROUP BY user_id ORDER BY user_id
"""


register_sql(
    "time_weighted_average_value",
    _twap_sql,
    ("events",),
    doc="Time-weighted average (TWAP) of each user's event value: every "
    "event opens a state interval closed by the key's next event (the "
    "scd2_build_from_events interval model); the average weights each "
    "state by its EXACT microsecond duration, not its sample count — the "
    "monitoring/finance aggregate naive AVG gets wrong under irregular "
    "sampling.  Values quantized to exact 1e-6 units, duration x value "
    "products summed in DECIMAL(38,0) (order-independent), per-key "
    "partitioned window only.",
    tags=("temporal", "window", "agg"),
)


# --------------------------------------------------------------------------
# weekly growth accounting: new / retained / resurrected / churned
# --------------------------------------------------------------------------
def _growth_sql(d: Dialect, events: str) -> str:
    # FLOOR (not `div`, which truncates toward zero) so a timestamp before
    # the 2024-01-01 anchor lands in the same negative week in both engines
    # (day -3 -> week -1, matching DuckDB floor-division)
    if d.name == "spark":
        days = "datediff(to_date(ts), to_date('2024-01-01'))"
    else:
        days = "datediff('day', DATE '2024-01-01', CAST(ts AS DATE))"
    week = f"CAST(FLOOR({days} / 7.0) AS BIGINT)"
    return f"""
WITH wk AS (
  SELECT DISTINCT user_id, CAST({week} AS BIGINT) AS week FROM {events}
),
lagged AS (
  SELECT user_id, week,
         LAG(week) OVER (PARTITION BY user_id ORDER BY week) AS prev_week,
         MIN(week) OVER (PARTITION BY user_id) AS first_week
  FROM wk
),
per_week AS (
  SELECT week,
         COUNT(*) AS active_users,
         SUM(CASE WHEN week = first_week THEN 1 ELSE 0 END) AS new_users,
         SUM(CASE WHEN prev_week = week - 1 THEN 1 ELSE 0 END) AS retained_users,
         SUM(CASE WHEN prev_week IS NOT NULL AND prev_week < week - 1 THEN 1 ELSE 0 END)
           AS resurrected_users
  FROM lagged GROUP BY week
)
SELECT w.week,
       CAST(w.active_users AS BIGINT) AS active_users,
       CAST(w.new_users AS BIGINT) AS new_users,
       CAST(w.retained_users AS BIGINT) AS retained_users,
       CAST(w.resurrected_users AS BIGINT) AS resurrected_users,
       CAST(COALESCE(p.active_users, 0) - w.retained_users AS BIGINT) AS churned_from_prev
FROM per_week w LEFT JOIN per_week p ON p.week = w.week - 1
ORDER BY w.week
"""


register_sql(
    "growth_accounting_weekly",
    _growth_sql,
    ("events",),
    doc="Weekly growth accounting: per week, active users split into new "
    "(first-ever week), retained (active previous week), resurrected "
    "(returning after a gap), plus churned-from-previous (last week's "
    "actives minus this week's retained) — the standard DAU/MAU growth "
    "decomposition.  (user, week) dedup then per-user partitioned lag "
    "windows (never global), one bounded per-week self-join; weeks are "
    "FLOOR(day-number / 7) in BOTH engines, so timestamps before the "
    "2024-01-01 anchor get the same (negative) week under Spark and "
    "DuckDB — no truncate-vs-floor divergence.",
    tags=("temporal", "retention", "window"),
)


# ---------------------------------------------------------------------------
# forward as-of join: first purchase AT-OR-AFTER each view, horizon-bounded
# ---------------------------------------------------------------------------
ASOF_FWD_HORIZON_DAYS = 7


@register(
    "asof_join_forward",
    oracle=f"""
WITH v AS (
  SELECT event_id AS view_id, user_id, ts AS view_ts
  FROM events WHERE event_type = 'view'
),
p AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
),
cand AS (
  SELECT v.view_id, v.user_id, v.view_ts, p.purchase_id, p.purchase_ts,
         ROW_NUMBER() OVER (PARTITION BY v.view_id
                            ORDER BY p.purchase_ts, p.purchase_id) AS rn
  FROM v JOIN p ON p.user_id = v.user_id
   AND p.purchase_ts >= v.view_ts
   AND p.purchase_ts <= v.view_ts + INTERVAL {ASOF_FWD_HORIZON_DAYS} DAY
)
SELECT view_id, user_id, view_ts, purchase_id, purchase_ts
FROM cand WHERE rn = 1
ORDER BY view_id
""",
    doc="FORWARD as-of join (the direction twin of asof_join_purchase_"
    "signup): each view matched to the user's FIRST purchase at-or-after "
    f"it, within {ASOF_FWD_HORIZON_DAYS} days.  Spark side is the "
    "union-window trick — one per-user partitioned window (ties: the "
    "purchase sorts after the view at equal ts so it is visible to the "
    "forward frame; then event_id), F.first(ignorenulls) over "
    "currentRow..unboundedFollowing — ONE shuffle, no join; the oracle is "
    "the equivalent bounded candidate join + rank (different plan, same "
    "rows, which is the point).",
    tags=("temporal", "asof", "window"),
)
def asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    )
    # view sorts BEFORE purchase at equal ts so the purchase is inside the
    # view row's forward frame (>= semantics)
    rank = F.when(F.col("event_type") == "view", F.lit(0)).otherwise(F.lit(1))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), rank, F.col("event_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    pur = F.when(
        F.col("event_type") == "purchase", F.struct("ts", "event_id")
    )
    enriched = ev.withColumn("next_purchase", F.first(pur, ignorenulls=True).over(w))
    return (
        enriched.where(
            (F.col("event_type") == "view")
            & F.col("next_purchase").isNotNull()
            & (
                F.col("next_purchase.ts")
                <= F.col("ts") + F.expr(f"INTERVAL {ASOF_FWD_HORIZON_DAYS} DAYS")
            )
        )
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
            F.col("next_purchase.event_id").alias("purchase_id"),
            F.col("next_purchase.ts").alias("purchase_ts"),
        )
        .orderBy("view_id")
    )


# ---------------------------------------------------------------------------
# multi-touch attribution credit over the view→purchase pairs
# ---------------------------------------------------------------------------
def _mta_sql(d: Dialect, events: str) -> str:
    return f"""
WITH v AS (
  SELECT event_id AS view_id, user_id, ts AS view_ts
  FROM {events} WHERE event_type = 'view'
),
p AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM {events} WHERE event_type = 'purchase'
),
pairs AS (
  SELECT p.purchase_id, v.view_id, v.view_ts
  FROM v JOIN p ON p.user_id = v.user_id
   AND p.purchase_ts >= v.view_ts
   AND p.purchase_ts <= v.view_ts + INTERVAL {MTA_HORIZON_MIN} MINUTE
),
ranked AS (
  SELECT purchase_id, view_id,
         ROW_NUMBER() OVER (PARTITION BY purchase_id
                            ORDER BY view_ts, view_id) AS pos,
         COUNT(*) OVER (PARTITION BY purchase_id) AS n_touch
  FROM pairs
),
classed AS (
  SELECT CASE WHEN n_touch = 1 THEN 'only'
              WHEN pos = 1 THEN 'first'
              WHEN pos = n_touch THEN 'last'
              ELSE 'middle' END AS touch_class,
         purchase_id,
         -- linear credit 1/n quantized to EXACT micro-units per row so the
         -- cross-engine sum is integer arithmetic (house double-sum idiom)
         CAST(ROUND(1000000.0 / n_touch) AS BIGINT) AS credit_micro
  FROM ranked
)
SELECT touch_class,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(COUNT(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
       ROUND(CAST(SUM(credit_micro) AS DOUBLE) / 1000000.0, 6)
         AS credited_conversions
FROM classed
GROUP BY touch_class
ORDER BY touch_class
"""


MTA_HORIZON_MIN = 24 * 60  # wider than the 1:1 interval join: multi-touch
# credit needs journeys with several views in scope, and a day is the
# conversion window a marketing report actually uses


register_sql(
    "multitouch_attribution_credit",
    _mta_sql,
    ("events",),
    doc="Multi-touch attribution: every view within the purchase horizon "
    f"({MTA_HORIZON_MIN} min) "
    "(the day-scale widening of attribution_interval_join's pairs) gets "
    "linear credit 1/n_touches, positions classed first/middle/last/"
    "only by a per-purchase PARTITIONED rank window; credited conversions "
    "sum exact micro-units (partition-order-independent).  The marketing "
    "twin of the interval join: who gets paid, not just who matched.",
    tags=("temporal", "attribution", "window"),
)


# ---------------------------------------------------------------------------
# day-of-week x hour activity heatmap (timezone-free integer arithmetic)
# ---------------------------------------------------------------------------
def _heatmap_sql(d: Dialect, events: str) -> str:
    daynum = d.epoch_day("ts")
    hour = "hour(ts)" if d.name == "spark" else "EXTRACT(hour FROM ts)"
    return f"""
WITH cells AS (
  SELECT CAST(({daynum} % 7 + 3) % 7 AS INT) AS dow,
         CAST({hour} AS INT) AS hour_of_day,
         COUNT(*) AS n
  FROM {events}
  GROUP BY ({daynum} % 7 + 3) % 7, {hour}
),
tot AS (SELECT SUM(n) AS n_all FROM cells)
SELECT dow,
       CASE dow WHEN 0 THEN 'mon' WHEN 1 THEN 'tue' WHEN 2 THEN 'wed'
                WHEN 3 THEN 'thu' WHEN 4 THEN 'fri' WHEN 5 THEN 'sat'
                ELSE 'sun' END AS dow_name,
       hour_of_day,
       CAST(n AS BIGINT) AS n_events,
       ROUND(CAST(n AS DOUBLE) / t.n_all, 6) AS share
FROM cells CROSS JOIN tot t
ORDER BY dow, hour_of_day
"""


register_sql(
    "activity_heatmap_dow_hour",
    _heatmap_sql,
    ("events",),
    doc="Day-of-week x hour activity heatmap: event counts and global "
    "share per (dow, hour) cell — the seasonality fingerprint behind "
    "cron-shaped ingest anomalies.  Weekday from pure epoch-day integer "
    "arithmetic ((day + 3) % 7, 1970-01-01 = Thursday, Monday = 0) — "
    "timezone-free and engine-agnostic, never a locale-dependent date "
    "function; one map-combinable aggregate over a 168-cell domain.",
    tags=("temporal", "timeseries", "agg"),
)


# --------------------------------------------------------------------------
# interval-overlap join: order shipment spans x sliding promo windows
# --------------------------------------------------------------------------
PROMO_LEN_DAYS = 28  # window length
PROMO_STRIDE_DAYS = 21  # window start spacing (overlapping windows)


@register(
    "interval_overlap_join",
    oracle=f"""
WITH iv AS (
  SELECT l_orderkey AS okey,
         datediff('day', (SELECT MIN(CAST(l_shipdate AS DATE)) FROM lineitem),
                  MIN(CAST(l_shipdate AS DATE))) AS a,
         datediff('day', (SELECT MIN(CAST(l_shipdate AS DATE)) FROM lineitem),
                  MAX(CAST(l_shipdate AS DATE))) AS b
  FROM lineitem GROUP BY l_orderkey
),
span AS (SELECT MAX(b) AS dmax FROM iv),
-- generate_series takes only constants in DuckDB: overshoot a fixed bound
-- (100k windows ~ 5,700 years of stride-21 data) and filter by the real max
win AS (
  SELECT CAST(g.i AS INT) AS widx, CAST(g.i * {PROMO_STRIDE_DAYS} AS BIGINT) AS ws,
         CAST(g.i * {PROMO_STRIDE_DAYS} + {PROMO_LEN_DAYS - 1} AS BIGINT) AS we
  FROM generate_series(0, 100000) AS g(i) CROSS JOIN span
  WHERE g.i <= span.dmax // {PROMO_STRIDE_DAYS}
),
ov AS (
  SELECT w.widx, w.ws,
         LEAST(iv.b, w.we) - GREATEST(iv.a, w.ws) + 1 AS odays
  FROM iv JOIN win w ON w.ws <= iv.b AND iv.a <= w.we
)
SELECT widx, CAST(ws AS BIGINT) AS window_start_day,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(odays) AS DOUBLE) / COUNT(*), 6) AS avg_overlap_days,
       CAST(MAX(odays) AS BIGINT) AS max_overlap_days
FROM ov GROUP BY widx, ws ORDER BY widx
""",
    doc=f"Interval-OVERLAP join (both sides are intervals — the sibling of "
    "the point-in-interval range join): per-order shipment spans "
    "[min, max l_shipdate] against sliding {PROMO_LEN_DAYS}-day promo "
    f"windows every {PROMO_STRIDE_DAYS} days.  Scale shape: each span "
    "computes its exact overlapping window-index range in closed form "
    "(integer ceil/floor on day offsets) and EXPLODES only those indices "
    "— an equi-join on widx whose fan-out is bounded by span_len/stride "
    "+ 2, never |orders| x |windows|; the oracle runs the direct theta "
    "join over the generated window table.  Per-window aggregate output.",
    tags=("temporal", "interval", "range-join"),
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # one scalar pass carries BOTH bounds: max over per-order max-shipdate
    # IS the global max, so imax derives from the same broadcast row and
    # the per-order span aggregate is planned once instead of twice
    # (guide §2.4 — the second reference re-ran the full lineitem
    # aggregate just to take its max)
    d0row = li.agg(
        F.min(F.to_date("l_shipdate")).alias("d0"),
        F.max(F.to_date("l_shipdate")).alias("dmax"),
    ).localCheckpoint()  # 1-row scalar, read by iv AND imax — one pass
    iv = (
        li.crossJoin(F.broadcast(d0row))
        .groupBy(F.col("l_orderkey").alias("okey"))
        .agg(
            F.datediff(F.min(F.to_date("l_shipdate")), F.first("d0")).alias("a"),
            F.datediff(F.max(F.to_date("l_shipdate")), F.first("d0")).alias("b"),
        )
    )
    imax = d0row.select(
        (F.datediff("dmax", "d0") / PROMO_STRIDE_DAYS).cast("int").alias("imax")
    )
    cand = (
        iv.crossJoin(F.broadcast(imax))
        .withColumn(
            "ilo",
            F.expr(
                f"case when a <= {PROMO_LEN_DAYS - 1} then 0 "
                f"else (a - {PROMO_LEN_DAYS - 1} + {PROMO_STRIDE_DAYS - 1}) div {PROMO_STRIDE_DAYS} end"
            ).cast("int"),
        )
        .withColumn("ihi", F.least(F.expr(f"b div {PROMO_STRIDE_DAYS}").cast("int"), F.col("imax")))
        .withColumn("widx", F.explode(F.expr("sequence(ilo, ihi)")))
        .withColumn("ws", (F.col("widx").cast("bigint") * PROMO_STRIDE_DAYS))
        .withColumn("we", F.col("ws") + (PROMO_LEN_DAYS - 1))
        .where((F.col("ws") <= F.col("b")) & (F.col("a") <= F.col("we")))
        .withColumn(
            "odays", F.least("b", "we") - F.greatest(F.col("a").cast("bigint"), F.col("ws")) + 1
        )
    )
    return (
        cand.groupBy("widx", "ws")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("odays").cast("double") / F.count(F.lit(1)), 6).alias(
                "avg_overlap_days"
            ),
            F.max("odays").cast("bigint").alias("max_overlap_days"),
        )
        .select(
            "widx",
            F.col("ws").cast("bigint").alias("window_start_day"),
            "n_orders",
            "avg_overlap_days",
            "max_overlap_days",
        )
        .orderBy("widx")
    )
