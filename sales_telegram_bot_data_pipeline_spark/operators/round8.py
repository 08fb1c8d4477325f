"""Round-8 registry additions — fourteen operators the 286-query registry still
lacked, each a classic warehouse / training-data-pipeline primitive:

- ``ewma_dyadic_smoothing`` — EXACT exponential smoothing (alpha = 1/2) of
  the weekly revenue series: dyadic weights are powers of two, so the
  whole window sum stays integer until one final division.
- ``seasonal_dow_decomposition`` — additive day-of-week seasonal profile
  + seasonality strength from exact integer moments.
- ``runs_test_daily_revenue`` — Wald–Wolfowitz runs test of randomness on
  the above/below-mean sign sequence of daily revenue (the
  distribution-free sibling of mann_kendall_trend).
- ``jl_projection_distortion_audit`` — Johnson–Lindenstrauss ±1 sign
  projection (d=64 → k=8) distance-distortion audit over the banded LSH
  candidate pairs.
- ``covisitation_item_pairs`` — bipartite user×item projection to
  item-item co-engagement with lift and Jaccard (the co-visitation
  recommendation primitive).
- ``key_gap_audit`` — distributed key-sequence gap detection (bounded
  gap-length histogram), rank-adjacency form.
- ``naive_forecast_backtest`` — MASE-discipline backtest: exact-integer
  MAE of the lag-1 / lag-7 / global-mean baselines on daily revenue.
- ``stylometric_burrows_delta`` — Burrows' Delta authorship distance
  between sources over the top-30 corpus words.
- ``behavioral_entropy_profile`` — per-user event-type Shannon entropy
  histogram (nano-nat row quantization before summation).
- ``shapley_channel_attribution`` — exact Shapley-value conversion
  attribution over the bounded channel catalog (2^n coalition table).
- ``conformal_coverage_audit`` — split-conformal quantile + held-out
  coverage gap for the quality classifier (order-statistic selection).
- ``source_vocab_overlap`` — type-level lexical Jaccard/containment
  matrix between sources (inverted-index self-join).
- ``brier_score_decomposition`` — Brier score with the generalized
  Murphy decomposition (within-bin terms emitted, identity pinned).
- ``kendall_tau_b`` — tie-corrected Kendall rank correlation from a
  bounded contingency grid (cell-pair mass, never row pairs).

All dual-dialect per repo conventions: exact integer/decimal aggregates
before any cross-partition sum, ROUND(...,6) fractional outputs, global
order via the distributed range-rank primitives (never a single-partition
window on the Spark side).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dialect import DUCKDB, SPARK, Dialect
from ..registry import register, register_sql
from ..sources.tables import load_table, table_view

# --------------------------------------------------------------------------
# exact dyadic EWMA over weekly revenue
# --------------------------------------------------------------------------
EWMA_DEPTH = 20  # 2^-20 tail mass ~1e-6: numerically invisible after ROUND 6



def _shl(d: Dialect, n: str) -> str:
    """2^n as exact BIGINT (no libm POW)."""
    if d.name == "spark":
        return f"shiftleft(cast(1 as bigint), {n})"
    return f"(CAST(1 AS BIGINT) << ({n}))"


_EWMA_WEEKLY_SQL = """
SELECT CAST(FLOOR(CAST({epoch_diff} AS BIGINT) / 7.0) AS BIGINT) AS x,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS cents
FROM {orders} GROUP BY 1
"""


def _ewma_sql(d: Dialect, orders: str, weekly_rel: str | None = None) -> str:
    D = EWMA_DEPTH
    w_num = _shl(d, f"{D} - CAST(a.x - b.x AS INT)")
    den = f"({_shl(d, str(D + 1))} - {_shl(d, f'{D} - m')})"
    weekly = weekly_rel or _EWMA_WEEKLY_SQL.format(
        epoch_diff=d.epoch_day('o_orderdate'), orders=orders
    )
    return f"""
WITH weekly AS ({weekly}),
w0 AS (SELECT MIN(x) AS x0 FROM weekly),
sm AS (
  -- alpha=1/2 EWMA truncated at depth {D}: numerator and the dyadic
  -- weights are EXACT integers (weeks absent from the series contribute
  -- zero revenue, which is what an order stream's silence means); m is
  -- how much history exists, so early weeks renormalize exactly
  SELECT a.x,
         CAST(LEAST({D}, a.x - w.x0) AS INT) AS m,
         CAST(SUM(CAST(b.cents * {w_num} AS DECIMAL(38,0))) AS DECIMAL(38,0))
           AS num
  FROM weekly a
  CROSS JOIN w0 w
  JOIN weekly b ON b.x <= a.x AND b.x >= a.x - {D}
  GROUP BY a.x, CAST(LEAST({D}, a.x - w.x0) AS INT)
)
SELECT x AS week,
       ROUND(CAST(num AS DOUBLE) / CAST({den} AS DOUBLE) / 100, 6)
         AS ewma_dollars
FROM sm
ORDER BY week
"""


@register(
    "ewma_dyadic_smoothing",
    oracle=_ewma_sql(DUCKDB, "orders"),
    doc="EXACT exponential smoothing of weekly revenue with alpha = 1/2: "
    "dyadic weights 2^-(d+1) are shifted integers, so the numerator is a "
    "single exact DECIMAL(38,0) sum over a depth-20 banded self-join of "
    "the CALENDAR-BOUNDED weekly relation (21 terms per output week, "
    "missing weeks = zero revenue), the truncated-window normalizer "
    "2^21 - 2^(20-m) is integer too, and libm never enters — unlike a "
    "general-alpha EWMA, whose float power chain is partition-order- "
    "and engine-sensitive.  One final division per row, ROUND 6.  The "
    "smoothing sibling of cusum/control-chart in the SPC family.",
    tags=("analytics", "timeseries", "exact"),
)
def ewma_dyadic_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table_view(spark, sf_dir, "orders")
    # weekly feeds THREE consumers (w0 + both band-join sides): Spark
    # inlines CTEs, so materialize the orders scan+aggregate once
    w = spark.sql(
        _EWMA_WEEKLY_SQL.format(epoch_diff=SPARK.epoch_day("o_orderdate"), orders=orders)
    ).localCheckpoint(eager=False)
    return spark.sql(_ewma_sql(SPARK, orders, weekly_rel="SELECT x, cents FROM {w}"), w=w)


# --------------------------------------------------------------------------
# day-of-week additive seasonal decomposition of daily revenue
# --------------------------------------------------------------------------
def _seasonal_sql(d: Dialect, orders: str) -> str:
    # dow from epoch-day arithmetic, NOT the engines' dayofweek() (Spark is
    # 1=Sunday..7, DuckDB 0=Sunday..6): (epoch_day + 4) % 7 gives
    # 0=Sunday..6 identically in both (1970-01-01 was a Thursday).
    return f"""
WITH daily AS (
  SELECT CAST({d.epoch_day('o_orderdate')} AS BIGINT) AS day_x,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS cents
  FROM {orders} GROUP BY 1
),
by_dow AS (
  SELECT CAST((day_x + 4) % 7 AS INT) AS dow,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(cents) AS BIGINT) AS s,
         CAST(SUM(CAST(cents AS DECIMAL(19,0)) * cents) AS DECIMAL(38,0)) AS q
  FROM daily GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_days) AS BIGINT) AS n,
         CAST(SUM(s) AS BIGINT) AS st,
         CAST(SUM(q) AS DECIMAL(38,0)) AS qt,
         -- residual SS after removing per-dow means: sum_d (Q_d - S_d^2/n_d)
         SUM(CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n_days) AS ss_res
  FROM by_dow
)
SELECT b.dow, b.n_days,
       ROUND(CAST(b.s AS DOUBLE) / b.n_days / 100, 6) AS mean_daily_dollars,
       ROUND((CAST(b.s AS DOUBLE) / b.n_days)
             / (CAST(t.st AS DOUBLE) / t.n), 6) AS seasonal_index,
       -- fraction of daily-revenue variance explained by the dow effect:
       -- 1 - SS_res / SS_tot, from EXACT integer moments (the sums above
       -- are exact; only this final scalar expression is floating)
       ROUND(1.0e0 - t.ss_res
             / NULLIF(CAST(t.qt AS DOUBLE) - CAST(t.st AS DOUBLE) * t.st / t.n, 0),
             6) AS seasonal_strength
FROM by_dow b CROSS JOIN tot t
ORDER BY b.dow
"""


register_sql(
    "seasonal_dow_decomposition",
    _seasonal_sql,
    ("orders",),
    doc="Additive day-of-week seasonal decomposition of daily revenue: "
    "per-dow mean level, seasonal index (dow mean / global mean) and the "
    "seasonality STRENGTH (1 - SS_residual/SS_total — variance explained "
    "by the dow effect).  dow comes from epoch-day modular arithmetic "
    "((d+4)%7), not the engines' divergent dayofweek(); all moments "
    "(n, sum, sum-of-squares) are exact BIGINT/DECIMAL aggregates per "
    "dow — 7 rows — and only the final 7-row projection is floating.  "
    "The seasonal sibling of activity_heatmap_dow_hour (counts) and "
    "circular_time_profile (phase).",
    tags=("analytics", "timeseries", "agg"),
)


# --------------------------------------------------------------------------
# Wald–Wolfowitz runs test on daily revenue signs
# --------------------------------------------------------------------------
_RUNS_FINAL = """
SELECT n AS n_days, n1 AS n_above, (n - n1) AS n_below, r AS n_runs,
       ROUND(2.0e0 * n1 * (n - n1) / n + 1, 6) AS expected_runs,
       ROUND((r - (2.0e0 * n1 * (n - n1) / n + 1))
             / NULLIF(SQRT((2.0e0 * n1 * (n - n1))
                           * (2.0e0 * n1 * (n - n1) - n)
                           -- NULLIF the inner denominator too: at n_days=1
                           -- the bare division is 0/0 -> NaN on DuckDB vs
                           -- NULL on Spark (ADVICE r8); NULL/NULL agrees
                           / NULLIF(CAST(n AS DOUBLE) * n * (n - 1), 0)), 0),
             6) AS z_score
FROM {rel}
"""


def _runs_oracle() -> str:
    d = DUCKDB
    return f"""
WITH daily AS (
  SELECT CAST({d.epoch_day('o_orderdate')} AS BIGINT) AS day_x,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS st FROM daily),
signs AS (
  SELECT day_x, (CAST(cents AS DECIMAL(38,0)) * t.n >= t.st) AS above
  FROM daily CROSS JOIN tot t
),
flips AS (
  SELECT CASE WHEN above <> LAG(above) OVER (ORDER BY day_x)
              THEN 1 ELSE 0 END AS flip
  FROM signs
),
s AS (
  SELECT t.n AS n,
         (SELECT CAST(SUM(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT) FROM signs) AS n1,
         (SELECT CAST(1 + SUM(flip) AS BIGINT) FROM flips) AS r
  FROM tot t
)
{_RUNS_FINAL.format(rel="s")}
"""


@register(
    "runs_test_daily_revenue",
    oracle=_runs_oracle(),
    doc="Wald–Wolfowitz runs test of randomness on the daily revenue "
    "series: each day signs above/below the global mean with the "
    "INTEGER-EXACT comparison cents*n >= total (never a double mean), "
    "runs = 1 + sign flips between CONSECUTIVE observed days.  Spark "
    "side ranks days through the distributed range-rank primitive and "
    "counts flips via a rank -> rank+1 equi self-join (no global-window "
    "LAG); oracle uses the window LAG form.  z from the exact "
    "(n, n1, R) triple in one final scalar.  The distribution-free "
    "randomness check beside mann_kendall_trend (monotone trend) and "
    "acf_daily_revenue (serial correlation).",
    tags=("analytics", "stats", "distributed-rank"),
)
def runs_test_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalars_extra import range_ranked

    orders = table_view(spark, sf_dir, "orders")
    d = SPARK
    daily = spark.sql(f"""
SELECT CAST({d.epoch_day('o_orderdate')} AS BIGINT) AS day_x,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS cents
FROM {orders} GROUP BY 1
""")
    ranked, n = range_ranked(daily, ["day_x"])
    if ranked is None:
        return spark.createDataFrame(
            [],
            "n_days bigint, n_above bigint, n_below bigint, n_runs bigint, "
            "expected_runs double, z_score double",
        )
    tot = ranked.agg(F.sum("cents").cast("bigint").alias("st"))
    signs = ranked.crossJoin(F.broadcast(tot)).select(
        "r",
        (F.col("cents").cast("decimal(38,0)") * n >= F.col("st")).alias("above"),
    ).localCheckpoint(eager=False)  # feeds both the flip join and n1
    a, b = signs.alias("a"), signs.alias("b")
    flips = a.join(b, F.col("b.r") == F.col("a.r") + 1).agg(
        F.sum(
            F.when(F.col("a.above") != F.col("b.above"), 1).otherwise(0)
        ).alias("f")
    )
    s = (
        signs.agg(
            F.sum(F.when(F.col("above"), 1).otherwise(0)).cast("bigint").alias("n1")
        )
        .crossJoin(F.broadcast(flips))
        .select(
            F.lit(n).cast("bigint").alias("n"),
            "n1",
            (F.lit(1) + F.coalesce(F.col("f"), F.lit(0))).cast("bigint").alias("r"),
        )
    )
    # format placeholder, not string surgery on rendered SQL (the CUSUM
    # advisory class: a .replace("FROM s", ...) would also prefix-rewrite
    # any future "FROM signs"/"FROM scored")
    return spark.sql(_RUNS_FINAL, rel=s)


# --------------------------------------------------------------------------
# Johnson–Lindenstrauss projection distortion audit
# --------------------------------------------------------------------------
JL_DIM = 64  # embedding dimensionality of the corpus (asserted by tests)
JL_K = 8  # projected dimensionality: E[distortion] ~ sqrt(2/k)


def _jl_sign(j: int, i: int) -> int:
    """Portable ±1 sign for (projection j, input dim i) from md5 parity —
    a Python literal at template-build time, so neither engine hashes."""
    h = int(hashlib.md5(f"jl|{j}|{i}".encode()).hexdigest()[:15], 16)
    return 1 if h % 2 == 0 else -1


def _jl_proj_rel(d: Dialect, table: str) -> str:
    """(vec_id, q, p0..p{JL_K-1}): micro-unit quantized components plus the
    JL_K exact-integer projected coordinates (signed sums of q)."""
    q = d.transform(
        "embedding", "x -> cast(round(cast(x as double) * 1000000) as bigint)"
    )
    projs = []
    for j in range(JL_K):
        # integer array literal (d.array_lit quotes items as strings)
        items = ", ".join(str(_jl_sign(j, i)) for i in range(JL_DIM))
        signs = f"array({items})" if d.name == "spark" else f"[{items}]"
        if d.name == "spark":
            p = (
                f"aggregate(zip_with(q, {signs}, (x, y) -> x * y), "
                f"cast(0 as bigint), (a, v) -> a + v)"
            )
        else:
            p = (
                f"list_sum(list_transform(generate_series(1, {JL_DIM}), "
                f"i -> q[i] * ({signs})[i]))"
            )
        projs.append(f"CAST({p} AS BIGINT) AS p{j}")
    return (
        f"SELECT vec_id, q, {', '.join(projs)} "
        f"FROM (SELECT vec_id, {q} AS q FROM {table}) base"
    )


def _jl_sql(d: Dialect, table: str) -> str:
    from .similarity import _banded_view

    bv = _banded_view(d, table)
    proj = _jl_proj_rel(d, table)
    if d.name == "spark":
        exact_d2 = (
            "aggregate(zip_with(pa.q, pb.q, (x, y) -> (x - y) * (x - y)), "
            "cast(0 as bigint), (a, v) -> a + v)"
        )
    else:
        exact_d2 = (
            "list_sum(list_transform(generate_series(1, len(pa.q)), "
            "i -> (pa.q[i] - pb.q[i]) * (pa.q[i] - pb.q[i])))"
        )
    proj_d2 = " + ".join(
        f"(pa.p{j} - pb.p{j}) * (pa.p{j} - pb.p{j})" for j in range(JL_K)
    )
    return f"""
WITH cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM ({bv}) a JOIN ({bv}) b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
proj AS ({proj}),
err AS (
  SELECT c.vec_a, c.vec_b,
         -- E||Sx||^2 = k * ||x||^2 for a ±1 sign matrix (cross terms have
         -- zero mean), so the unbiased distance estimate is proj/k
         CAST(ROUND(ABS(
           CAST(({proj_d2}) AS DOUBLE)
             / ({JL_K}.0e0 * NULLIF(CAST(({exact_d2}) AS DOUBLE), 0))
           - 1.0e0
         ) * 1000000) AS BIGINT) AS err_u
  FROM cand c
  JOIN proj pa ON pa.vec_id = c.vec_a
  JOIN proj pb ON pb.vec_id = c.vec_b
)
SELECT CAST(COUNT(err_u) AS BIGINT) AS n_pairs,
       -- zero-exact-distance pairs (identical quantized vectors) have no
       -- defined distortion ratio: they are COUNTED VISIBLY here instead
       -- of silently diluting the mean (review fix)
       CAST(COUNT(*) - COUNT(err_u) AS BIGINT) AS n_degenerate,
       ROUND(CAST(SUM(err_u) AS DOUBLE) / NULLIF(COUNT(err_u), 0) / 1000000, 6)
         AS mean_abs_distortion,
       ROUND(CAST(MAX(err_u) AS DOUBLE) / 1000000, 6) AS max_abs_distortion,
       ROUND(CAST(SUM(CASE WHEN err_u <= 200000 THEN 1 ELSE 0 END) AS DOUBLE)
             / NULLIF(COUNT(err_u), 0), 6) AS frac_within_02
FROM err
"""


register_sql(
    "jl_projection_distortion_audit",
    _jl_sql,
    ("embeddings",),
    doc=f"Johnson–Lindenstrauss ±1 sign-projection distortion audit "
    f"(d={JL_DIM} -> k={JL_K}): squared-distance ratio (proj/k — the "
    "unbiased estimator for a ±1 sign matrix) vs the exact distance "
    "over the banded LSH candidate pairs — the "
    "pre-flight number for replacing full vectors with a k-dim sketch "
    "in a first-pass distance filter at 100 TB (8x narrower rows).  "
    "Signs are md5-parity PYTHON LITERALS baked into the template; "
    "components quantize to micro-unit BIGINTs so projected coordinates "
    "and both squared distances are EXACT integers — only the final "
    "per-pair ratio is floating, and it quantizes to micro-units before "
    "the order-free aggregate.  Audit sibling of "
    "sq8_quantization_error_audit (magnitude sketch) and "
    "matryoshka_recall_audit (prefix truncation).",
    tags=("similarity", "audit", "sketch"),
)


# --------------------------------------------------------------------------
# co-visitation: bipartite user×item projection to item-item weights
# --------------------------------------------------------------------------
_COVIS_SQL = """
WITH ut AS ({incidence}),
n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t FROM ut GROUP BY 1),
nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM ut),
pairs AS (
  SELECT a.event_type AS item_a, b.event_type AS item_b,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT p.item_a, p.item_b, p.n_ab, na.n_t AS n_a, nb.n_t AS n_b,
       ROUND(CAST(p.n_ab AS DOUBLE) * u.n_users
             / (CAST(na.n_t AS DOUBLE) * nb.n_t), 6) AS lift,
       ROUND(CAST(p.n_ab AS DOUBLE)
             / (na.n_t + nb.n_t - p.n_ab), 6) AS jaccard
FROM pairs p
JOIN n na ON na.event_type = p.item_a
JOIN n nb ON nb.event_type = p.item_b
CROSS JOIN nu u
ORDER BY p.item_a, p.item_b
"""


_COVIS_UT_SQL = "SELECT DISTINCT user_id, event_type FROM {events}"


@register(
    "covisitation_item_pairs",
    oracle=_COVIS_SQL.format(incidence=_COVIS_UT_SQL.format(events="events")),
    doc="Bipartite projection of the user×event_type engagement graph to "
    "item-item co-visitation weights — the recommendation primitive "
    "('users who did A also did B'): distinct (user, item) incidence, "
    "per-user item-pair self-join (fan-out bounded by the ITEM CATALOG "
    "per user, |catalog|^2 worst case — at real catalog sizes cap each "
    "user's item set the way dedup_containment df-caps its index), "
    "exact-integer supports, lift = P(ab)/(P(a)P(b)) and Jaccard from "
    "one final projection.  The user-behavior sibling of "
    "collocation_pmi (words) and association_rules_lift (baskets: "
    "order-grain, confidence-directed).",
    tags=("analytics", "graph", "self-join"),
)
def covisitation_item_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table_view(spark, sf_dir, "events")
    # the distinct incidence relation feeds FOUR consumers (margins, the
    # user count, both pair-join sides): materialize the events
    # scan+DISTINCT once — at 100 TB re-deriving it per consumer is the
    # dominant cost, not the bounded |catalog|^2 tail
    ut = spark.sql(_COVIS_UT_SQL.format(events=events)).localCheckpoint(eager=False)
    return spark.sql(
        _COVIS_SQL.format(incidence="SELECT user_id, event_type FROM {ut}"), ut=ut
    )


# --------------------------------------------------------------------------
# key-sequence gap audit (distributed, histogram output)
# --------------------------------------------------------------------------
def _gap_hist_oracle() -> str:
    return """
WITH keys AS (
  SELECT DISTINCT CAST(o_orderkey AS BIGINT) AS k FROM orders
  WHERE o_orderstatus = 'F'
),
nexts AS (
  SELECT k, LEAD(k) OVER (ORDER BY k) AS nk FROM keys
),
gaps AS (
  SELECT CAST(nk - k - 1 AS BIGINT) AS gap_len FROM nexts
  WHERE nk IS NOT NULL AND nk - k > 1
)
SELECT gap_len,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(gap_len * COUNT(*) AS BIGINT) AS missing_keys
FROM gaps GROUP BY gap_len
ORDER BY gap_len
"""


@register(
    "key_gap_audit",
    oracle=_gap_hist_oracle(),
    doc="Distributed key-sequence gap audit: find every run of missing "
    "keys in a (filtered) key sequence and emit the BOUNDED gap-length "
    "histogram (n_gaps + missing mass per length) — the data-quality "
    "check for 'did the extract drop an ID range'.  The filter "
    "(status='F') is the partition being audited; the dense full "
    "keyspace would return zero rows.  Spark side gets consecutive "
    "neighbors from the distributed range-rank primitive + a "
    "rank -> rank+1 equi self-join — never a single-partition LEAD "
    "window (the oracle keeps the window form).  Sibling of "
    "referential_integrity_audit (cross-table) and snapshot_diff_audit "
    "(cross-version).",
    tags=("audit", "distributed-rank", "data-quality"),
)
def key_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalars_extra import range_ranked

    keys = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").cast("bigint").alias("k"))
        .distinct()
    )
    ranked, n = range_ranked(keys, ["k"])
    if ranked is None:
        return spark.createDataFrame(
            [], "gap_len bigint, n_gaps bigint, missing_keys bigint"
        )
    a, b = ranked.alias("a"), ranked.alias("b")
    return (
        a.join(b, F.col("b.r") == F.col("a.r") + 1)
        .where(F.col("b.k") - F.col("a.k") > 1)
        .select((F.col("b.k") - F.col("a.k") - 1).cast("bigint").alias("gap_len"))
        .groupBy("gap_len")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_gaps"))
        .select(
            "gap_len",
            "n_gaps",
            (F.col("gap_len") * F.col("n_gaps")).cast("bigint").alias("missing_keys"),
        )
        .orderBy("gap_len")
    )


# --------------------------------------------------------------------------
# naive forecast backtest (MASE discipline): which zero-parameter baseline
# does this series beat?
# --------------------------------------------------------------------------
def _backtest_sql(d: Dialect, orders: str, daily_rel: str | None = None) -> str:
    daily = daily_rel or f"""
  SELECT CAST({d.epoch_day('o_orderdate')} AS BIGINT) AS day_x,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS cents
  FROM {orders} GROUP BY 1
"""
    return f"""
WITH daily AS ({daily}),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS st
  FROM daily
),
scored AS (
  -- calendar-lag joins (equi on day arithmetic, shuffle-free after the
  -- first co-partition): a missing calendar day simply contributes no
  -- scored row, the standard backtest convention
  SELECT a.day_x,
         ABS(a.cents - n1.cents) AS e_naive,
         ABS(a.cents - n7.cents) AS e_seasonal,
         -- mean forecast error in EXACT scaled units: |n*x - st| / n
         ABS(CAST(a.cents AS DECIMAL(38,0)) * t.n - t.st) AS e_mean_scaled
  FROM daily a
  JOIN daily n1 ON n1.day_x = a.day_x - 1
  JOIN daily n7 ON n7.day_x = a.day_x - 7
  CROSS JOIN tot t
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_scored,
       ROUND(CAST(SUM(e_naive) AS DOUBLE) / COUNT(*) / 100, 6)
         AS mae_naive_dollars,
       ROUND(CAST(SUM(e_seasonal) AS DOUBLE) / COUNT(*) / 100, 6)
         AS mae_seasonal_dollars,
       ROUND(CAST(SUM(e_mean_scaled) AS DOUBLE) / MAX(t2.n) / COUNT(*) / 100, 6)
         AS mae_mean_dollars,
       ROUND(CAST(SUM(e_seasonal) AS DOUBLE)
             / NULLIF(CAST(SUM(e_naive) AS DOUBLE), 0), 6) AS mase_seasonal
FROM scored CROSS JOIN tot t2
"""


@register(
    "naive_forecast_backtest",
    oracle=_backtest_sql(DUCKDB, "orders"),
    doc="Zero-parameter forecast backtest on daily revenue (the MASE "
    "discipline: any model must beat these baselines): MAE of the naive "
    "lag-1 forecast, the seasonal lag-7 forecast, and the global-mean "
    "forecast, plus MASE (seasonal/naive error ratio).  Every error is "
    "an EXACT integer (cents for the lag forecasts; |n*x - st| scaled "
    "cents for the mean forecast — never a double mean), summed "
    "order-free; lags are calendar EQUI joins on day arithmetic, not "
    "rank windows.  The evaluation-side sibling of "
    "ewma_dyadic_smoothing (model) and acf_daily_revenue (diagnostic).",
    tags=("analytics", "timeseries", "evaluation"),
)
def naive_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table_view(spark, sf_dir, "orders")
    # daily feeds four consumers (tot + three join sides): materialize once
    d = spark.sql(f"""
SELECT CAST({SPARK.epoch_day('o_orderdate')} AS BIGINT) AS day_x,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS cents
FROM {orders} GROUP BY 1
""").localCheckpoint(eager=False)
    return spark.sql(
        _backtest_sql(SPARK, orders, daily_rel="SELECT day_x, cents FROM {d}"), d=d
    )


# --------------------------------------------------------------------------
# Burrows' Delta stylometry between sources
# --------------------------------------------------------------------------
DELTA_TOP_WORDS = 30


def _burrows_sql(d: Dialect, table: str) -> str:
    w = d.splitws("lower(text)")
    if d.name == "spark":
        occ = (
            f"SELECT source, word FROM "
            f"(SELECT source, {w} AS ws FROM {table}) s "
            f"LATERAL VIEW explode(ws) t AS word"
        )
    else:
        occ = (
            f"SELECT source, unnest(ws) AS word FROM "
            f"(SELECT source, {w} AS ws FROM {table}) s"
        )
    return f"""
WITH occ AS ({occ}),
counts AS (
  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
  FROM occ GROUP BY source, word
),
src_tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_src FROM counts GROUP BY source),
top_words AS (
  SELECT word FROM (
    SELECT word, SUM(c) AS tc FROM counts GROUP BY word
    ORDER BY tc DESC, word LIMIT {DELTA_TOP_WORDS}
  ) tw
),
-- relative frequency per (source, word) over the FULL word grid (absent
-- word = 0 frequency), QUANTIZED to pico-unit integers at the row
-- (review fix: a floating SUM(f*f)/n - AVG(f)^2 sigma suffers
-- catastrophic cancellation — bit-identical frequencies made the
-- variance epsilon-NEGATIVE, a hard SQRT range error on DuckDB and NaN
-- on Spark; with integer moments ns*s2 - s1^2 >= 0 EXACTLY and is zero
-- exactly when all frequencies tie)
freq AS (
  SELECT st.source, t.word,
         CAST(ROUND((CAST(COALESCE(c.c, 0) AS DOUBLE) / st.n_src)
                    * 1000000000000) AS BIGINT) AS fq
  FROM src_tot st
  CROSS JOIN top_words t
  LEFT JOIN counts c ON c.source = st.source AND c.word = t.word
),
wstats AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS ns,
         CAST(SUM(fq) AS BIGINT) AS s1,
         CAST(SUM(CAST(fq AS DECIMAL(19,0)) * fq) AS DECIMAL(38,0)) AS s2
  FROM freq GROUP BY word
),
z AS (
  -- z = (fq - s1/ns) / (sqrt(V)/ns) = (fq*ns - s1) / sqrt(V),
  -- V = ns*s2 - s1^2: exact integers into one sqrt + one division —
  -- identical IEEE ops on identical values in both engines
  SELECT f.source, f.word,
         CAST(f.fq * w.ns - w.s1 AS DOUBLE)
           / NULLIF(SQRT(CAST(w.ns * w.s2 - CAST(w.s1 AS DECIMAL(19,0)) * w.s1
                              AS DOUBLE)), 0) AS z
  FROM freq f JOIN wstats w ON w.word = f.word
)
SELECT a.source AS source_a, b.source AS source_b,
       ROUND(AVG(ABS(a.z - b.z)), 6) AS burrows_delta
FROM z a JOIN z b ON a.word = b.word AND a.source < b.source
GROUP BY a.source, b.source
ORDER BY source_a, source_b
"""


register_sql(
    "stylometric_burrows_delta",
    _burrows_sql,
    ("documents",),
    doc=f"Burrows' Delta (the standard stylometric / authorship distance) "
    f"between every source pair: the {DELTA_TOP_WORDS} corpus-wide most "
    "frequent words (deterministic count-desc, word-asc TakeOrdered) "
    "form the feature set; per-source relative frequencies z-score "
    "against the source population per word; Delta = mean |z_a - z_b|.  "
    "One tokenize pass collapses the corpus to (source, word) counts; "
    "everything after is bounded by |sources| x TOP_WORDS.  Frequencies "
    "quantize to pico-unit integers at the row, so the per-word variance "
    "ns*s2 - s1^2 is EXACT and non-negative (a floating two-pass sigma "
    "went epsilon-negative on tied frequencies — SQRT range error on "
    "DuckDB, NaN on Spark); z = (fq*ns - s1)/sqrt(V) is one sqrt + one "
    "division on exact integers.  Sources with a missing top word "
    "contribute frequency 0 through the grid LEFT JOIN (the detail "
    "naive implementations drop).  Style-similarity sibling of "
    "welch_ttest_sources (length) and anova_sources_doclen (variance).",
    tags=("textops", "stats", "stylometry"),
)


# --------------------------------------------------------------------------
# behavioral entropy profile (per-user event-type diversity)
# --------------------------------------------------------------------------
ENTROPY_BUCKET_NANO = 250_000_000  # 0.25-nat histogram buckets


def _entropy_sql(d: Dialect, events: str) -> str:
    # per-(user, type) plugin-entropy term -(c/n)ln(c/n), quantized to
    # integer NANO-NATS at the row before any cross-partition sum (the
    # repo's standing libm discipline: LN crosses engine libm, so each
    # term is floored to a lattice both engines agree on empirically;
    # the per-user SUM of quantized terms is then exact)
    term = (
        "CAST(ROUND((-(CAST(c AS DOUBLE) / n) * LN(CAST(c AS DOUBLE) / n))"
        " * 1000000000) AS BIGINT)"
    )
    bucket = d.idiv("h_nano", str(ENTROPY_BUCKET_NANO))
    return f"""
WITH ut AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM {events} GROUP BY user_id, event_type
),
un AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS n FROM ut GROUP BY user_id),
terms AS (
  SELECT ut.user_id, {term} AS t_nano
  FROM ut JOIN un ON un.user_id = ut.user_id
),
peruser AS (
  SELECT user_id, CAST(SUM(t_nano) AS BIGINT) AS h_nano
  FROM terms GROUP BY user_id
)
SELECT CAST({bucket} AS INT) AS entropy_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       ROUND(CAST(SUM(h_nano) AS DOUBLE) / COUNT(*) / 1000000000, 6)
         AS mean_entropy_nats
FROM peruser
GROUP BY 1 ORDER BY entropy_bucket
"""


register_sql(
    "behavioral_entropy_profile",
    _entropy_sql,
    ("events",),
    doc="Per-user behavioral diversity: Shannon entropy (nats) of each "
    "user's event-type distribution, profiled as a 0.25-nat histogram "
    "(bots and single-action users pool at 0; engaged users approach "
    "ln|types|).  The per-(user,type) term -(c/n)ln(c/n) quantizes to "
    "integer nano-nats AT THE ROW before the per-user sum — LN is the "
    "only libm crossing and it is per-row, never accumulated in floating "
    "point (same empirical-lattice contract as freshness_decay_profile). "
    " Two map-combinable groupBys + a bounded histogram.  The "
    "user-behavior sibling of lexical_diversity (documents) and "
    "user_cadence_profile (timing).",
    tags=("analytics", "stats", "entropy"),
)


# --------------------------------------------------------------------------
# exact Shapley-value channel attribution (bounded channel catalog)
# --------------------------------------------------------------------------
SHAPLEY_CHANNELS = ("click", "error", "signup", "view")  # non-conversion types
# pinned by tests against the data's actual event_type domain


def _shapley_table_rows() -> list[tuple[str, int, int, int]]:
    """(channel, s_mask, s_with_mask, coef) for every channel i and every
    coalition S not containing i; coef = |S|! * (n-1-|S|)! so that
    phi_i = SUM(coef * (v(S+i) - v(S))) / n! — all weights exact integers
    generated at template-build time."""
    import math as _m

    n = len(SHAPLEY_CHANNELS)
    rows = []
    for i, ch in enumerate(SHAPLEY_CHANNELS):
        for s in range(1 << n):
            if s & (1 << i):
                continue
            size = bin(s).count("1")
            coef = _m.factorial(size) * _m.factorial(n - 1 - size)
            rows.append((ch, s, s | (1 << i), coef))
    return rows


def _shapley_sql(d: Dialect, events: str) -> str:
    import math as _m

    n = len(SHAPLEY_CHANNELS)
    bit = " ".join(
        f"WHEN '{c}' THEN {1 << i}" for i, c in enumerate(SHAPLEY_CHANNELS)
    )
    vals = ", ".join(
        f"('{ch}', {s}, {si}, {coef})" for ch, s, si, coef in _shapley_table_rows()
    )
    chan_vals = ", ".join(
        f"('{c}', {1 << i})" for i, c in enumerate(SHAPLEY_CHANNELS)
    )
    return f"""
WITH per_user AS (
  SELECT user_id,
         CAST(SUM(DISTINCT CASE event_type {bit} ELSE 0 END) AS INT) AS mask,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM {events} GROUP BY user_id
),
coalitions AS (
  SELECT mask, CAST(COUNT(*) AS BIGINT) AS n_u,
         CAST(SUM(conv) AS BIGINT) AS n_conv
  FROM per_user GROUP BY mask
),
shap AS (
  SELECT * FROM (VALUES {vals}) AS t(channel, s_mask, si_mask, coef)
),
contrib AS (
  -- v(S) = conversion rate of users exposed to EXACTLY S; unseen
  -- coalitions contribute v = 0 (the standard simplified Shapley
  -- attribution over observed exposure sets)
  SELECT sh.channel,
         sh.coef * (COALESCE(CAST(ci.n_conv AS DOUBLE) / ci.n_u, 0)
                    - COALESCE(CAST(cs.n_conv AS DOUBLE) / cs.n_u, 0)) AS w
  FROM shap sh
  LEFT JOIN coalitions ci ON ci.mask = sh.si_mask
  LEFT JOIN coalitions cs ON cs.mask = sh.s_mask
),
exposed AS (
  -- n_exposed from the BOUNDED coalition relation (<= 2^n rows), not a
  -- correlated subquery (Spark rejects those inside aggregates) and not
  -- a per-user rescan
  SELECT ch.channel,
         CAST(COALESCE(SUM(CASE WHEN (co.mask & ch.bit) <> 0
                                THEN co.n_u END), 0) AS BIGINT) AS n_exposed
  FROM (VALUES {chan_vals}) AS ch(channel, bit)
  CROSS JOIN coalitions co
  GROUP BY ch.channel
)
SELECT c.channel, e.n_exposed,
       ROUND(SUM(c.w) / {_m.factorial(n)}, 6) AS shapley_credit
FROM contrib c
JOIN exposed e ON e.channel = c.channel
GROUP BY c.channel, e.n_exposed
ORDER BY c.channel
"""


register_sql(
    "shapley_channel_attribution",
    _shapley_sql,
    ("events",),
    doc="EXACT Shapley-value conversion attribution over the bounded "
    f"channel catalog {SHAPLEY_CHANNELS}: each user collapses to an "
    "exposure BITMASK + converted flag (one groupBy), coalitions to "
    "(mask, users, conversions) — at most 2^|channels| rows — and the "
    "Shapley sum runs over a PYTHON-GENERATED literal (channel, S, S+i, "
    "|S|!(n-1-|S|)!) table joined to the coalition rates; unseen "
    "coalitions contribute v=0 (the standard simplified attribution "
    "game).  Credits satisfy the efficiency axiom "
    "sum_i phi_i = v(full) - v(empty) (test-pinned).  The "
    "order-insensitive game-theoretic sibling of "
    "multitouch_attribution_credit's position rules; everything after "
    "the per-user groupBy is O(2^n) bounded.",
    tags=("analytics", "attribution", "agg"),
)


# --------------------------------------------------------------------------
# split-conformal coverage audit for the quality classifier
# --------------------------------------------------------------------------
CONFORMAL_ALPHA_PCT = 10  # target 90% coverage


def _conformal_scored_sql(d: Dialect, table: str) -> str:
    from .lm_quality import _logreg_sql

    scored = _logreg_sql(d, table)
    cal = f"{d.md5_prefix_int(d.strcast('doc_id'))} % 2 = 0"
    return f"""
SELECT doc_id,
       CAST(ROUND((CASE WHEN lang = 'en' THEN 1.0e0 - quality_prob
                        ELSE quality_prob END) * 1000000) AS BIGINT) AS s_u,
       ({cal}) AS is_cal
FROM ({scored}) q
"""


def _conformal_final_sql() -> str:
    a = CONFORMAL_ALPHA_PCT
    # one-row qh CROSS JOINed through a single pass over the scored
    # relation (Spark rejects scalar subqueries inside aggregates)
    return f"""
SELECT agg.n_cal, agg.n_eval,
       CAST({a} AS DOUBLE) / 100 AS alpha,
       ROUND(CAST(q.q_u AS DOUBLE) / 1000000, 6) AS q_hat,
       ROUND(CAST(agg.n_cov AS DOUBLE) / NULLIF(agg.n_eval, 0), 6) AS coverage,
       ROUND(CAST(agg.n_cov AS DOUBLE) / NULLIF(agg.n_eval, 0)
             - (1.0e0 - CAST({a} AS DOUBLE) / 100), 6) AS coverage_gap
FROM (
  SELECT CAST(SUM(CASE WHEN is_cal THEN 1 ELSE 0 END) AS BIGINT) AS n_cal,
         CAST(SUM(CASE WHEN NOT is_cal THEN 1 ELSE 0 END) AS BIGINT) AS n_eval,
         CAST(SUM(CASE WHEN NOT is_cal AND s_u <= q0.q_u
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_cov
  FROM {{sc}} CROSS JOIN {{qh}} q0
) agg CROSS JOIN {{qh}} q
"""


def _conformal_oracle() -> str:
    d = DUCKDB
    a = CONFORMAL_ALPHA_PCT
    scored = _conformal_scored_sql(d, "documents")
    return f"""
WITH sc AS ({scored}),
calg AS (SELECT s_u, COUNT(*) AS c FROM sc WHERE is_cal GROUP BY s_u),
calr AS (
  SELECT s_u, SUM(c) OVER (ORDER BY s_u
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM calg
),
kk AS (
  SELECT LEAST(CAST(CEIL((COUNT(*) + 1) * (1.0e0 - {a} / 100.0e0)) AS BIGINT),
               COUNT(*)) AS k
  FROM sc WHERE is_cal
),
qh AS (SELECT MIN(s_u) AS q_u FROM calr CROSS JOIN kk WHERE cum >= kk.k)
{_conformal_final_sql().format(sc="sc", qh="qh")}
"""


@register(
    "conformal_coverage_audit",
    oracle=_conformal_oracle(),
    doc="Split-conformal prediction audit of the quality classifier: "
    "nonconformity s = 1 - p(true class) quantized to micro-units, a "
    "seed-free md5 half-split into calibration/eval, the conformal "
    "quantile q_hat = the ceil((n+1)(1-alpha))-th smallest calibration "
    "score (an ORDER STATISTIC, selected via grouped counts + prefix "
    "sums — the distributed range-prefix-sum primitive on the Spark "
    "side, never a global sort), and the EMPIRICAL coverage of "
    "{s <= q_hat} on the held-out half, whose gap to 1-alpha is the "
    "audit's deliverable (split-conformal guarantees coverage >= "
    "1-alpha in expectation over splits).  Everything is exact-integer "
    "selection plus one final division.  The distribution-free "
    "uncertainty sibling of quality_score_calibration (binned "
    "reliability) and roc_auc_quality_score (ranking).",
    tags=("evaluation", "stats", "distributed-rank"),
)
def conformal_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalars_extra import range_prefix_summed

    view = table_view(spark, sf_dir, "documents")
    sc = spark.sql(_conformal_scored_sql(SPARK, view)).localCheckpoint(eager=False)
    calg = (
        sc.where("is_cal").groupBy("s_u").agg(F.count(F.lit(1)).alias("c"))
    )
    summed, n_cal = range_prefix_summed(calg, ["s_u"], "c")
    if summed is None:
        return spark.createDataFrame(
            [],
            "n_cal bigint, n_eval bigint, alpha double, q_hat double, "
            "coverage double, coverage_gap double",
        )
    import math as _m

    k = min(_m.ceil((n_cal + 1) * (1 - CONFORMAL_ALPHA_PCT / 100)), n_cal)
    qh = summed.where(
        (F.col("cum_before") + F.col("c")) >= k
    ).agg(F.min("s_u").alias("q_u"))
    return spark.sql(_conformal_final_sql(), sc=sc, qh=qh)


# --------------------------------------------------------------------------
# source vocabulary overlap (lexical type-level Jaccard matrix)
# --------------------------------------------------------------------------
def _vocab_overlap_sql(d: Dialect, table: str) -> str:
    w = d.splitws("lower(text)")
    h = d.fast_hash("word")  # join/count key only: engine-native hash OK
    if d.name == "spark":
        occ = (
            f"SELECT DISTINCT source, {h} AS wk FROM "
            f"(SELECT source, {w} AS ws FROM {table}) s "
            f"LATERAL VIEW explode(ws) t AS word"
        )
    else:
        occ = (
            f"SELECT DISTINCT source, {h} AS wk FROM "
            f"(SELECT source, unnest(ws) AS word FROM "
            f"(SELECT source, {w} AS ws FROM {table}) s0) s"
        )
    return f"""
WITH sv AS ({occ}),
n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types FROM sv GROUP BY source),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM sv a JOIN sv b ON a.wk = b.wk AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT p.source_a, p.source_b, p.n_shared,
       na.n_types AS n_types_a, nb.n_types AS n_types_b,
       ROUND(CAST(p.n_shared AS DOUBLE)
             / (na.n_types + nb.n_types - p.n_shared), 6) AS vocab_jaccard,
       ROUND(CAST(p.n_shared AS DOUBLE)
             / LEAST(na.n_types, nb.n_types), 6) AS containment
FROM pairs p
JOIN n na ON na.source = p.source_a
JOIN n nb ON nb.source = p.source_b
ORDER BY source_a, source_b
"""


register_sql(
    "source_vocab_overlap",
    _vocab_overlap_sql,
    ("documents",),
    doc="Lexical type-level overlap matrix between sources: distinct "
    "(source, word-hash) incidence, per-word inverted self-join "
    "(fan-out bounded by sources-per-word <= |sources|), Jaccard + "
    "containment per source pair.  Word keys are the engine-native "
    "64-bit hash — join/count keys only, values never emitted, so both "
    "engines agree on every pair count even though hash VALUES differ "
    "(the dedup-module convention).  The WHAT-overlap complement of "
    "stylometric_burrows_delta's HOW-similar frequency profile; the "
    "acquisition-dedup signal beside vocab_novelty_by_source's "
    "diminishing-returns curve.",
    tags=("textops", "dedup", "self-join"),
)


# --------------------------------------------------------------------------
# Brier score with the (generalized) Murphy decomposition
# --------------------------------------------------------------------------
def _brier_sql(d: Dialect, table: str) -> str:
    from .lm_quality import _logreg_sql

    scored = _logreg_sql(d, table)
    return f"""
WITH sc AS (
  SELECT CAST(ROUND(quality_prob * 1000000) AS BIGINT) AS pu,
         CAST(CASE WHEN lang = 'en' THEN 1000000 ELSE 0 END AS BIGINT) AS yu,
         CAST(LEAST({d.idiv("CAST(ROUND(quality_prob * 1000000) AS BIGINT)", "100000")},
                    9) AS INT) AS bin
  FROM ({scored}) q
),
per_bin AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_k,
         CAST(SUM(pu) AS BIGINT) AS sp,
         CAST(SUM(yu) AS BIGINT) AS sy,
         CAST(SUM(CAST(pu AS DECIMAL(19,0)) * pu) AS DECIMAL(38,0)) AS spp,
         CAST(SUM(CAST(pu AS DECIMAL(19,0)) * yu) AS DECIMAL(38,0)) AS spy,
         CAST(SUM(CAST((pu - yu) AS DECIMAL(19,0)) * (pu - yu)) AS DECIMAL(38,0)) AS sq
  FROM sc GROUP BY bin
),
tot AS (
  SELECT CAST(SUM(n_k) AS BIGINT) AS n, CAST(SUM(sy) AS BIGINT) AS syt,
         CAST(SUM(sq) AS DECIMAL(38,0)) AS sqt
  FROM per_bin
)
SELECT t.n AS n_docs,
       ROUND(CAST(t.sqt AS DOUBLE) / t.n / 1e12, 6) AS brier,
       -- Murphy terms over the EXACT per-bin integer moments; the
       -- generalized identity brier = rel - res + unc + wbv - 2*wcov is
       -- test-pinned (the classic 3-term identity holds only for the
       -- binned forecast pbar_k; raw p adds the within-bin terms)
       ROUND(SUM(n_k * (CAST(sp AS DOUBLE) / n_k / 1e6
                        - CAST(sy AS DOUBLE) / n_k / 1e6)
                     * (CAST(sp AS DOUBLE) / n_k / 1e6
                        - CAST(sy AS DOUBLE) / n_k / 1e6)) / MAX(t.n), 6)
         AS reliability,
       ROUND(SUM(n_k * (CAST(sy AS DOUBLE) / n_k / 1e6
                        - CAST(t.syt AS DOUBLE) / t.n / 1e6)
                     * (CAST(sy AS DOUBLE) / n_k / 1e6
                        - CAST(t.syt AS DOUBLE) / t.n / 1e6)) / MAX(t.n), 6)
         AS resolution,
       ROUND((CAST(t.syt AS DOUBLE) / t.n / 1e6)
             * (1.0e0 - CAST(t.syt AS DOUBLE) / t.n / 1e6), 6) AS uncertainty,
       ROUND(SUM(CAST(spp AS DOUBLE) / 1e12
                 - (CAST(sp AS DOUBLE) / 1e6) * (CAST(sp AS DOUBLE) / 1e6) / n_k)
             / MAX(t.n), 6) AS within_bin_var,
       ROUND(SUM(CAST(spy AS DOUBLE) / 1e12
                 - (CAST(sp AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6) / n_k)
             / MAX(t.n), 6) AS within_bin_cov
FROM per_bin CROSS JOIN tot t
GROUP BY t.n, t.syt, t.sqt
"""


register_sql(
    "brier_score_decomposition",
    _brier_sql,
    ("documents",),
    doc="Brier score of the quality classifier against the lang='en' "
    "label with the GENERALIZED Murphy decomposition: reliability "
    "(calibration badness), resolution (discrimination), uncertainty "
    "(label base rate), plus the within-bin variance and covariance "
    "terms that make the identity brier = rel - res + unc + wbv - "
    "2*wcov EXACT for raw (unbinned) forecasts (the textbook 3-term "
    "identity only holds for the binned forecast; most implementations "
    "silently drop the residual — here it is emitted and test-pinned).  "
    "Probabilities and labels quantize to micro-units; every sum is an "
    "exact BIGINT/DECIMAL per decile bin, and only the bounded 10-row "
    "final projection is floating.  Completes the forecast-quality "
    "triangle beside quality_score_calibration (table) and "
    "roc_auc_quality_score (ranking).",
    tags=("evaluation", "stats", "calibration"),
)


# --------------------------------------------------------------------------
# Kendall tau-b over a bounded contingency grid
# --------------------------------------------------------------------------
def _kendall_sql(d: Dialect, lineitem: str) -> str:
    return f"""
WITH cells AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
         CAST(ROUND(CAST(l_discount AS DOUBLE) * 100) AS BIGINT) AS y,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM {lineitem} GROUP BY 1, 2
),
pairs AS (
  -- concordant/discordant mass from the BOUNDED cell grid (|qty| x
  -- |discount| cells, here 50 x 11): never a row-level pair join
  SELECT CAST(SUM(CASE WHEN b.y > a.y THEN a.c * b.c ELSE 0 END) AS DECIMAL(38,0)) AS p_conc,
         CAST(SUM(CASE WHEN b.y < a.y THEN a.c * b.c ELSE 0 END) AS DECIMAL(38,0)) AS q_disc
  FROM cells a JOIN cells b ON b.x > a.x
),
margx AS (
  SELECT CAST(SUM(CAST(tx AS DECIMAL(19,0)) * (tx - 1)) AS DECIMAL(38,0)) / 2 AS t1
  FROM (SELECT x, SUM(c) AS tx FROM cells GROUP BY x) mx
),
margy AS (
  SELECT CAST(SUM(CAST(ty AS DECIMAL(19,0)) * (ty - 1)) AS DECIMAL(38,0)) / 2 AS t2
  FROM (SELECT y, SUM(c) AS ty FROM cells GROUP BY y) my
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells)
-- final projection emits BIGINT pair masses (internal sums stay
-- DECIMAL(38,0)): pair mass ~ n^2/2 fits BIGINT to ~4.3e9 input rows,
-- far beyond any driver sf, and precision-38 decimals (int128-backed in
-- DuckDB) are the one type the driver's value hash canonicalizes
-- differently across engines (round-9 red row)
SELECT t.n AS n_rows, CAST(p.p_conc AS BIGINT) AS n_concordant,
       CAST(p.q_disc AS BIGINT) AS n_discordant,
       ROUND(CAST(p.p_conc - p.q_disc AS DOUBLE)
             / NULLIF(SQRT((CAST(t.n AS DOUBLE) * (t.n - 1) / 2 - CAST(mx.t1 AS DOUBLE))
                           * (CAST(t.n AS DOUBLE) * (t.n - 1) / 2 - CAST(my.t2 AS DOUBLE))), 0),
             6) AS kendall_tau_b
FROM pairs p CROSS JOIN tot t CROSS JOIN margx mx CROSS JOIN margy my
"""


register_sql(
    "kendall_tau_b",
    _kendall_sql,
    ("lineitem",),
    doc="Kendall tau-b rank correlation (tie-corrected) of l_quantity vs "
    "l_discount, computed from the BOUNDED contingency grid: the corpus "
    "collapses to |qty| x |discount| cells in one map-combinable "
    "groupBy, concordant/discordant pair mass comes from a cell-grid "
    "self-join (550^2 comparisons regardless of row count — the O(n log "
    "n) inversion-count problem disappears when the value domains are "
    "small), and the tie corrections come from the marginals.  "
    "Internal pair-mass sums are exact DECIMAL(38,0); the FINAL "
    "projection emits them as BIGINT (valid to ~4.3e9 input rows — "
    "n^2/2 < 2^63 — and hash-stable across engines, unlike int128 "
    "decimals); one sqrt at the end.  The concordance sibling of "
    "spearman_rank_correlation (which ranks the near-continuous price "
    "axis instead).",
    tags=("analytics", "stats", "agg"),
)
