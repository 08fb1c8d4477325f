"""Round-10 fifth batch — three more never-covered families:

- ``binary_segmentation_split`` — single-changepoint LOCATION by binary
  segmentation on the daily revenue series: for every candidate split
  day, the between-segment sum of squares in closed form from exact
  prefix sums (triangular join on the bounded day grid — never a
  window over the corpus), argmax by integer ordering.  The changepoint
  LOCATOR beside cusum_change_detection (which only detects) and
  control_chart_anomalies (pointwise).
- ``markov_entropy_rate`` — entropy rate of the user event-type chain:
  H(next | current) = -sum_i p(i) sum_j p(j|i) ln p(j|i) over the
  bounded transition grid, per-cell terms nano-quantized; emitted
  beside the marginal entropy H(next) so the gap (information the
  current state carries) is read off directly.  Completes the
  behavioural triangle with event_transition_matrix (the chain) and
  markov_stationary_distribution (its fixpoint).
- ``cramer_von_mises_two_sample`` — two-sample Cramér-von Mises
  statistic between the two lexicographically-first sources over doc
  lengths: the INTEGRAL-type EDF distance (sensitive in the middle of
  the distribution) beside ks_two_sample_sources's sup-type D
  (sensitive anywhere), both decided on the bounded pooled value grid
  in cross-multiplied exact integers.

Dual-dialect per repo conventions throughout."""

from __future__ import annotations

from ..functions.dialect import Dialect
from ..registry import register_sql
from .round10d import _src2_cells_sql, _src2_head_sql

_CENTS = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"


# --------------------------------------------------------------------------
# single changepoint by binary segmentation (between-segment SS argmax)
# --------------------------------------------------------------------------
def _binseg_daily_sql(d: Dialect, orders: str) -> str:
    """The bounded day-grid revenue series the triangular prefix join
    re-references.  It stays inline: in 10 interleaved pairs the
    statement with this series inline beat the one reading a per-call
    checkpoint of it at both sf0.01 and sf0.1."""
    dayno = d.epoch_day("o_orderdate")
    return f"""
SELECT CAST({dayno} AS BIGINT) AS day,
       CAST(SUM({_CENTS}) AS DECIMAL(38,0)) AS y
FROM {orders} GROUP BY 1
"""


def _binseg_sql(d: Dialect, orders: str) -> str:
    return f"""
WITH daily AS ({_binseg_daily_sql(d, orders)}),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS DECIMAL(38,0)) AS s
  FROM daily
),
-- inclusive prefix (count, sum) per candidate split day from the
-- triangular join on the BOUNDED day grid
pre AS (
  SELECT a.day,
         CAST(COUNT(b.day) AS BIGINT) AS n1,
         CAST(SUM(b.y) AS DECIMAL(38,0)) AS s1
  FROM daily a JOIN daily b ON b.day <= a.day
  GROUP BY a.day
),
-- between-segment SS for split after day t:
--   SS(t) = s1^2/n1 + (s-s1)^2/(n-n1) - s^2/n
-- computed as a double from exact decimals; micro-quantized so the
-- argmax is decided by INTEGER ordering
scored AS (
  SELECT p.day, p.n1, t.n - p.n1 AS n2,
         CAST(FLOOR((CAST(p.s1 AS DOUBLE) * CAST(p.s1 AS DOUBLE) / p.n1
              + CAST(t.s - p.s1 AS DOUBLE) * CAST(t.s - p.s1 AS DOUBLE)
                / (t.n - p.n1)
              - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE) / t.n) / 1e6)
              AS BIGINT) AS ss_between_hund
  FROM pre p CROSS JOIN tot t
  WHERE p.n1 < t.n
),
best AS (
  SELECT day, n1, n2, ss_between_hund
  FROM scored
  ORDER BY ss_between_hund DESC, day
  LIMIT 1
)
SELECT b.day AS split_after_day,
       b.n1 AS n_days_left,
       b.n2 AS n_days_right,
       CAST(ROUND(CAST(p.s1 AS DOUBLE) / b.n1 / 100.0e0, 2) AS DOUBLE)
         AS mean_left_dollars,
       CAST(ROUND(CAST(t.s - p.s1 AS DOUBLE) / b.n2 / 100.0e0, 2) AS DOUBLE)
         AS mean_right_dollars,
       CAST(ROUND(CAST(b.ss_between_hund AS DOUBLE) * 1e6 / 1e4 / t.n, 2)
            AS DOUBLE) AS ss_between_per_day_dollars2
FROM best b
JOIN pre p ON p.day = b.day
CROSS JOIN tot t
"""


register_sql(
    "binary_segmentation_split",
    _binseg_sql,
    ("orders",),
    doc="Single-changepoint location by binary segmentation on daily "
    "revenue: between-segment sum of squares per candidate split from "
    "exact prefix sums (triangular join on the bounded day grid), "
    "scores quantized so the argmax is an INTEGER ordering, split-day "
    "plus left/right means emitted.  The changepoint LOCATOR beside "
    "cusum (detection) and control-chart (pointwise anomalies); "
    "recursing on the two halves is the full binary-segmentation "
    "algorithm.",
    tags=("analytics", "timeseries", "changepoint"),
)


# --------------------------------------------------------------------------
# entropy rate of the event-type Markov chain
# --------------------------------------------------------------------------
def _entropy_trans_sql(d: Dialect, events: str) -> str:
    """The bounded event-type transition grid every tail CTE references."""
    return f"""
  WITH seq AS (
    SELECT user_id, event_type,
           LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS next_type
    FROM {events}
  )
  SELECT event_type AS i, next_type AS j, CAST(COUNT(*) AS BIGINT) AS c
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
"""


def _entropy_rate_sql(d: Dialect, events: str, trans: str) -> str:
    return f"""
WITH trans AS ({trans}),
ri AS (SELECT i, CAST(SUM(c) AS BIGINT) AS ci FROM trans GROUP BY i),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM trans),
-- conditional-entropy terms -p(i,j) ln p(j|i) and marginal terms
-- -p(.j) ln p(.j), nano-quantized on the bounded grid
cond_terms AS (
  SELECT CAST(FLOOR(-(CAST(t.c AS DOUBLE) / tt.n)
       * LN(CAST(t.c AS DOUBLE) / r.ci) * 1e9) AS BIGINT) AS t_nano
  FROM trans t JOIN ri r ON r.i = t.i CROSS JOIN tot tt
),
marg AS (SELECT j, CAST(SUM(c) AS BIGINT) AS cj FROM trans GROUP BY j),
marg_terms AS (
  SELECT CAST(FLOOR(-(CAST(cj AS DOUBLE) / tt.n)
       * LN(CAST(cj AS DOUBLE) / tt.n) * 1e9) AS BIGINT) AS t_nano
  FROM marg CROSS JOIN tot tt
),
agg AS (
  SELECT (SELECT CAST(SUM(t_nano) AS BIGINT) FROM cond_terms) AS h_cond,
         (SELECT CAST(SUM(t_nano) AS BIGINT) FROM marg_terms) AS h_marg
)
SELECT t.n AS n_transitions,
       CAST(ROUND(CAST(a.h_cond AS DOUBLE) / 1e9, 6) AS DOUBLE)
         AS entropy_rate_nats,
       CAST(ROUND(CAST(a.h_marg AS DOUBLE) / 1e9, 6) AS DOUBLE)
         AS marginal_entropy_nats,
       CAST(ROUND(CAST(a.h_marg - a.h_cond AS DOUBLE) / 1e9, 6) AS DOUBLE)
         AS predictive_information_nats
FROM tot t CROSS JOIN agg a
"""


register_sql(
    "markov_entropy_rate",
    _entropy_rate_sql,
    ("events",),
    heads={"er_trans": _entropy_trans_sql},
    doc="Entropy rate H(next|current) of the user event-type Markov "
    "chain over the bounded transition grid (LEAD window per user — "
    "user_id is the natural parallel unit), per-cell p*ln terms "
    "nano-quantized; the marginal entropy H(next) rides along so the "
    "predictive information (their gap — how much the current state "
    "tells you) reads off directly.  Completes the behavioural "
    "triangle with event_transition_matrix and "
    "markov_stationary_distribution.",
    tags=("analytics", "markov", "stats"),
)


# --------------------------------------------------------------------------
# two-sample Cramér-von Mises on the bounded value grid
# --------------------------------------------------------------------------
def _cvm_sql(d: Dialect, table: str, cells: str) -> str:
    return f"""
WITH {_src2_head_sql(cells)},
na AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM ga),
nb AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM gb),
pooled AS (
  SELECT v, CAST(SUM(ca) AS BIGINT) AS ca, CAST(SUM(cb) AS BIGINT) AS cb
  FROM (
    SELECT v, c AS ca, 0 AS cb FROM ga
    UNION ALL
    SELECT v, 0 AS ca, c AS cb FROM gb
  ) u GROUP BY v
),
-- cumulative counts per pooled value from the triangular join on the
-- BOUNDED value grid; EDF gap in cross-multiplied exact integers
cum AS (
  SELECT a.v,
         CAST(SUM(b.ca) AS BIGINT) AS fa,
         CAST(SUM(b.cb) AS BIGINT) AS fb,
         MAX(a.ca + a.cb) AS w
  FROM pooled a JOIN pooled b ON b.v <= a.v
  GROUP BY a.v
),
-- T = nm/(n+m)^2 * sum_pooled w(v) * (Fa(v) - Fb(v))^2 with EDF values
-- as exact integer ratios: (fa*nb - fb*na)^2 / (na*nb)^2 per value
terms AS (
  SELECT c.w,
         CAST(c.fa * n2.n - c.fb * n1.n AS DECIMAL(38,0)) AS gap_x
  FROM cum c CROSS JOIN na n1 CROSS JOIN nb n2
),
agg AS (
  SELECT CAST(SUM(CAST(w AS DECIMAL(38,0)) * gap_x * gap_x)
              AS DECIMAL(38,0)) AS sgap
  FROM terms
)
SELECT (SELECT s FROM lo) AS source_a,
       (SELECT s FROM hi) AS source_b,
       n1.n AS n_a,
       n2.n AS n_b,
       -- T = nm/(n+m)^2 * sum w gap^2/(nm)^2 = sgap / (nm (n+m)^2)
       CAST(ROUND(CAST(a.sgap AS DOUBLE)
                  / (CAST(n1.n AS DOUBLE) * n2.n)
                  / (CAST(n1.n AS DOUBLE) + n2.n)
                  / (CAST(n1.n AS DOUBLE) + n2.n), 6) AS DOUBLE)
         AS cvm_t_statistic,
       CAST(CASE WHEN CAST(a.sgap AS DOUBLE)
                      / (CAST(n1.n AS DOUBLE) * n2.n)
                      / (CAST(n1.n AS DOUBLE) + n2.n)
                      / (CAST(n1.n AS DOUBLE) + n2.n) > 0.461e0
                 THEN 1 ELSE 0 END AS INT) AS reject_same_dist_5pct
FROM na n1 CROSS JOIN nb n2 CROSS JOIN agg a
"""


register_sql(
    "cramer_von_mises_two_sample",
    _cvm_sql,
    ("documents",),
    heads={"cvm_cells": _src2_cells_sql},
    doc="Two-sample Cramér-von Mises statistic between the two "
    "lexicographically-first sources over doc lengths: T = "
    "nm/(n+m)^2 * sum w(v) (Fa - Fb)^2 over the bounded pooled value "
    "grid, EDF gaps in cross-multiplied exact integers (the "
    "ks_two_sample discipline), vs the literal 0.461e0 asymptotic 5% "
    "value.  The INTEGRAL-type EDF distance (mid-distribution "
    "sensitivity) beside KS's sup-type D.",
    tags=("analytics", "stats", "agg"),
)
