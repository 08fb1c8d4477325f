"""Round-10 sixth batch — three closing families:

- ``cles_effect_size`` — the common-language effect size (Vargha-
  Delaney A / the Mann-Whitney U normalized): P(X > Y) + 0.5 P(X = Y)
  between the two lexicographically-first sources' doc lengths, from
  the bounded |V|x|V| count-product grid in exact integers.  The
  EFFECT-SIZE reading of the rank-sum family: KS/CvM reject,
  Hodges-Lehmann shifts, A says how often one beats the other.
- ``hellinger_bhattacharyya`` — Hellinger distance and Bhattacharyya
  coefficient between the same two length distributions on the bounded
  value grid: per-cell sqrt(p*q) terms nano-quantized before the grid
  sum.  The f-DIVERGENCE angle beside the EDF distances (KS sup-type,
  CvM integral-type) and MI (dependence).
- ``expected_calibration_error`` — ECE and MCE of the logreg quality
  probability against the lang='en' label over 10 deciles: per-bin
  |accuracy - confidence| from exact micro-unit integer sums, ECE =
  mass-weighted sum, MCE = max.  THE standard calibration scalar beside
  the reliability table (quality_score_calibration), the decomposition
  (brier), the fit (isotonic), and the test (spiegelhalter).

Dual-dialect per repo conventions throughout."""

from __future__ import annotations

from ..functions.dialect import Dialect
from ..registry import register_sql
from .round10d import _src2_cells_sql, _src2_head_sql


# --------------------------------------------------------------------------
# common-language effect size (Vargha-Delaney A)
# --------------------------------------------------------------------------
def _cles_sql(d: Dialect, table: str, cells: str) -> str:
    return f"""
WITH {_src2_head_sql(cells)},
na AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM ga),
nb AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM gb),
-- win/tie pair mass on the bounded |V|x|V| grid: exact integers; the
-- 2x-scaled U (2*wins + ties) divides once at the end
u AS (
  SELECT CAST(SUM(CASE WHEN a.v > b.v THEN 2 * a.c * b.c
                       WHEN a.v = b.v THEN a.c * b.c
                       ELSE 0 END) AS DECIMAL(38,0)) AS u2
  FROM ga a CROSS JOIN gb b
)
SELECT (SELECT s FROM lo) AS source_a,
       (SELECT s FROM hi) AS source_b,
       n1.n AS n_a,
       n2.n AS n_b,
       CAST(ROUND(CAST(u.u2 AS DOUBLE) / 2.0e0
                  / (CAST(n1.n AS DOUBLE) * n2.n), 6) AS DOUBLE)
         AS vd_a_statistic,
       -- |2A - 1|: the rank-biserial correlation magnitude
       CAST(ROUND(ABS(CAST(u.u2 AS DOUBLE)
                      / (CAST(n1.n AS DOUBLE) * n2.n) - 1.0e0), 6)
            AS DOUBLE) AS rank_biserial_abs
FROM na n1 CROSS JOIN nb n2 CROSS JOIN u
"""


register_sql(
    "cles_effect_size",
    _cles_sql,
    ("documents",),
    heads={"cl_cells": _src2_cells_sql},
    doc="Common-language effect size (Vargha-Delaney A = P(X>Y) + "
    "0.5 P(X=Y)) between the two lexicographically-first sources' doc "
    "lengths: win/tie pair mass on the bounded |V|x|V| count-product "
    "grid in exact integers (2x-scaled U, one division), plus the "
    "rank-biserial magnitude.  The effect-size reading beside KS/CvM "
    "(reject), Hodges-Lehmann (shift), and ranksum (ordering).",
    tags=("analytics", "stats", "agg"),
)


# --------------------------------------------------------------------------
# Hellinger / Bhattacharyya between two length distributions
# --------------------------------------------------------------------------
def _hellinger_sql(d: Dialect, table: str, cells: str) -> str:
    return f"""
WITH {_src2_head_sql(cells)},
na AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM ga),
nb AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM gb),
-- Bhattacharyya coefficient sum sqrt(p_v q_v) over the pooled value
-- grid: per-cell terms nano-quantized before the bounded sum (cells
-- missing from either side contribute 0 — FULL OUTER not needed, the
-- inner join IS the support intersection)
terms AS (
  SELECT CAST(FLOOR(SQRT((CAST(a.c AS DOUBLE) / n1.n)
                         * (CAST(b.c AS DOUBLE) / n2.n)) * 1e9)
              AS BIGINT) AS t_nano
  FROM ga a
  JOIN gb b ON b.v = a.v
  CROSS JOIN na n1 CROSS JOIN nb n2
),
agg AS (SELECT COALESCE(CAST(SUM(t_nano) AS BIGINT), 0) AS bc_nano FROM terms)
SELECT (SELECT s FROM lo) AS source_a,
       (SELECT s FROM hi) AS source_b,
       n1.n AS n_a,
       n2.n AS n_b,
       CAST(ROUND(CAST(a.bc_nano AS DOUBLE) / 1e9, 6) AS DOUBLE)
         AS bhattacharyya_coef,
       CAST(ROUND(SQRT(GREATEST(0.0e0,
                  1.0e0 - CAST(a.bc_nano AS DOUBLE) / 1e9)), 6) AS DOUBLE)
         AS hellinger_distance
FROM na n1 CROSS JOIN nb n2 CROSS JOIN agg a
"""


register_sql(
    "hellinger_bhattacharyya",
    _hellinger_sql,
    ("documents",),
    heads={"hb_cells": _src2_cells_sql},
    doc="Hellinger distance and Bhattacharyya coefficient between the "
    "two lexicographically-first sources' doc-length distributions on "
    "the bounded value grid: per-cell sqrt(p*q) terms nano-quantized "
    "before the grid sum (the support intersection IS the inner join).  "
    "The f-divergence angle beside KS/CvM (EDF distances) and "
    "mutual_information (dependence); H is a proper metric, so it "
    "triangulates across sources.",
    tags=("analytics", "stats", "agg"),
)


# --------------------------------------------------------------------------
# expected calibration error (ECE / MCE) of the quality classifier
# --------------------------------------------------------------------------
def _ece_sql(d: Dialect, table: str) -> str:
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
         CAST(SUM(yu) AS BIGINT) AS sy
  FROM sc GROUP BY bin
),
tot AS (SELECT CAST(SUM(n_k) AS BIGINT) AS n FROM per_bin),
-- per-bin |acc - conf| weighted by bin mass, all from exact micro-unit
-- sums; gap_micro = |sy - sp| / n_k stays a rational of exact ints
gaps AS (
  SELECT bin, n_k,
         CAST(ABS(sy - sp) AS DECIMAL(38,0)) AS abs_gap_u,
         sp, sy
  FROM per_bin
),
agg AS (
  SELECT CAST(SUM(abs_gap_u) AS DECIMAL(38,0)) AS sum_gap_u,
         MAX(CAST(abs_gap_u AS DOUBLE) / n_k) AS max_gap
  FROM gaps
)
SELECT g.bin,
       g.n_k AS n_docs,
       CAST(ROUND(CAST(g.sp AS DOUBLE) / 1e6 / g.n_k, 6) AS DOUBLE)
         AS mean_confidence,
       CAST(ROUND(CAST(g.sy AS DOUBLE) / 1e6 / g.n_k, 6) AS DOUBLE)
         AS observed_rate,
       CAST(ROUND(CAST(a.sum_gap_u AS DOUBLE) / 1e6 / t.n, 6) AS DOUBLE)
         AS ece,
       CAST(ROUND(a.max_gap / 1e6, 6) AS DOUBLE) AS mce
FROM gaps g CROSS JOIN agg a CROSS JOIN tot t
ORDER BY g.bin
"""


register_sql(
    "expected_calibration_error",
    _ece_sql,
    ("documents",),
    doc="Expected and maximum calibration error (ECE/MCE) of the logreg "
    "quality probability vs the lang='en' label over 10 decile bins: "
    "per-bin |accuracy - confidence| from exact micro-unit integer "
    "sums (sum|sy - sp| is EXACTLY sum n_k|acc_k - conf_k| scaled), "
    "ECE mass-weighted, MCE the max.  THE standard calibration scalar "
    "completing the table (quality_score_calibration), decomposition "
    "(brier), fit (isotonic), and test (spiegelhalter).",
    tags=("evaluation", "calibration", "stats"),
)
