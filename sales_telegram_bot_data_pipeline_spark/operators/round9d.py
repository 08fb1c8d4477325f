"""Round-9 continuation, third batch — five more never-covered families:

- ``nelson_aalen_hazard`` — the Nelson-Aalen cumulative-hazard estimator
  H(t) = sum_{t_i <= t} d_i / n_i over the same days-to-repurchase
  duration relation as Kaplan-Meier.  Unlike KM's product limit this
  needs NO transcendental function: each step hazard d/n quantizes to
  exact nano-units by INTEGER DIVISION before the prefix sum, so the
  whole estimator is order-independent integer arithmetic.
- ``cochran_q_gates`` — Cochran's Q, the k-sample extension of McNemar:
  do THREE document quality gates pass at the same rate on the same
  (paired) corpus?  Q = (k-1)(k*sum G_j^2 - T^2)/(k*T - sum L_i^2) is a
  pure integer ratio — one corpus scan, one aggregate row.
- ``harrell_c_index`` — Harrell's concordance index of a risk score
  (account balance, 16 equi-width bins) against days-to-repurchase with
  right censoring, computed WITHOUT the O(n^2) pair join: the cohort
  collapses to a (duration x bin) grid, per-bin suffix counts and
  cross-bin prefix counts come from PARTITIONED windows on the bounded
  dense grid, and concordant/tied/comparable pair masses are exact
  BIGINT products.  The survival-model eval twin of roc_auc.
- ``quantile_pinball_fit_audit`` — pinball (quantile) loss of candidate
  constant predictors for the tau=0.9 order-value quantile on a
  floor-div ninths grid: 10x the loss is an exact BIGINT
  (9*(x-c) above, (c-x) below), the argmin row flagged by integer
  ordering — how a quantile-regression fit is validated without libm.
- ``snips_offpolicy_eval`` — inverse-propensity off-policy evaluation of
  two deterministic recommendation policies from hash-randomized logs:
  IPS and self-normalized IPS (SNIPS) value estimates plus the effective
  sample size (sum w)^2 / sum w^2 — the counterfactual readout an
  experimentation platform runs before an A/B test.  Logging propensity
  is the literal 1/5 (md5-uniform over the five priorities).

Dual-dialect per repo conventions: exact integer/DECIMAL sums before any
cross-partition aggregation, DOUBLE only at final expressions,
ROUND(...,6), NULLIF-guarded divisors, no libm in this module."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dialect import DUCKDB, SPARK, Dialect
from ..registry import register, register_sql
from ..sources.tables import table_view
from .evaluation import _KM_DUR_SQL

# --------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard
# --------------------------------------------------------------------------
_NA_STEP_SQL = """
SELECT t, n_event, n_censor, at_risk,
       CAST({hq} AS BIGINT) AS hq
FROM {steps}
"""

_NA_FINAL_SQL = """
SELECT t AS t_days, at_risk, n_event, n_censor,
       CAST(ROUND(CAST(cum_hq AS DOUBLE) / 1.0e9, 6) AS DOUBLE)
         AS cum_hazard
FROM {cum} ORDER BY t_days
"""


def _na_hq(d: Dialect) -> str:
    # step hazard d/n in exact nano-units by integer division — the
    # whole estimator stays in BIGINT (no libm, unlike KM's LN steps)
    return d.idiv("n_event * 1000000000", "at_risk")


def _na_oracle() -> str:
    durs = _KM_DUR_SQL.format(
        orders="orders",
        dd_event="datediff('day', s.d1, s.d2)",
        dd_censor="datediff('day', s.d1, h.hmax)",
    )
    return f"""
WITH g AS ({durs}),
tot AS (SELECT CAST(SUM(n_event + n_censor) AS BIGINT) AS n FROM g),
risk AS (
  SELECT g.*, CAST(tot.n - COALESCE(SUM(n_event + n_censor) OVER (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         AS at_risk
  FROM g CROSS JOIN tot
),
steps AS ({_NA_STEP_SQL.format(steps="risk", hq=_na_hq(DUCKDB))}),
cum AS (
  SELECT t, n_event, n_censor, at_risk,
         CAST(SUM(hq) OVER (ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_hq
  FROM steps
)
{_NA_FINAL_SQL.format(cum="cum")}
"""


@register(
    "nelson_aalen_hazard",
    oracle=_na_oracle(),
    doc="Nelson-Aalen cumulative hazard of days-to-repurchase (same "
    "duration/censoring relation as kaplan_meier_repurchase, cited "
    "there): per-step hazard d/n quantized to exact nano-units by "
    "INTEGER DIVISION before the running sum, so unlike KM no libm "
    "enters at all.  At-risk counts and the hazard prefix both ride the "
    "distributed range-prefix-sum primitive; oracle = window cumsum "
    "form.",
    tags=("evaluation", "survival", "distributed-rank"),
)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalars_extra import range_prefix_summed_pair

    orders = table_view(spark, sf_dir, "orders")
    g = spark.sql(
        _KM_DUR_SQL.format(
            orders=orders,
            dd_event="datediff(s.d2, s.d1)",
            dd_censor="datediff(h.hmax, s.d1)",
        )
    ).withColumn("c_total", (F.col("n_event") + F.col("n_censor")).cast("bigint"))

    # Same chained-pass fusion as kaplan_meier_repurchase (guide §2.4):
    # both prefix sums ride ONE range partitioning; hq is a row-wise
    # integer division of (n_event, at_risk), so partition alignment and
    # every summed value are untouched.
    def derive(risk, n_total):
        risk = risk.withColumn(
            "at_risk", (F.lit(n_total) - F.col("cum_before")).cast("bigint")
        )
        return risk.withColumn(
            "hq", F.expr(f"CAST({_na_hq(SPARK)} AS BIGINT)")
        ), "hq"

    cum, _ = range_prefix_summed_pair(g, ["t"], "c_total", derive)
    if cum is None:
        return spark.createDataFrame(
            [],
            "t_days bigint, at_risk bigint, n_event bigint, n_censor bigint, cum_hazard double",
        )
    cum = cum.withColumn("cum_hq", (F.col("cum_before2") + F.col("hq")).cast("bigint"))
    return spark.sql(_NA_FINAL_SQL, cum=cum)


# --------------------------------------------------------------------------
# Cochran's Q over three quality gates
# --------------------------------------------------------------------------
def _cochran_q_sql(d: Dialect, table: str) -> str:
    """Cochran's Q for k=3 paired binary gates (length, token count, mean
    word length) on the same documents:

        Q = (k-1) * (k * sum_j G_j^2 - T^2) / (k*T - sum_i L_i^2)

    with G_j the per-gate pass totals, L_i the per-document pass count,
    T = sum L_i.  Every term is an exact integer — the k-sample
    McNemar generalization with zero floating intermediates.  One corpus
    scan, one aggregate row; chi-squared(k-1) under H0."""
    toks = d.alen(d.filter(d.splitws("lower(text)"), "w -> length(w) > 0"))
    return f"""
WITH gated AS (
  SELECT CASE WHEN length(text) >= 600 THEN 1 ELSE 0 END AS g1,
         CASE WHEN {toks} >= 90 THEN 1 ELSE 0 END AS g2,
         -- mean word length <= 6 chars: length(text) < 7 * tokens
         CASE WHEN CAST(length(text) AS BIGINT) < 7 * {toks}
              THEN 1 ELSE 0 END AS g3
  FROM {table}
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(g1) AS BIGINT) AS t1,
         CAST(SUM(g2) AS BIGINT) AS t2,
         CAST(SUM(g3) AS BIGINT) AS t3,
         CAST(SUM((g1 + g2 + g3) * (g1 + g2 + g3)) AS BIGINT) AS sum_l2
  FROM gated
)
SELECT n, t1 AS pass_len, t2 AS pass_tokens, t3 AS pass_wordlen,
       CAST(ROUND(2.0e0 * (3 * (CAST(t1 AS DECIMAL(38,0)) * t1
                                + CAST(t2 AS DECIMAL(38,0)) * t2
                                + CAST(t3 AS DECIMAL(38,0)) * t3)
                          - CAST(t1 + t2 + t3 AS DECIMAL(38,0))
                            * (t1 + t2 + t3))
                  / NULLIF(CAST(3 * (t1 + t2 + t3) - sum_l2 AS DOUBLE), 0), 6)
            AS DOUBLE) AS cochran_q
FROM agg
"""


register_sql(
    "cochran_q_gates",
    _cochran_q_sql,
    ("documents",),
    doc="Cochran's Q test for three paired document quality gates (char "
    "length, token count, mean word length): the k-sample McNemar "
    "generalization, (k-1)(k*sum G_j^2 - T^2)/(k*T - sum L_i^2), every "
    "term an exact integer from one corpus scan; chi-squared(2) under "
    "'all gates pass at the same rate'.",
    tags=("evaluation", "stats", "text"),
)


# --------------------------------------------------------------------------
# Harrell's C-index without the O(n^2) pair join
# --------------------------------------------------------------------------
_C_BINS = 16


def _cindex_cohort_sql(d: Dialect, orders: str, customer: str) -> str:
    """The per-customer (ck, t, ev, bal) cohort — the shared base every
    tail CTE of the c-index references; split out so the Spark side can
    materialize it once per call (guide §3.3) while the oracle keeps the
    single-statement form."""
    dd_event = (
        "datediff(s.d2, s.d1)" if d.name == "spark"
        else "datediff('day', s.d1, s.d2)"
    )
    dd_censor = (
        "datediff(h.hmax, s.d1)" if d.name == "spark"
        else "datediff('day', s.d1, h.hmax)"
    )
    return f"""
  WITH base AS (
    SELECT o_custkey AS ck, MIN(CAST(o_orderdate AS DATE)) AS d1
    FROM {orders} GROUP BY o_custkey
  ),
  seconds AS (
    SELECT o.o_custkey AS ck,
           MIN(CASE WHEN CAST(o.o_orderdate AS DATE) > f.d1
                    THEN CAST(o.o_orderdate AS DATE) END) AS d2,
           MAX(f.d1) AS d1
    FROM {orders} o JOIN base f ON f.ck = o.o_custkey
    GROUP BY o.o_custkey
  ),
  horizon AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS hmax FROM {orders})
  SELECT s.ck,
         CAST(CASE WHEN s.d2 IS NOT NULL THEN {dd_event}
              ELSE {dd_censor}
              END AS BIGINT) AS t,
         CASE WHEN s.d2 IS NOT NULL THEN 1 ELSE 0 END AS ev,
         CAST(CAST(c.c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal
  FROM seconds s CROSS JOIN horizon h
  JOIN {customer} c ON c.c_custkey = s.ck
"""


def _cindex_sql(d: Dialect, orders: str, customer: str, cohort: str) -> str:
    """Concordance index of a 16-bin account-balance risk score against
    days-to-repurchase with right censoring.  Comparable pairs: i an
    EVENT with t_i < t_j (j event or censored); concordant when the
    shorter-duration unit carries the LOWER balance bin (low balance =
    higher churn risk, the convention under test); same-bin pairs take
    half credit; t_i = t_j pairs are not comparable (standard Harrell).

    Never a pair join: the cohort collapses to a (duration x bin) cell
    grid, densified against the bounded bin axis; per-bin later-than
    suffix counts come from a window PARTITIONED BY bin over t, the
    cross-bin 'later and lower-bin' prefix from a window PARTITIONED BY
    t over the {_C_BINS}-bin axis — both on the aggregated grid
    (O(|distinct t| x {_C_BINS}) rows, bounded by the day domain).
    Pair masses are exact BIGINT products; ONE division at the end."""
    return f"""
WITH cohort AS ({cohort}),
bounds AS (SELECT MIN(bal) AS lo, MAX(bal) AS hi FROM cohort),
binned AS (
  SELECT co.t, co.ev,
         CAST(LEAST({_C_BINS} - 1,
              {d.idiv(f'(co.bal - b.lo) * {_C_BINS}', '(b.hi - b.lo + 1)')})
              AS INT) AS bin
  FROM cohort co CROSS JOIN bounds b
),
cells AS (
  SELECT t, bin,
         CAST(COUNT(*) AS BIGINT) AS n_all,
         CAST(SUM(ev) AS BIGINT) AS n_event
  FROM binned GROUP BY t, bin
),
taxis AS (SELECT DISTINCT t FROM cells),
bins AS (SELECT * FROM (VALUES {", ".join(f"({b})" for b in range(_C_BINS))}) AS bb(bin)),
dense AS (
  SELECT ta.t, bb.bin,
         COALESCE(ce.n_all, 0) AS n_all,
         COALESCE(ce.n_event, 0) AS n_event
  FROM taxis ta CROSS JOIN bins bb
  LEFT JOIN cells ce ON ce.t = ta.t AND ce.bin = bb.bin
),
-- later(t, b) = # units with duration > t in bin b: per-bin total minus
-- the inclusive prefix (window PARTITIONED BY bin — never global)
suffixed AS (
  SELECT t, bin, n_all, n_event,
         SUM(n_all) OVER (PARTITION BY bin) -
         SUM(n_all) OVER (PARTITION BY bin ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS later_same
  FROM dense
),
-- later_low(t, b) = # later units in any STRICTLY LOWER bin (window
-- PARTITIONED BY t over the bounded bin axis)
crossed AS (
  SELECT t, bin, n_all, n_event, later_same,
         COALESCE(SUM(later_same) OVER (PARTITION BY t ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS later_low,
         SUM(later_same) OVER (PARTITION BY t) AS later_any
  FROM suffixed
),
mass AS (
  -- concordant = event unit's bin strictly LOWER than the later unit's
  -- (later_any - later_same - later_low = later units in strictly
  -- HIGHER bins): low balance on the churner = higher risk, matching
  -- the documented convention (ADVICE r9 flagged the inverted form)
  SELECT CAST(SUM(CAST(n_event AS DECIMAL(38,0))
                  * (later_any - later_same - later_low))
              AS DECIMAL(38,0)) AS conc,
         CAST(SUM(CAST(n_event AS DECIMAL(38,0)) * later_same)
              AS DECIMAL(38,0)) AS ties,
         CAST(SUM(CAST(n_event AS DECIMAL(38,0)) * later_any)
              AS DECIMAL(38,0)) AS comparable
  FROM crossed
)
SELECT CAST(comparable AS BIGINT) AS n_comparable_pairs,
       CAST(conc AS BIGINT) AS n_concordant,
       CAST(ties AS BIGINT) AS n_tied_score,
       -- half credit for same-bin ties: C = (conc + ties/2) / comparable
       CAST(ROUND((2.0e0 * CAST(conc AS DOUBLE) + CAST(ties AS DOUBLE))
                  / NULLIF(2.0e0 * CAST(comparable AS DOUBLE), 0), 6)
            AS DOUBLE) AS c_index
FROM mass
"""


register_sql(
    "harrell_c_index",
    _cindex_sql,
    ("orders", "customer"),
    heads={"ci_cohort": _cindex_cohort_sql},
    doc="Harrell's concordance index of a 16-bin account-balance risk "
    "score vs days-to-repurchase with right censoring, WITHOUT the "
    "O(n^2) pair join: cohort -> (duration x bin) dense grid (bounded "
    "by day domain x 16), per-bin suffix counts from a window "
    "PARTITIONED BY bin, cross-bin later-and-lower prefix from a window "
    "PARTITIONED BY t, pair masses as exact BIGINT products, one final "
    "division. The survival-eval twin of roc_auc_quality_score.",
    tags=("evaluation", "survival", "stats"),
)


# --------------------------------------------------------------------------
# pinball-loss quantile fit audit (tau = 0.9)
# --------------------------------------------------------------------------
_PINBALL_CUTS = tuple(range(1, 9))


def _pinball_sql(d: Dialect, orders: str) -> str:
    """Pinball (quantile) loss of candidate CONSTANT predictors for the
    tau = 0.9 order-value quantile, candidates on the floor-div ninths
    grid: 10x the loss is the exact BIGINT
    sum(x > c ? 9(x-c) : (c-x)); the minimizer brackets the true 0.9
    quantile, and the argmin is flagged by INTEGER ordering (loss, then
    threshold) — no float comparison anywhere.  One fact scan against
    the broadcast 8-row grid, one map-side-combinable groupBy."""
    grid = ", ".join(f"({j})" for j in _PINBALL_CUTS)
    return f"""
WITH cents AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
  FROM {orders}
),
bounds AS (SELECT MIN(x) AS lo, MAX(x) AS hi, COUNT(*) AS n FROM cents),
grid AS (
  SELECT g.j, b.n,
         b.lo + CAST({d.idiv('g.j * (b.hi - b.lo)', '9')} AS BIGINT) AS c
  FROM (SELECT * FROM (VALUES {grid}) AS g(j)) g CROSS JOIN bounds b
),
scored AS (
  SELECT g.j, g.c, MAX(g.n) AS n,
         CAST(SUM(CASE WHEN ct.x > g.c THEN 9 * (ct.x - g.c)
                       ELSE (g.c - ct.x) END) AS DECIMAL(38,0)) AS loss10,
         CAST(SUM(CASE WHEN ct.x <= g.c THEN 1 ELSE 0 END) AS BIGINT)
           AS n_below
  FROM cents ct CROSS JOIN grid g
  GROUP BY g.j, g.c
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY loss10, c) AS rk FROM scored
)
SELECT CAST(j AS INT) AS ninth,
       CAST(ROUND(c / 1.0e2, 2) AS DOUBLE) AS candidate_dollars,
       CAST(ROUND(CAST(loss10 AS DOUBLE) / 10 / 100
                  / NULLIF(CAST(n AS DOUBLE), 0), 6) AS DOUBLE)
         AS mean_pinball_loss_dollars,
       CAST(ROUND(CAST(n_below AS DOUBLE) / NULLIF(CAST(n AS DOUBLE), 0), 6)
            AS DOUBLE) AS frac_below,
       CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS INT) AS is_argmin
FROM ranked
ORDER BY ninth
"""


register_sql(
    "quantile_pinball_fit_audit",
    _pinball_sql,
    ("orders",),
    doc="Pinball-loss audit of candidate constant predictors for the "
    "tau=0.9 order-value quantile on a floor-div ninths grid: 10x loss "
    "as an exact BIGINT (9(x-c) above, (c-x) below), argmin by integer "
    "ordering, fraction-below per candidate — the quantile-regression "
    "fit check with zero floating intermediates. One fact scan x "
    "broadcast 8-row grid, one map-side-combinable groupBy.",
    tags=("evaluation", "stats", "agg"),
)


# --------------------------------------------------------------------------
# SNIPS off-policy evaluation
# --------------------------------------------------------------------------
def _snips_sql(d: Dialect, orders: str, customer: str) -> str:
    """Off-policy evaluation from hash-randomized logs: the logging
    policy recommends one of the 5 order priorities uniformly
    (md5(orderkey) % 5, propensity the literal 1/5); the reward is the
    order value when the recommendation matches the order's actual
    priority, else 0 (the standard bandit-feedback reduction).  Two
    deterministic target policies are evaluated counterfactually:
    'always 1-URGENT' and 'urgent for BUILDING customers, 5-LOW
    otherwise'.  For a deterministic target, the importance weight is
    w = 5 * [logged action = target action], so

        IPS   = sum(w r) / n          (unbiased)
        SNIPS = sum(w r) / sum(w)     (self-normalized, lower variance)
        ESS   = (sum w)^2 / sum w^2   (effective sample size)

    All sums are exact integers (w in {{0,5}}, r in cents); the three
    ratios are the only doubles.  Scale shape: broadcast dim join, one
    scan, conditional aggregation — two output rows via a 2-row policy
    grid riding the scan."""
    h = d.md5_prefix_int(d.strcast("o.o_orderkey"))
    return f"""
WITH logs AS (
  SELECT CAST({h} % 5 AS INT) AS a_log,
         CAST(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 0
                   WHEN o.o_orderpriority = '2-HIGH' THEN 1
                   WHEN o.o_orderpriority = '3-MEDIUM' THEN 2
                   WHEN o.o_orderpriority = '4-NOT SPECIFIED' THEN 3
                   ELSE 4 END AS INT) AS a_true,
         CAST(CASE WHEN c.c_mktsegment = 'BUILDING' THEN 0 ELSE 4 END
              AS INT) AS a_seg,
         CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
),
pol AS (SELECT * FROM (VALUES (1), (2)) AS p(policy)),
scored AS (
  SELECT p.policy,
         CAST(COUNT(*) AS BIGINT) AS n,
         -- reward observed only when the log matched the TRUE priority
         CAST(SUM(CASE WHEN l.a_log = l.a_true
                        AND l.a_log = (CASE WHEN p.policy = 1 THEN 0
                                            ELSE l.a_seg END)
                       THEN 5 * l.cents ELSE 0 END) AS DECIMAL(38,0))
           AS wr_sum,
         CAST(SUM(CASE WHEN l.a_log = (CASE WHEN p.policy = 1 THEN 0
                                            ELSE l.a_seg END)
                       THEN 5 ELSE 0 END) AS DECIMAL(38,0)) AS w_sum,
         CAST(SUM(CASE WHEN l.a_log = (CASE WHEN p.policy = 1 THEN 0
                                            ELSE l.a_seg END)
                       THEN 25 ELSE 0 END) AS DECIMAL(38,0)) AS w2_sum
  FROM logs l CROSS JOIN pol p
  GROUP BY p.policy
)
SELECT CAST(policy AS INT) AS policy,
       CASE WHEN policy = 1 THEN 'always-urgent' ELSE 'segment-rule' END
         AS policy_name,
       n,
       CAST({d.idiv('w_sum', '5')} AS BIGINT) AS n_matched,
       CAST(ROUND(CAST(wr_sum AS DOUBLE) / NULLIF(CAST(n AS DOUBLE), 0)
                  / 100, 6) AS DOUBLE) AS value_ips_dollars,
       CAST(ROUND(CAST(wr_sum AS DOUBLE) / NULLIF(CAST(w_sum AS DOUBLE), 0)
                  / 100, 6) AS DOUBLE) AS value_snips_dollars,
       CAST(ROUND(CAST(w_sum AS DOUBLE) * CAST(w_sum AS DOUBLE)
                  / NULLIF(CAST(w2_sum AS DOUBLE), 0), 6) AS DOUBLE)
         AS effective_sample_size
FROM scored
ORDER BY policy
"""


register_sql(
    "snips_offpolicy_eval",
    _snips_sql,
    ("orders", "customer"),
    doc="Off-policy (counterfactual) evaluation from md5-randomized logs: "
    "IPS and self-normalized IPS value estimates plus effective sample "
    "size for two deterministic target policies, logging propensity the "
    "literal 1/5, rewards in exact cents, weights in {0,5} — all sums "
    "integer, three final divisions. Broadcast dim join + one "
    "conditional-aggregation scan with a 2-row policy grid.",
    tags=("evaluation", "causal", "agg"),
)
