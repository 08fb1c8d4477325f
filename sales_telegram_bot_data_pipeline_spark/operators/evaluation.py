"""Model-evaluation and classical-statistics operators: exact ROC-AUC,
Welch's unequal-variance t-test, the 2-D skyline (Pareto frontier), and a
Kaplan-Meier survival table.

These complete the engine's eval/stats family (decile lift, calibration,
kappa, z-test, KS, Mann-Whitney, chi-squared already exist): AUC is the
rank-based discrimination summary the lift table approximates, Welch is the
means-comparison sibling of the conversion z-test, the skyline is the
classic dominance operator (Borzsony et al. 2001), and Kaplan-Meier is the
standard censored time-to-event estimator for retention/repurchase.

Scale shapes:

- AUC: one groupBy collapses the corpus to its distinct (rounded) score
  values, the distributed range-prefix-sum primitive ranks them (never a
  single-partition window), one O(groups) aggregate finishes — the exact
  tie-corrected Mann-Whitney formulation, all-integer until one final
  division.
- Welch: per-source sum/sumsq/n map-side-combinable aggregate, then a
  bounded |sources|^2 pair self-join of the TINY aggregate relation.
- Skyline: the corpus collapses to one row per distinct x (<= max doc
  length, a constant, not corpus-sized); strict-suffix maxima come from a
  bounded aggregate self-join (no global window), and membership is a
  broadcast join back to the doc relation.
- Kaplan-Meier: per-customer durations from two groupBys, the grouped
  duration relation is bounded by the day domain; at-risk counts and the
  log-survival running sum both ride the range-prefix-sum primitive.

Hash-stability: every fraction is computed with structurally identical
double expressions in both engines and rounded to 6 decimals; log-survival
quantizes each per-step libm LN to integer nano-units BEFORE the prefix
sum (order-independent; only the per-step LN/EXP crosses engine libm —
empirically verified at sf <= 0.1, same caveat as the freshness profile).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dialect import DUCKDB, SPARK, Dialect
from ..registry import register, register_sql
from ..sources.tables import load_table, table_view

# --------------------------------------------------------------------------
# exact tie-corrected ROC-AUC of the quality classifier vs the 'en' label
# --------------------------------------------------------------------------
# AUC via the Mann-Whitney identity with midranks:
#   AUC = (R1 - n1(n1+1)/2) / (n1 * n0)
# where R1 is the sum of average ranks of the positives.  With score groups
# (c rows, c_pos positives, p rows strictly before), every tied row's
# 2*avgrank is rx2 = 2p + c + 1, so 2*R1 = SUM(c_pos * rx2) stays integral.

_AUC_FINAL = """
SELECT n AS n_docs, n1 AS n_pos, (n - n1) AS n_neg,
       -- NULLIF guards the one-class corpus (all or no positives): bare
       -- /0 is NULL on Spark but Inf/NaN on DuckDB, breaking oracle
       -- parity on degenerate data (round-8 advisory) — NULL on both
       ROUND(CAST(num2 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1) AS DOUBLE)
             / NULLIF(2.0 * n1 * (n - n1), 0), 6) AS auc,
       ROUND(CAST(num2 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1) AS DOUBLE)
             / NULLIF(1.0 * n1 * (n - n1), 0) - 1.0, 6) AS gini
FROM s
"""


def _auc_oracle() -> str:
    from .lm_quality import _logreg_sql

    scored = _logreg_sql(DUCKDB, "documents")
    return f"""
WITH scored AS (
  SELECT quality_prob AS v, (lang = 'en') AS pos FROM ({scored}) q
),
g AS (
  SELECT v, COUNT(*) AS c, SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS c_pos
  FROM scored GROUP BY v
),
r AS (
  SELECT v, c, c_pos,
         2 * COALESCE(SUM(c) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS rx2
  FROM g
),
s AS (
  SELECT CAST(SUM(CAST(c_pos AS DECIMAL(38,0)) * rx2) AS DECIMAL(38,0)) AS num2,
         CAST(SUM(c_pos) AS BIGINT) AS n1,
         CAST(SUM(c) AS BIGINT) AS n
  FROM r
)
{_AUC_FINAL}
"""


@register(
    "roc_auc_quality_score",
    oracle=_auc_oracle(),
    doc="Exact tie-corrected ROC-AUC (+ Gini) of the logreg quality score "
    "against the lang='en' label, via the Mann-Whitney midrank identity: "
    "the corpus collapses to distinct (rounded-6) score values in one "
    "map-combinable groupBy, distinct values rank through the DISTRIBUTED "
    "range-prefix-sum primitive (no single-partition window), and the "
    "numerator 2*R1 = SUM(c_pos * (2p+c+1)) stays in DECIMAL(38,0) until "
    "one final division.  Completes the classifier-eval family next to "
    "score_decile_lift (capture) and quality_score_calibration "
    "(reliability).  Oracle = same formula over a window cumsum.",
    tags=("evaluation", "stats", "distributed-rank"),
)
def roc_auc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .lm_quality import _logreg_sql
    from .scalars_extra import range_prefix_summed

    view = table_view(spark, sf_dir, "documents")
    scored = spark.sql(_logreg_sql(SPARK, view)).select(
        F.col("quality_prob").alias("v"), (F.col("lang") == "en").alias("pos")
    )
    g = scored.groupBy("v").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("c_pos"),
    )
    summed, _n = range_prefix_summed(g, ["v"], "c")
    if summed is None:
        return spark.createDataFrame(
            [], "n_docs bigint, n_pos bigint, n_neg bigint, auc double, gini double"
        )
    r = summed.select(
        "c",
        "c_pos",
        (2 * F.col("cum_before") + F.col("c") + 1).cast("bigint").alias("rx2"),
    )
    s = r.agg(
        F.sum(F.col("c_pos").cast("decimal(38,0)") * F.col("rx2"))
        .cast("decimal(38,0)")
        .alias("num2"),
        F.sum("c_pos").cast("bigint").alias("n1"),
        F.sum("c").cast("bigint").alias("n"),
    )
    return spark.sql(_AUC_FINAL.replace("FROM s", "FROM {s}"), s=s)


# --------------------------------------------------------------------------
# Welch's unequal-variance t-test between every source pair (doc length)
# --------------------------------------------------------------------------
# Plain ANSI — the SAME text runs on both engines (only the table differs).
def _welch_sql(d: Dialect, table: str) -> str:
    return f"""
WITH agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT)) AS BIGINT) AS q
  FROM {table} GROUP BY source
),
m AS (
  SELECT source, n, CAST(s AS DOUBLE) / n AS mean,
         (CAST(q AS DOUBLE) - (CAST(s AS DOUBLE) / n) * s) / (n - 1) AS var
  FROM agg WHERE n >= 2
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         a.n AS n_a, b.n AS n_b, a.mean AS mean_a, b.mean AS mean_b,
         a.var / a.n + b.var / b.n AS se2,
         a.var / a.n AS va, b.var / b.n AS vb
  FROM m a JOIN m b ON a.source < b.source
),
scored AS (
  SELECT source_a, source_b, n_a, n_b, mean_a, mean_b,
         (mean_a - mean_b) / SQRT(se2) AS t_raw,
         (se2 * se2) / (va * va / (n_a - 1) + vb * vb / (n_b - 1)) AS df_raw
  FROM pairs
)
SELECT source_a, source_b, n_a, n_b,
       ROUND(mean_a, 6) AS mean_a, ROUND(mean_b, 6) AS mean_b,
       ROUND(t_raw, 6) AS t_stat,
       ROUND(df_raw, 6) AS welch_df,
       -- critical value from the Student-t 97.5% quantile via the
       -- Cornish-Fisher expansion in 1/df (review fix: a fixed 1.96
       -- contradicted the emitted welch_df on small strata).  The
       -- two-term expansion is only within ~1% of the true t quantile
       -- for df >= 5 (true 97.5% quantile at df=1/2 is 12.71/4.30 vs
       -- the formula's ~7.2/3.9), so below df 5 the flag is NULL
       -- rather than wrong (round-8 advisory) — t/df still emitted
       CASE WHEN df_raw >= 5 THEN
         (ABS(t_raw) > 1.959964 + 2.372284 / df_raw + 2.822404 / (df_raw * df_raw))
       END AS significant_05
FROM scored
ORDER BY source_a, source_b
"""


register_sql(
    "welch_ttest_sources",
    _welch_sql,
    ("documents",),
    doc="Welch's unequal-variance t-test of mean doc length between every "
    "pair of sources: one map-combinable per-source (n, sum, sumsq) "
    "aggregate collapses the corpus to |sources| rows, then a bounded "
    "pair self-join of that tiny relation computes t and the "
    "Welch-Satterthwaite df.  The means-comparison sibling of "
    "ab_conversion_ztest (rates) and source_quality_ranksum "
    "(distribution-free ranks).  Identical ANSI text on both engines; "
    "sums exact in BIGINT (sumsq <= len^2 * rows ~ 3e17 at 100 TB).",
    tags=("evaluation", "stats", "self-join"),
)


# --------------------------------------------------------------------------
# 2-D skyline (Pareto frontier) over documents
# --------------------------------------------------------------------------
def _skyline_pts_sql(d: Dialect, table: str) -> str:
    """(doc_id, x = n_chars, y = distinct-word count) — the length/richness
    trade-off surface.  Tokenization shared with the quality suite."""
    from ..functions.text import words_sql

    y = f"CAST({d.alen(d.adistinct(words_sql(d, 'text')))} AS BIGINT)"
    return (
        f"SELECT doc_id, CAST(n_chars AS BIGINT) AS x, {y} AS y FROM {table}"
    )


def _skyline_oracle() -> str:
    pts = _skyline_pts_sql(DUCKDB, "documents")
    return f"""
WITH pts AS ({pts})
SELECT p.doc_id, p.x AS n_chars, p.y AS n_distinct_words
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE (q.x > p.x AND q.y >= p.y) OR (q.x >= p.x AND q.y > p.y)
)
ORDER BY n_chars DESC, doc_id
"""


@register(
    "skyline_pareto_docs",
    oracle=_skyline_oracle(),
    doc="2-D skyline (Pareto frontier, Borzsony et al. 2001): documents "
    "not dominated on (n_chars, distinct-word count), both maximized. "
    "Scale shape: the corpus collapses to one (x, max y) row per DISTINCT "
    "length (bounded by max doc length — a constant, not corpus size); "
    "strict-suffix maxima ms(x) = MAX(my over x' > x) come from a bounded "
    "self-join of that aggregate (no global window), and a doc is dominated "
    "iff ms >= y OR its own length-group max > y — proved equivalent to "
    "the textbook EXISTS form, which is the oracle.  Membership joins back "
    "to the doc relation on x (broadcast).",
    tags=("evaluation", "skyline", "dominance"),
)
def skyline_pareto_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    view = table_view(spark, sf_dir, "documents")
    pts = spark.sql(_skyline_pts_sql(SPARK, view)).localCheckpoint(eager=False)
    g = pts.groupBy("x").agg(F.max("y").alias("my"))
    ga, gb = g.alias("a"), g.alias("b")
    ms = (
        ga.join(gb, F.col("b.x") > F.col("a.x"), "left")
        .groupBy(F.col("a.x").alias("x"), F.col("a.my").alias("my"))
        .agg(F.max("b.my").alias("ms"))
    )
    out = (
        pts.join(F.broadcast(ms), "x")
        .where(
            ~F.coalesce(F.col("ms") >= F.col("y"), F.lit(False))
            & ~(F.col("my") > F.col("y"))
        )
        .select(
            "doc_id",
            F.col("x").alias("n_chars"),
            F.col("y").alias("n_distinct_words"),
        )
        .orderBy(F.desc("n_chars"), "doc_id")
    )
    return out


# --------------------------------------------------------------------------
# Kaplan-Meier survival: days to repurchase (distinct-day definition)
# --------------------------------------------------------------------------
# Event: a customer's SECOND distinct order day, t = days from first order.
# Censored: single-day customers, censored at the corpus horizon (max
# order date).  at_risk(t) counts durations >= t (censored-at-t rows stay
# in the risk set for events at t — the standard convention); S(t) is the
# product-limit estimate, computed as EXP of the running sum of per-step
# LN factors quantized to nano-units (a step with n_event = at_risk gets a
# -1e18 sentinel so EXP underflows to exactly 0.0 in both engines).
_KM_ZERO_SENTINEL = -1_000_000_000_000_000_000

_KM_DUR_SQL = """
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
durs AS (
  SELECT s.ck,
         CASE WHEN s.d2 IS NOT NULL THEN {dd_event} ELSE {dd_censor} END AS t,
         (s.d2 IS NOT NULL) AS is_event
  FROM seconds s CROSS JOIN horizon h
)
SELECT CAST(t AS BIGINT) AS t,
       CAST(SUM(CASE WHEN is_event THEN 1 ELSE 0 END) AS BIGINT) AS n_event,
       CAST(SUM(CASE WHEN is_event THEN 0 ELSE 1 END) AS BIGINT) AS n_censor
FROM durs GROUP BY t
"""

_KM_STEP_SQL = f"""
SELECT t, n_event, n_censor, at_risk,
       CASE WHEN n_event >= at_risk THEN {_KM_ZERO_SENTINEL}
            WHEN n_event = 0 THEN 0
            ELSE CAST(ROUND(LN((at_risk - n_event) * 1.0 / at_risk) * 1000000000)
                      AS BIGINT) END AS lq
FROM {{steps}}
"""

_KM_FINAL_SQL = """
SELECT t AS t_days, at_risk, n_event, n_censor,
       ROUND(EXP(CAST(cum_lq AS DOUBLE) / 1000000000), 6) AS survival
FROM {cum} ORDER BY t_days
"""


def _km_oracle() -> str:
    durs = _KM_DUR_SQL.format(
        orders="orders",
        dd_event="datediff('day', s.d1, s.d2)",
        dd_censor="datediff('day', s.d1, h.hmax)",
    )
    steps = f"""
WITH g AS ({durs}),
tot AS (SELECT CAST(SUM(n_event + n_censor) AS BIGINT) AS n FROM g),
risk AS (
  SELECT g.*, CAST(tot.n - COALESCE(SUM(n_event + n_censor) OVER (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         AS at_risk
  FROM g CROSS JOIN tot
),
steps AS ({_KM_STEP_SQL.format(steps="risk")}),
cum AS (
  SELECT t, n_event, n_censor, at_risk,
         CAST(SUM(lq) OVER (ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_lq
  FROM steps
)
{_KM_FINAL_SQL.format(cum="cum")}
"""
    return steps


@register(
    "kaplan_meier_repurchase",
    oracle=_km_oracle(),
    doc="Kaplan-Meier product-limit survival of days-to-repurchase (second "
    "DISTINCT order day), single-day customers right-censored at the "
    "corpus horizon.  Scale shape: two groupBys collapse orders to one "
    "row per customer, then to one row per distinct duration (bounded by "
    "the day domain); at-risk counts AND the log-survival running sum "
    "both ride the distributed range-prefix-sum primitive — no global "
    "window.  Per-step LN factors quantize to integer nano-units BEFORE "
    "summation (order-independent; a saturated step uses a -1e18 sentinel "
    "so EXP underflows to exactly 0 in both engines).  Oracle = window "
    "cumsum form.",
    tags=("evaluation", "survival", "distributed-rank"),
)
def kaplan_meier_repurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalars_extra import range_prefix_summed_pair

    orders = table_view(spark, sf_dir, "orders")
    g = spark.sql(
        _KM_DUR_SQL.format(
            orders=orders,
            dd_event="datediff(s.d2, s.d1)",
            dd_censor="datediff(h.hmax, s.d1)",
        )
    ).withColumn("c_total", (F.col("n_event") + F.col("n_censor")).cast("bigint"))

    # Both prefix passes (at-risk counts, then the LN-step running sum)
    # are keyed on the same t order, so they share ONE range partitioning
    # via range_prefix_summed_pair (guide §2.4) — the two-primitive form
    # paid a second repartitionByRange sampling + checkpoint + offset
    # collect and an intermediate localCheckpoint between the passes.
    # lq derives row-wise from (n_event, at_risk), so partition alignment
    # is untouched and every summed value is bit-identical.
    def derive(risk, n_total):
        risk = risk.withColumn(
            "at_risk", (F.lit(n_total) - F.col("cum_before")).cast("bigint")
        )
        lq = (
            F.when(F.col("n_event") >= F.col("at_risk"), F.lit(_KM_ZERO_SENTINEL))
            .when(F.col("n_event") == 0, F.lit(0))
            .otherwise(
                F.round(
                    F.log(
                        (F.col("at_risk") - F.col("n_event"))
                        * 1.0
                        / F.col("at_risk")
                    )
                    * 1000000000
                )
            )
            .cast("bigint")
        )
        return risk.withColumn("lq", lq), "lq"

    cum, _ = range_prefix_summed_pair(g, ["t"], "c_total", derive)
    if cum is None:
        return spark.createDataFrame(
            [],
            "t_days bigint, at_risk bigint, n_event bigint, n_censor bigint, survival double",
        )
    cum = cum.withColumn(
        "cum_lq", (F.col("cum_before2") + F.col("lq")).cast("bigint")
    )
    return spark.sql(_KM_FINAL_SQL, cum=cum)


# --------------------------------------------------------------------------
# lang-ID detector confusion table (multi-class truth vs binary detector)
# --------------------------------------------------------------------------
def _langid_confusion_sql(d: Dialect, table: str) -> str:
    """Per declared language: how often the stopword-density detector says
    'en', plus the detector's corpus-level precision/recall/F1 against the
    declared label (scalar, repeated per row from a one-row broadcast).
    Shares the exact ratio expression with lang_id_heuristic, so this is
    an EVAL of that registered operator, not a reimplementation."""
    from ..functions.text import stopword_ratio_sql

    ratio = stopword_ratio_sql(d, "text")
    return f"""
WITH pred AS (
  SELECT lang AS declared_lang,
         CASE WHEN {ratio} >= 0.05 THEN 1 ELSE 0 END AS pred_en
  FROM {table}
),
cm AS (
  SELECT declared_lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(pred_en) AS BIGINT) AS n_pred_en
  FROM pred GROUP BY declared_lang
),
tot AS (
  SELECT CAST(SUM(CASE WHEN declared_lang = 'en' THEN n_pred_en ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN declared_lang <> 'en' THEN n_pred_en ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN declared_lang = 'en' THEN n_docs - n_pred_en ELSE 0 END) AS BIGINT) AS fn
  FROM cm
)
SELECT cm.declared_lang, cm.n_docs, cm.n_pred_en,
       ROUND(CAST(cm.n_pred_en AS DOUBLE) / cm.n_docs, 6) AS pred_en_rate,
       ROUND(CAST(t.tp AS DOUBLE) / (t.tp + t.fp), 6) AS en_precision,
       ROUND(CAST(t.tp AS DOUBLE) / (t.tp + t.fn), 6) AS en_recall,
       ROUND(CAST(2 * t.tp AS DOUBLE) / (2 * t.tp + t.fp + t.fn), 6) AS en_f1
FROM cm CROSS JOIN tot t
ORDER BY cm.declared_lang
"""


register_sql(
    "langid_eval_confusion",
    _langid_confusion_sql,
    ("documents",),
    doc="Confusion table of the registered lang_id_heuristic detector "
    "against the declared language label: per-language detection rates "
    "plus corpus precision/recall/F1 of the 'en' class (one-row scalar "
    "broadcast).  One map-combinable groupBy over the |langs| domain — "
    "the multi-class eval sibling of roc_auc_quality_score (threshold-"
    "free) and quality_gate_agreement_kappa (gate-vs-gate).",
    tags=("evaluation", "text", "agg"),
)


# --------------------------------------------------------------------------
# Poisson bootstrap CI for the mean order price (B hash replicas, one pass)
# --------------------------------------------------------------------------
BOOT_B = 32  # replicates

# Poisson(1) CDF as exact double literals (identical in both engines); the
# inverse-CDF ladder maps a hash-uniform u in [0,1) to a multiplicity 0..9.
_POIS_CDF = [
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238463",
    "0.9963401531726563",
    "0.9994058151824183",
    "0.999916758850712",
    "0.9999897508033253",
    "0.999998874797402",
]


def _pois_case(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"CASE {branches} ELSE 9 END"


def _bootstrap_sql(d: Dialect, orders: str, series: str) -> str:
    """Poisson bootstrap (the distributed bootstrap: resampling a corpus
    with replacement is impossible row-locally, but Binomial(n, 1/n) ->
    Poisson(1) multiplicities are i.i.d. per row): every order carries a
    seed-free multiplicity per replicate from the inverse CDF of a
    md5-uniform, so each replicate's mean is one map-combinable weighted
    aggregate and all {BOOT_B} replicates ride a single scan with a
    B-element literal explode.  The CI is the (2nd, 31st) order statistic
    of the replicate means — computed by a bounded B^2 correlated count,
    never a global sort."""
    h = d.md5_prefix_int(f"({d.strcast('o_orderkey')} || ':' || {d.strcast('b')})")
    u = f"(({h}) / 1152921504606846976.0)"  # / 2^60 -> [0,1)
    return f"""
WITH rep AS (
  SELECT b, {_pois_case(u)} AS k,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM {orders} CROSS JOIN ({series}) s
),
means AS (
  SELECT b,
         ROUND(CAST(SUM(CAST(k AS DECIMAL(38,0)) * cents) AS DOUBLE)
               / NULLIF(SUM(k), 0) / 100, 6) AS rep_mean
  FROM rep GROUP BY b
),
ranked AS (
  SELECT m.b, m.rep_mean,
         (SELECT COUNT(*) FROM means y
          WHERE y.rep_mean < m.rep_mean
             OR (y.rep_mean = m.rep_mean AND y.b < m.b)) AS rnk
  FROM means m
),
ci AS (
  SELECT MAX(CASE WHEN rnk = 1 THEN rep_mean END) AS ci_lo,
         MAX(CASE WHEN rnk = {BOOT_B - 2} THEN rep_mean END) AS ci_hi
  FROM ranked
),
full_mean AS (
  SELECT ROUND(CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                            AS DECIMAL(38,0))) AS DOUBLE)
               / COUNT(*) / 100, 6) AS mean_price
  FROM {orders}
)
SELECT r.b, r.rep_mean, c.ci_lo, c.ci_hi, f.mean_price
FROM ranked r CROSS JOIN ci c CROSS JOIN full_mean f
ORDER BY r.b
"""


@register(
    "poisson_bootstrap_ci",
    oracle=_bootstrap_sql(
        DUCKDB,
        "orders",
        f"SELECT unnest(generate_series(0, {BOOT_B - 1})) AS b",
    ),
    doc=f"Poisson bootstrap confidence interval for the mean order price: "
    f"{BOOT_B} seed-free replicates, each row's per-replicate multiplicity "
    "drawn from the exact Poisson(1) inverse CDF of a md5-uniform (the "
    "distributed bootstrap — Binomial(n,1/n) -> Poisson(1), no global "
    "resampling pass); all replicates ride ONE scan with a B-element "
    "literal explode, each mean a weighted map-combinable aggregate; the "
    "(2nd, 31st) order statistics of the B means bound the ~94% CI via a "
    "bounded B^2 correlated count.  Deterministic across runs, engines "
    "and partitionings.",
    tags=("evaluation", "stats", "bootstrap"),
)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # spread the B-fold md5 work: orders is one small parquet split, so the
    # post-explode hash column would otherwise compute in a SINGLE task
    # (B x |orders| md5 calls, measured 11 s at sf0.1 -> 1.9 s spread)
    o = load_table(spark, sf_dir, "orders").repartition(nparts)
    # materialize-once: the means relation feeds the ranked relation AND its
    # correlated order-statistic subquery — Spark inlines CTEs, so without a
    # break the B-replicate corpus scan runs three times
    h = SPARK.md5_prefix_int(
        f"({SPARK.strcast('o_orderkey')} || ':' || {SPARK.strcast('b')})"
    )
    u = f"(({h}) / 1152921504606846976.0)"
    means = spark.sql(
        f"""
SELECT b, ROUND(CAST(SUM(CAST(k AS DECIMAL(38,0)) * cents) AS DOUBLE)
         / NULLIF(SUM(k), 0) / 100, 6) AS rep_mean
FROM (
  SELECT b, {_pois_case(u)} AS k,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM {{o}}
  CROSS JOIN (SELECT explode(sequence(0, {BOOT_B - 1})) AS b) s
) rep GROUP BY b
""",
        o=o,
    ).localCheckpoint()
    return spark.sql(
        f"""
WITH ranked AS (
  SELECT m.b, m.rep_mean,
         (SELECT COUNT(*) FROM {{means}} y
          WHERE y.rep_mean < m.rep_mean
             OR (y.rep_mean = m.rep_mean AND y.b < m.b)) AS rnk
  FROM {{means}} m
),
ci AS (
  SELECT MAX(CASE WHEN rnk = 1 THEN rep_mean END) AS ci_lo,
         MAX(CASE WHEN rnk = {BOOT_B - 2} THEN rep_mean END) AS ci_hi
  FROM ranked
),
full_mean AS (
  SELECT ROUND(CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                            AS DECIMAL(38,0))) AS DOUBLE)
               / COUNT(*) / 100, 6) AS mean_price
  FROM {{o}}
)
SELECT r.b, r.rep_mean, c.ci_lo, c.ci_hi, f.mean_price
FROM ranked r CROSS JOIN ci c CROSS JOIN full_mean f
ORDER BY r.b
""",
        means=means,
        o=o,
    )


# --------------------------------------------------------------------------
# one-way ANOVA across sources (doc length) — the k-group F-test
# --------------------------------------------------------------------------
def _anova_sql(d: Dialect, table: str) -> str:
    return f"""
WITH g AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT)) AS BIGINT) AS q
  FROM {table} GROUP BY source
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(s) AS BIGINT) AS ss,
         CAST(SUM(q) AS BIGINT) AS qq, CAST(COUNT(*) AS BIGINT) AS k
  FROM g
),
-- per-group fractional terms quantized to micro-unit BIGINTs BEFORE the
-- cross-group sum: double addition is order-sensitive and Spark aggregates
-- in partition order; integer sums are not
terms AS (
  SELECT CAST(FLOOR((CAST(q AS DOUBLE) - (CAST(s AS DOUBLE) / n) * s) * 1000000)
              AS BIGINT) AS ssw_u,
         CAST(FLOOR(n * ((CAST(s AS DOUBLE) / n) - (SELECT CAST(ss AS DOUBLE) / nn FROM tot))
                      * ((CAST(s AS DOUBLE) / n) - (SELECT CAST(ss AS DOUBLE) / nn FROM tot))
                    * 1000000) AS BIGINT) AS ssb_u
  FROM g
),
sums AS (
  SELECT CAST(SUM(ssw_u) AS BIGINT) AS ssw, CAST(SUM(ssb_u) AS BIGINT) AS ssb
  FROM terms
)
SELECT t.k AS k_groups, t.nn AS n_total,
       ROUND(CAST(s2.ssb AS DOUBLE) / 1000000, 6) AS ss_between,
       ROUND(CAST(s2.ssw AS DOUBLE) / 1000000, 6) AS ss_within,
       ROUND((CAST(s2.ssb AS DOUBLE) / (t.k - 1))
             / (CAST(s2.ssw AS DOUBLE) / (t.nn - t.k)), 6) AS f_stat,
       ROUND(CAST(s2.ssb AS DOUBLE) / (s2.ssb + s2.ssw), 6) AS eta_squared
FROM sums s2 CROSS JOIN tot t
"""


register_sql(
    "anova_sources_doclen",
    _anova_sql,
    ("documents",),
    doc="One-way ANOVA of doc length across ALL sources (the k-group "
    "extension of welch_ttest_sources): F = MSB/MSW and eta^2 from one "
    "per-source (n, sum, sumsq) aggregate.  Per-group fractional SS "
    "terms quantize to micro-unit BIGINTs BEFORE the cross-group sum — "
    "double addition is partition-order-sensitive, integer sums are not. "
    "Identical ANSI text on both engines; O(1) output.",
    tags=("evaluation", "stats", "agg"),
)
