"""Statistical language-model and classifier-style quality operators — the
model-based data-curation family a large-scale training pipeline runs after
the rule-based filters (operators/textops.py, operators/curation.py):

- ``bigram_lm_score``   — CCNet-style LM quality filter (Wenzek et al.,
  CCNet, 2020): train a smoothed bigram LM on a clean target subset, score
  every candidate doc by average log-probability / perplexity.
- ``dsir_importance``   — DSIR-style importance weights (Xie et al., "Data
  Selection for Language Models via Importance Resampling", 2023): hashed
  bigram features, per-doc log importance weight log p_target(f)/p_raw(f).
- ``quality_logreg_score`` — fixed-weight logistic classifier over the
  rule-based quality features (the fasttext-classifier filtering shape with
  deterministic stand-in weights; the Spark plumbing — feature projection,
  codegen sigmoid, no Python — is the real surface).
- ``token_budget_selection`` — per-source token-budget fill (the data-mixing
  step): order docs by fluency, keep the prefix that fits the budget.

All dual-dialect SQL templates (functions/dialect.py): the Spark query and
its DuckDB oracle are the same expression tree, and every float emitted is
either rounded(6) or an exact decimal-sum derivative, so hashes match.

Scale design (100 TB):
- LM training aggregates only the TARGET subset (benchmarks/clean corpora
  are thousands of docs, not billions) — the model tables are small and the
  scoring joins broadcast; corpus text never shuffles, only (doc_id, logp)
  pairs aggregate on doc_id (map-side partials apply).
- DSIR's feature space is a FIXED 4096-bucket hash table — the bucket
  stats table is O(B) regardless of corpus size, built in one pass with
  FILTER-ed counts (no per-distribution rescan), and the scoring join is a
  broadcast by construction.
- per-term log-probabilities quantize to integer 1e-6 units via FLOOR
  (pure IEEE multiply+floor; the old ROUND(double, n)→DECIMAL cast chain
  diverged between engines and flipped a last digit at sf0.1) and sum
  exactly as BIGINT — order-independent across partitions and bit-stable
  across engines; emitted floats floor to 5 decimals for the same reason.
- token_budget_selection's only wide op is a window SUM partitioned by
  source (the natural parallel unit; skewed sources would use the salted
  variant in operators/scale.py), cast to BIGINT at emission (DuckDB types
  integer window SUMs as HUGEINT — the round-3 driver-hash trap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.dialect import DUCKDB, SPARK, Dialect, strip_order_by
from ..functions.text import quality_fields_sql
from ..registry import register, register_sql
from ..sources.tables import table_view
from .curation import BENCH_MOD

DSIR_BUCKETS = 4096
TOKEN_BUDGET_PER_SOURCE = 1000  # binds on the test corpus (max source ~1.7k tokens)


def _word_rel(d: Dialect, table: str, pred: str = "") -> str:
    """(doc_id, word) — one row per token occurrence."""
    base = f"SELECT doc_id, {d.splitws('lower(text)')} AS w FROM {table}{pred}"
    if d.name == "spark":
        return f"SELECT doc_id, word FROM ({base}) s LATERAL VIEW explode(w) t AS word"
    return f"SELECT doc_id, unnest(w) AS word FROM ({base}) s"


def _bigram_rel(d: Dialect, table: str, pred: str = "") -> str:
    """(doc_id, w1, w2) — one row per adjacent word pair.  Spark's sequence()
    raises on an empty range and LATERAL VIEW evaluates before WHERE, so the
    upper bound is clamped and the 1-word bogus row dropped after."""
    base = f"SELECT doc_id, {d.splitws('lower(text)')} AS w FROM {table}{pred}"
    if d.name == "spark":
        return (
            f"SELECT doc_id, {d.get1('w', 'i')} AS w1, {d.get1('w', 'i + 1')} AS w2 "
            f"FROM ({base}) s "
            f"LATERAL VIEW explode(sequence(1, greatest(1, {d.alen('w')} - 1))) t AS i "
            f"WHERE {d.alen('w')} >= 2"
        )
    return (
        "SELECT doc_id, list_extract(w, i) AS w1, list_extract(w, i + 1) AS w2 "
        "FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i "
        f"      FROM ({base}) s WHERE len(w) >= 2) x"
    )


# --------------------------------------------------------------------------
# CCNet-style bigram LM scoring
# --------------------------------------------------------------------------
def _bigram_lm_sql(d: Dialect, table: str) -> str:
    """Two-phase train/score: the clean target subset (the frozen benchmark
    set, doc_id % BENCH_MOD = 0 — same convention as contamination_overlap)
    trains unigram + bigram counts; every other doc is scored by average
    add-1/2-smoothed conditional log-probability and perplexity.  Per-term
    logp is floor-quantized to integer 1e-6 units and summed as BIGINT so
    the per-doc aggregate is order-independent and engine-exact."""
    tgt = f" WHERE doc_id % {BENCH_MOD} = 0"
    rest = f" WHERE doc_id % {BENCH_MOD} <> 0"
    return f"""
WITH tgt_uni AS (
  SELECT word, COUNT(*) AS c1 FROM ({_word_rel(d, table, tgt)}) tw GROUP BY word
),
tgt_bi AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM ({_bigram_rel(d, table, tgt)}) tb GROUP BY w1, w2
),
vocab AS (SELECT COUNT(*) AS v FROM tgt_uni),
scored AS (
  SELECT cb.doc_id,
         LN((2.0 * COALESCE(b.c2, 0) + 1) / (2.0 * COALESCE(u.c1, 0) + v.v)) AS logp
  FROM ({_bigram_rel(d, table, rest)}) cb
  LEFT JOIN tgt_bi b ON b.w1 = cb.w1 AND b.w2 = cb.w2
  LEFT JOIN tgt_uni u ON u.word = cb.w1
  CROSS JOIN vocab v
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         SUM(CAST(FLOOR(logp * 1e6) AS BIGINT)) AS logp_units
  FROM scored GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_bigrams AS BIGINT) AS n_bigrams,
       CAST(FLOOR(CAST(logp_units AS DOUBLE) / 1e6 / n_bigrams * 1e5) / 1e5 AS DOUBLE) AS avg_logp,
       CAST(FLOOR(EXP(-(CAST(logp_units AS DOUBLE) / 1e6 / n_bigrams)) * 1e5) / 1e5 AS DOUBLE) AS ppl
FROM agg
ORDER BY doc_id
"""


register_sql(
    "bigram_lm_score",
    _bigram_lm_sql,
    ("documents",),
    doc="CCNet-style LM quality filter: add-1/2-smoothed bigram LM trained "
    f"on the frozen target subset (doc_id % {BENCH_MOD} = 0), every other "
    "doc scored by avg conditional log-prob + perplexity.  Model tables are "
    "small (target-only) -> broadcast scoring joins; corpus text never "
    "shuffles; per-term logp floor-quantized to integer units and "
    "BIGINT-summed for order-independence (LN/EXP terms go through engine "
    "libm, so cross-engine exactness is empirically verified at sf<=0.1, "
    "not guaranteed by construction).",
    tags=("quality", "lm", "text"),
)


# --------------------------------------------------------------------------
# DSIR-style hashed-n-gram importance weights
# --------------------------------------------------------------------------
def _dsir_feats_sql(d: Dialect, table: str) -> str:
    """(doc_id, bucket) pairs of the hashed bigram features."""
    h = d.md5_prefix_int("(w1 || ' ' || w2)")
    return f"SELECT doc_id, ({h}) % {DSIR_BUCKETS} AS f FROM ({_bigram_rel(d, table)}) bg"


def _dsir_sql(d: Dialect, table: str, feats: str) -> str:
    """Hashed bigram features (portable md5 hash % B); per-bucket target/raw
    counts in ONE FILTER-ed aggregation pass; per-doc importance weight =
    sum of add-1-smoothed log probability ratios over its features.  The
    bucket table is O(B) = 4096 rows however large the corpus — a broadcast
    join by construction."""
    return f"""
WITH buckets AS (
  SELECT f,
         COUNT(*) FILTER (WHERE doc_id % {BENCH_MOD} = 0) AS tc,
         COUNT(*) FILTER (WHERE doc_id % {BENCH_MOD} <> 0) AS rc
  FROM ({feats}) fe GROUP BY f
),
tot AS (
  SELECT CAST(SUM(tc) AS BIGINT) AS tt, CAST(SUM(rc) AS BIGINT) AS rt FROM buckets
),
scored AS (
  SELECT fe.doc_id,
         LN((COALESCE(b.tc, 0) + 1.0) / (tot.tt + {DSIR_BUCKETS}))
           - LN((COALESCE(b.rc, 0) + 1.0) / (tot.rt + {DSIR_BUCKETS})) AS lr
  FROM ({feats}) fe
  LEFT JOIN buckets b ON b.f = fe.f
  CROSS JOIN tot
  WHERE fe.doc_id % {BENCH_MOD} <> 0
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_feats,
       CAST(FLOOR(CAST(SUM(CAST(FLOOR(lr * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 * 1e5) / 1e5
            AS DOUBLE) AS log_weight,
       CAST(FLOOR(CAST(SUM(CAST(FLOOR(lr * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 / COUNT(*) * 1e5) / 1e5
            AS DOUBLE) AS avg_log_ratio
FROM scored
GROUP BY doc_id
ORDER BY doc_id
"""


register_sql(
    "dsir_importance",
    _dsir_sql,
    ("documents",),
    heads={"dsir_feats": _dsir_feats_sql},
    doc=f"DSIR-style importance weights: {DSIR_BUCKETS}-bucket hashed bigram "
    "features, one-pass FILTERed target/raw bucket counts, per-doc log "
    "importance weight log p_target/p_raw (add-1 smoothing).  Bucket table "
    "is O(B) regardless of corpus size -> broadcast scoring join; decimal-"
    "summed log ratios for order-independence.",
    tags=("quality", "sampling", "text"),
)


# --------------------------------------------------------------------------
# fixed-weight logistic quality classifier
# --------------------------------------------------------------------------
# Stand-in coefficients for a classifier trained offline (fasttext-style
# quality filtering); deterministic by construction, documented as a stub —
# the engine surface is the vectorized codegen scoring projection.
LOGREG_W = {
    "bias": -1.8,
    "stopword_ratio": 14.0,  # fluent English -> high stopword density
    "type_token_ratio": 1.5,  # vocabulary diversity
    "avg_token_len": -0.12,  # penalize very long average tokens
    "punct_per_token": -2.0,  # spammy punctuation
}


def _logreg_sql(d: Dialect, table: str) -> str:
    """Pure projection: rule-based quality features -> linear score ->
    sigmoid.  Every feature is rounded(6) before the linear combination, so
    the arithmetic is the same exact doubles in both engines."""
    q = quality_fields_sql(d, "text")
    punct_per_tok = (
        f"cast(round({q['punct_count']} * 1.0 / nullif({q['n_tokens']}, 0), 6) as double)"
    )
    z = (
        f"({LOGREG_W['bias']} + {LOGREG_W['stopword_ratio']} * COALESCE({q['stopword_ratio']}, 0) "
        f"+ {LOGREG_W['type_token_ratio']} * COALESCE({q['type_token_ratio']}, 0) "
        f"+ {LOGREG_W['avg_token_len']} * COALESCE({q['avg_token_len']}, 0) "
        f"+ {LOGREG_W['punct_per_token']} * COALESCE({punct_per_tok}, 0))"
    )
    return f"""
WITH scored AS (
  SELECT doc_id, lang,
         {q['n_tokens']} AS n_tokens,
         {q['stopword_ratio']} AS stopword_ratio,
         {q['type_token_ratio']} AS type_token_ratio,
         CAST(ROUND(1.0 / (1.0 + EXP(-{z})), 6) AS DOUBLE) AS quality_prob
  FROM {table}
)
SELECT doc_id, lang, n_tokens, stopword_ratio, type_token_ratio, quality_prob,
       quality_prob >= 0.5 AS quality_keep
FROM scored
ORDER BY doc_id
"""


register_sql(
    "quality_logreg_score",
    _logreg_sql,
    ("documents",),
    doc="Classifier-based quality filtering (fasttext-classifier shape, "
    "deterministic stand-in weights): rule-based features -> codegen "
    "sigmoid -> keep flag.  Pure projection, shuffle-free, no Python.",
    tags=("quality", "scalar", "text"),
)


# --------------------------------------------------------------------------
# per-source token-budget selection (data mixing)
# --------------------------------------------------------------------------
def _token_budget_sql(d: Dialect, table: str) -> str:
    """Fill each source's token budget with its most fluent docs: order by
    (fluency DESC, doc_id), running token total via a source-partitioned
    window SUM, keep the prefix whose cumulative total fits.  The window SUM
    is cast to BIGINT at emission (DuckDB HUGEINT trap).  The split is
    hoisted into a words CTE so the text tokenizes ONCE per row for both
    the count and the fluency ratio (lower() does not change token counts;
    −35% measured)."""
    from ..functions.text import stopword_ratio_over_sql, words_sql

    fluency = stopword_ratio_over_sql(d, "ws")
    return f"""
WITH words AS (SELECT source, doc_id, {words_sql(d, "text")} AS ws FROM {table}),
scored AS (
  SELECT source, doc_id, CAST({d.alen("ws")} AS BIGINT) AS n_tokens,
         COALESCE({fluency}, 0.0) AS fluency
  FROM words
),
ranked AS (
  SELECT source, doc_id, n_tokens, fluency,
         CAST(SUM(n_tokens) OVER (PARTITION BY source
                                  ORDER BY fluency DESC, doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_tokens
  FROM scored
)
SELECT source, doc_id, n_tokens, fluency, cum_tokens
FROM ranked
WHERE cum_tokens <= {TOKEN_BUDGET_PER_SOURCE}
ORDER BY source, doc_id
"""


register_sql(
    "token_budget_selection",
    _token_budget_sql,
    ("documents",),
    doc=f"Data mixing: fill each source's {TOKEN_BUDGET_PER_SOURCE}-token "
    "budget with its most fluent docs — source-partitioned window cumsum "
    "(source is the parallel unit; skewed sources -> salted variant in "
    "operators/scale.py), prefix selection, fully deterministic.",
    tags=("curation", "sampling", "window"),
)


# --------------------------------------------------------------------------
# score decile lift table (is the quality classifier worth its threshold?)
# --------------------------------------------------------------------------
LIFT_BUCKETS = 10


def _lift_sql(d: Dialect, table: str, ranked_rel: str | None = None) -> str:
    """The evaluation table every scoring model gets before anyone trusts
    its threshold: rank the corpus by classifier score, cut into deciles,
    and read off each decile's positive rate, cumulative capture, and
    lift vs the base rate.  Positive label here = lang-ID English (the
    logreg's stopword feature is English-based).  On THIS synthetic corpus
    every lang draws the same vocabulary, so the honest reading is a flat
    lift ~1 — which is exactly what the table is for: it MEASURES whether
    a classifier discriminates instead of assuming it (the discrimination
    mechanics are pinned in tests on an injected score/label
    correlation).

    Scale: ranking is the DISTRIBUTED range-rank on the Spark side (the
    oracle may sort globally — it's the oracle); decile assignment is the
    equi-depth bucket-of-rank integer arithmetic; every window below runs
    on the aggregated <= LIFT_BUCKETS-row relation.  Rates divide exact
    integers in IEEE doubles, ROUND(6)."""
    scored = strip_order_by(_logreg_sql(d, table))
    ranked = ranked_rel or (
        f"SELECT doc_id, (lang = 'en') AS is_pos, "
        f"ROW_NUMBER() OVER (ORDER BY quality_prob DESC, doc_id) AS r "
        f"FROM ({scored}) sc"
    )
    decile = d.idiv(f"(r - 1) * {LIFT_BUCKETS}", "t.n")
    return f"""
WITH ranked AS ({ranked}),
tot AS (
  SELECT COUNT(*) AS n, SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS npos
  FROM ranked
),
bucketed AS (
  SELECT {decile} AS decile, is_pos FROM ranked CROSS JOIN tot t
),
per AS (
  SELECT decile, COUNT(*) AS n_docs,
         SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS n_pos
  FROM bucketed GROUP BY decile
),
cum AS (
  SELECT decile, n_docs, n_pos,
         SUM(n_pos) OVER (ORDER BY decile
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
  FROM per
)
SELECT CAST(c.decile AS INT) AS decile,
       CAST(c.n_docs AS BIGINT) AS n_docs,
       CAST(c.n_pos AS BIGINT) AS n_pos,
       CAST(ROUND(c.n_pos * 1.0e0 / NULLIF(c.n_docs, 0), 6) AS DOUBLE) AS pos_rate,
       CAST(ROUND(c.cum_pos * 1.0e0 / NULLIF(t.npos, 0), 6) AS DOUBLE) AS cum_capture,
       CAST(ROUND((c.n_pos * 1.0e0 / NULLIF(c.n_docs, 0))
                  / NULLIF(t.npos * 1.0e0 / t.n, 0.0e0), 6) AS DOUBLE) AS lift
FROM cum c CROSS JOIN tot t
ORDER BY c.decile
"""


@register(
    "score_decile_lift",
    oracle=_lift_sql(DUCKDB, "documents"),
    doc=f"Classifier decile lift table: corpus ranked by the logreg "
    f"quality score (distributed range-rank — never a single-partition "
    f"sort), cut into {LIFT_BUCKETS} equi-depth deciles (bucket-of-rank "
    "integer arithmetic), per-decile positive rate / cumulative capture / "
    "lift vs base rate with lang-ID English as the label (flat ~1 on "
    "this vocabulary-shared synthetic corpus — the table measures, not "
    "assumes, discrimination). Every window below the ranking runs on the "
    "bounded aggregated decile relation.",
    tags=("quality", "eval", "ranking"),
)
def score_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalars_extra import range_ranked

    view = table_view(spark, sf_dir, "documents")
    scored = strip_order_by(_logreg_sql(SPARK, view))
    base = spark.sql(
        f"SELECT doc_id, (lang = 'en') AS is_pos, -quality_prob AS neg "
        f"FROM ({scored}) sc"
    )
    ranked, n = range_ranked(base, ["neg", "doc_id"])
    if n == 0:
        return spark.createDataFrame(
            [],
            "decile int, n_docs bigint, n_pos bigint, pos_rate double, "
            "cum_capture double, lift double",
        )
    return spark.sql(
        _lift_sql(SPARK, view, ranked_rel="SELECT doc_id, is_pos, r FROM {ranked}"),
        ranked=ranked.select("doc_id", "is_pos", "r"),
    )


# --------------------------------------------------------------------------
# interpolated Kneser-Ney bigram scoring
# --------------------------------------------------------------------------
KN_DISCOUNT = 0.75  # the standard fixed discount (Chen & Goodman 1999)


def _kn_tgt_bi_sql(d: Dialect, table: str) -> str:
    """Bigram counts of the frozen target subset: the trained model every
    KN relation and the scoring join read."""
    tgt = f" WHERE doc_id % {BENCH_MOD} = 0"
    return f"""
  SELECT w1, w2, COUNT(*) AS c2 FROM ({_bigram_rel(d, table, tgt)}) tb GROUP BY w1, w2
"""


def _kneser_ney_sql(d: Dialect, table: str, tgt_bi: str) -> str:
    """Interpolated Kneser-Ney (Kneser & Ney 1995; Chen & Goodman 1999
    formulation) — the stronger sibling of the add-smoothing bigram LM:

      P(w2|w1) = max(c(w1,w2) - D, 0) / c(w1·)
               + D · N1+(w1,·) / c(w1·) · Pcont(w2)
      Pcont(w2) ∝ N1+(·,w2)   (continuation TYPES, not tokens — the part
                               that fixes 'San Francisco'-style burstiness)

    trained on the frozen target subset (doc_id % BENCH_MOD = 0), scoring
    every other doc.  OOV regularization: Pcont is add-1 smoothed over
    (total bigram types + trained vocab + 1) so unseen continuations keep
    finite log-prob, and an unseen CONTEXT backs off to Pcont alone
    (lambda = 1).  All model relations (context totals, forward/backward
    continuation type counts) are target-trained and small -> broadcast
    scoring joins; corpus text never shuffles.  Per-term logp is
    floor-quantized to integer 1e-6 units and BIGINT-summed, same
    order-independence discipline as bigram_lm_score."""
    rest = f" WHERE doc_id % {BENCH_MOD} <> 0"
    D = KN_DISCOUNT
    return f"""
WITH tgt_bi AS ({tgt_bi}),
ctx AS (
  SELECT w1, SUM(c2) AS ctx_tot, COUNT(*) AS n1p_fwd FROM tgt_bi GROUP BY w1
),
cont AS (
  SELECT w2, COUNT(*) AS n1p_bwd FROM tgt_bi GROUP BY w2
),
tot AS (
  SELECT (SELECT COUNT(*) FROM tgt_bi) AS n_types,
         (SELECT COUNT(DISTINCT w1) FROM tgt_bi) + 1 AS v
),
scored AS (
  SELECT cb.doc_id,
         LN(
           CASE WHEN COALESCE(x.ctx_tot, 0) > 0 THEN
             (CASE WHEN COALESCE(b.c2, 0) > {D} THEN (b.c2 - {D}) ELSE 0.0e0 END) / x.ctx_tot
             + {D} * x.n1p_fwd / x.ctx_tot
               * ((COALESCE(co.n1p_bwd, 0) + 1.0e0) / (t.n_types + t.v))
           ELSE
             (COALESCE(co.n1p_bwd, 0) + 1.0e0) / (t.n_types + t.v)
           END
         ) AS logp
  FROM ({_bigram_rel(d, table, rest)}) cb
  LEFT JOIN tgt_bi b ON b.w1 = cb.w1 AND b.w2 = cb.w2
  LEFT JOIN ctx x ON x.w1 = cb.w1
  LEFT JOIN cont co ON co.w2 = cb.w2
  CROSS JOIN tot t
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         SUM(CAST(FLOOR(logp * 1e6) AS BIGINT)) AS logp_units
  FROM scored GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_bigrams AS BIGINT) AS n_bigrams,
       CAST(FLOOR(CAST(logp_units AS DOUBLE) / 1e6 / n_bigrams * 1e5) / 1e5 AS DOUBLE) AS avg_logp,
       CAST(FLOOR(EXP(-(CAST(logp_units AS DOUBLE) / 1e6 / n_bigrams)) * 1e5) / 1e5 AS DOUBLE) AS ppl
FROM agg
ORDER BY doc_id
"""


register_sql(
    "kneser_ney_bigram_score",
    _kneser_ney_sql,
    ("documents",),
    heads={"kn_tgt_bi": _kn_tgt_bi_sql},
    doc=f"Interpolated Kneser-Ney bigram LM (D={KN_DISCOUNT}, Chen & "
    f"Goodman 1999) trained on the frozen target subset (doc_id % "
    f"{BENCH_MOD} = 0): absolute discounting + continuation-TYPE backoff, "
    "add-1-regularized Pcont for OOV, unseen contexts back off to Pcont. "
    "Same broadcast-model/quantized-log-sum scale shape as "
    "bigram_lm_score; the discriminating filter when add-smoothing "
    "over-penalizes rare-but-real collocations.",
    tags=("quality", "lm", "text"),
)


# --------------------------------------------------------------------------
# inter-gate agreement: Cohen's kappa between the two quality gates
# --------------------------------------------------------------------------
def _kappa_sql(d: Dialect, table: str) -> str:
    from .textops import _gopher_sql

    g = strip_order_by(_gopher_sql(d, table))
    l = strip_order_by(_logreg_sql(d, table))
    return f"""
WITH g AS ({g}),
l AS ({l}),
conf AS (
  SELECT
    CAST(SUM(CASE WHEN g.gopher_pass AND l.quality_keep THEN 1 ELSE 0 END) AS DECIMAL(38,0)) AS n11,
    CAST(SUM(CASE WHEN g.gopher_pass AND NOT l.quality_keep THEN 1 ELSE 0 END) AS DECIMAL(38,0)) AS n10,
    CAST(SUM(CASE WHEN NOT g.gopher_pass AND l.quality_keep THEN 1 ELSE 0 END) AS DECIMAL(38,0)) AS n01,
    CAST(SUM(CASE WHEN NOT g.gopher_pass AND NOT l.quality_keep THEN 1 ELSE 0 END) AS DECIMAL(38,0)) AS n00,
    CAST(COUNT(*) AS DECIMAL(38,0)) AS n
  FROM g JOIN l ON l.doc_id = g.doc_id
),
r AS (
  SELECT n, n11, n10, n01, n00,
         CAST((n11 + n00) AS DOUBLE) / CAST(n AS DOUBLE) AS po,
         CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS DOUBLE)
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
  FROM conf
)
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(n11 AS BIGINT) AS both_keep,
       CAST(n00 AS BIGINT) AS both_reject,
       CAST(n10 AS BIGINT) AS gopher_only,
       CAST(n01 AS BIGINT) AS logreg_only,
       ROUND(po, 6) AS observed_agreement,
       ROUND(CASE WHEN pe >= 1.0e0 THEN 1.0e0 ELSE (po - pe) / (1.0e0 - pe) END, 6)
         AS cohens_kappa
FROM r
"""


register_sql(
    "quality_gate_agreement_kappa",
    _kappa_sql,
    ("documents",),
    doc="Cohen's kappa between the two quality gates the engine ships — "
    "the published-heuristics gate (gopher_quality_gate) and the "
    "model-based gate (quality_logreg_score): confusion counts, observed "
    "agreement, chance-corrected kappa.  The 'do my filters even agree' "
    "audit run before composing them in curation_pipeline_v2.  Confusion "
    "cells are exact integers (products in DECIMAL(38,0) — BIGINT squares "
    "overflow past ~3e9 docs); constant-rater degenerate case pins kappa "
    "to 1.  One doc_id equi-join of two projections.",
    tags=("quality", "audit", "agg"),
)


# --------------------------------------------------------------------------
# calibration of the model gate against the heuristic gate
# --------------------------------------------------------------------------
def _calibration_sql(d: Dialect, table: str) -> str:
    from .textops import _gopher_sql

    g = strip_order_by(_gopher_sql(d, table))
    l = strip_order_by(_logreg_sql(d, table))
    return f"""
WITH g AS ({g}),
l AS ({l}),
joined AS (
  SELECT l.quality_prob, g.gopher_pass,
         CAST(LEAST(CAST(FLOOR(l.quality_prob * 10) AS INT), 9) AS INT) AS bin
  FROM l JOIN g ON g.doc_id = l.doc_id
)
SELECT bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(CAST(ROUND(quality_prob * 1000000) AS BIGINT)) AS DOUBLE)
             / (1000000.0 * COUNT(*)), 6) AS mean_predicted,
       ROUND(CAST(SUM(CASE WHEN gopher_pass THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS observed_pass_rate
FROM joined GROUP BY bin ORDER BY bin
"""


register_sql(
    "quality_score_calibration",
    _calibration_sql,
    ("documents",),
    doc="Reliability table for the model-based quality gate: logreg "
    "probability binned into deciles, mean predicted probability (exact "
    "1e-6-unit integer sums) vs the observed pass rate of the independent "
    "heuristic gate per bin — the calibration curve behind "
    "quality_gate_agreement_kappa's single number.  A well-calibrated "
    "score rises monotonically with the observed rate; one doc_id "
    "equi-join of two projections, <=10-row output.",
    tags=("quality", "audit", "calibration"),
)
