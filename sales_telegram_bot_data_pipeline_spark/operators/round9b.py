"""Round-9 continuation — five operators in families the 311-query
registry still lacked, each a standard warehouse / ML-platform primitive:

- ``bh_fdr_source_audit`` — Benjamini-Hochberg step-up multiple-testing
  control across per-source mean-length tests.  The p-values are
  CHEBYSHEV-conservative (p = min(1, 1/z^2), valid for any distribution
  by Chebyshev's inequality), so the whole procedure is exact rational
  arithmetic on integer moments — no erf/exp enters the cross-engine
  comparison, yet the BH step-up logic (rank, critical line, step-up
  rejection frontier) is the real thing.
- ``mcnemar_gate_disagreement`` — McNemar's paired test for two document
  quality gates evaluated on the SAME corpus: the 2x2 discordance table
  and the (b-c)^2/(b+c) statistic, plus the continuity-corrected
  variant.  Complements quality_gate_agreement_kappa (agreement level)
  with the direction-of-disagreement test.
- ``feature_hashing_collision_audit`` — the hashing-trick dimension
  audit: hash the corpus vocabulary into d buckets for d in
  {256, 1024, 4096} and report, per dimension, bucket occupancy, the
  share of vocabulary types that collide, and the corpus-frequency mass
  sitting in collided buckets — the pre-flight knob check before fixing
  a feature-hash width at 100 TB.
- ``target_encoding_smoothed`` — smoothed (m-estimate / Bayesian) target
  encoding of the (mktsegment x orderpriority) categorical grid against
  order value: enc = (n*cat_mean + m*global_mean) / (n+m), the classic
  leakage-resistant categorical encoder; shrinkage reported per cell.
- ``good_turing_smoothing_audit`` — Good-Turing frequency-of-frequencies
  over the corpus vocabulary: N_r for r = 1..10, the Turing-discounted
  adjusted count r* = (r+1) N_{r+1} / N_r, its implied probability, and
  the unseen-mass estimate P0 = N_1 / N — pure integer ratios, the
  smoothing-health audit next to the Kneser-Ney scorer.

All dual-dialect per repo conventions: exact integer/DECIMAL aggregates
before any cross-partition sum, DOUBLE casts only at the final
expressions, ROUND(...,6) on fractional outputs, NULLIF guards on every
data-dependent divisor.  No libm (LN/EXP/POW) anywhere in this module.
"""

from __future__ import annotations

from ..functions.dialect import Dialect
from ..registry import register_sql
from .lm_quality import _bigram_rel

# --------------------------------------------------------------------------
# Benjamini-Hochberg FDR across per-source tests (Chebyshev p-values)
# --------------------------------------------------------------------------
_BH_ALPHA = "0.10e0"  # FDR level; a literal so both engines see one constant


def _bh_fdr_sql(d: Dialect, table: str) -> str:
    """BH step-up over per-source 'is this source's mean doc length
    different from the rest of the corpus?' tests.

    The test statistic is the two-sample z^2 with Welch-style variance
    (s1^2/n1 + s2^2/n2), every moment an exact BIGINT/DECIMAL sum; the
    p-value is the CHEBYSHEV bound p = min(1, 1/z^2) — distribution-free
    and conservative (P(|Z| >= k) <= 1/k^2), so the arithmetic is pure
    IEEE-double ratios of exact integers: bit-identical across engines,
    no erf.  BH step-up: order p ascending, find the LARGEST rank k with
    p_(k) <= alpha*k/m, reject ranks 1..k (a window MAX over the
    satisfied ranks implements the step-up exactly).

    Scale shape: the corpus collapses to per-source exact moments in ONE
    map-side-combinable groupBy; everything after is O(|sources|) (~10
    rows) — window functions run on the aggregated relation only."""
    return f"""
WITH per_doc AS (
  SELECT source, CAST(length(text) AS BIGINT) AS len FROM {table}
),
src AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(len) AS DECIMAL(38,0)) AS s1,
         CAST(SUM(CAST(len AS DECIMAL(38,0)) * len) AS DECIMAL(38,0)) AS s2
  FROM per_doc GROUP BY source
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_all,
         CAST(SUM(s1) AS DECIMAL(38,0)) AS s1_all,
         CAST(SUM(s2) AS DECIMAL(38,0)) AS s2_all
  FROM src
),
means AS (
  -- group vs rest-of-corpus means; DOUBLE only from here on, every
  -- operand an exact integer cast once (IEEE division of exact ints is
  -- bit-identical across engines)
  SELECT s.source, s.n, (t.n_all - s.n) AS n_r,
         CAST(s.s1 AS DOUBLE) / NULLIF(CAST(s.n AS DOUBLE), 0) AS m_g,
         CAST(s.s2 AS DOUBLE) / NULLIF(CAST(s.n AS DOUBLE), 0) AS q_g,
         CAST(t.s1_all - s.s1 AS DOUBLE)
           / NULLIF(CAST(t.n_all - s.n AS DOUBLE), 0) AS m_r,
         CAST(t.s2_all - s.s2 AS DOUBLE)
           / NULLIF(CAST(t.n_all - s.n AS DOUBLE), 0) AS q_r
  FROM src s CROSS JOIN tot t
),
stat AS (
  -- z^2 = (m_g - m_r)^2 / (v_g/n_g + v_r/n_r); with v the SAMPLE
  -- variance, v/n = (E[x^2] - mean^2) / (n - 1)
  SELECT source, n,
         (m_g - m_r) * (m_g - m_r)
         / NULLIF((q_g - m_g * m_g) / NULLIF(CAST(n AS DOUBLE) - 1, 0)
                  + (q_r - m_r * m_r) / NULLIF(CAST(n_r AS DOUBLE) - 1, 0), 0)
           AS z2_raw
  FROM means
),
pvals AS (
  SELECT source, n,
         CASE WHEN z2_raw IS NULL OR z2_raw <= 1.0e0 THEN 1.0e0
              ELSE 1.0e0 / z2_raw END AS p_cheb,
         z2_raw
  FROM stat
),
ranked AS (
  SELECT source, n, z2_raw, p_cheb,
         ROW_NUMBER() OVER (ORDER BY p_cheb, source) AS rk,
         COUNT(*) OVER () AS m
  FROM pvals
),
frontier AS (
  SELECT source, n, z2_raw, p_cheb, rk, m,
         {_BH_ALPHA} * rk / m AS bh_critical,
         -- step-up: reject everything at or below the LARGEST satisfied rank
         MAX(CASE WHEN p_cheb <= {_BH_ALPHA} * rk / m THEN rk ELSE 0 END)
           OVER () AS k_star
  FROM ranked
)
SELECT source,
       CAST(n AS BIGINT) AS n_docs,
       CAST(ROUND(z2_raw, 6) AS DOUBLE) AS z_squared,
       CAST(ROUND(p_cheb, 6) AS DOUBLE) AS p_chebyshev,
       CAST(rk AS BIGINT) AS bh_rank,
       CAST(ROUND(bh_critical, 6) AS DOUBLE) AS bh_critical,
       CAST(CASE WHEN rk <= k_star THEN 1 ELSE 0 END AS INT) AS rejected
FROM frontier
ORDER BY bh_rank
"""


register_sql(
    "bh_fdr_source_audit",
    _bh_fdr_sql,
    ("documents",),
    doc="Benjamini-Hochberg FDR step-up across per-source mean-doc-length "
    "tests: Welch-style z^2 from exact integer moments, CHEBYSHEV "
    "p-values (min(1, 1/z^2) — distribution-free, conservative, zero "
    "libm), then the real BH machinery (ascending p rank, alpha*k/m "
    "critical line, step-up rejection at the largest satisfied rank via "
    "a window MAX). One map-side-combinable groupBy collapses the corpus "
    "to |sources| rows; all windows run on the aggregated relation.",
    tags=("evaluation", "stats", "audit"),
)


# --------------------------------------------------------------------------
# McNemar paired-gate disagreement test
# --------------------------------------------------------------------------
_GATE_LEN = 600  # chars — gate A: "long enough" length rule
_GATE_TOK = 90  # whitespace tokens — gate B: "wordy enough" token rule


def _mcnemar_sql(d: Dialect, table: str) -> str:
    """McNemar's test on two quality gates scored over the SAME documents
    (paired design): gate A = char-length >= {_GATE_LEN}, gate B =
    token-count >= {_GATE_TOK}.  Only the discordant cells b (A-pass,
    B-fail) and c (A-fail, B-pass) carry information; the statistic
    (b-c)^2/(b+c) is chi-squared(1) under H0 'both gates pass the same
    rate'.  Exact integer cell counts, one corpus scan, one aggregate
    row; the continuity-corrected variant (|b-c|-1)^2/(b+c) reported
    alongside, clamped at 0 when |b-c| <= 1."""
    toks = d.alen(d.filter(d.splitws("lower(text)"), "w -> length(w) > 0"))
    return f"""
WITH gated AS (
  SELECT CASE WHEN length(text) >= {_GATE_LEN} THEN 1 ELSE 0 END AS ga,
         CASE WHEN {toks} >= {_GATE_TOK} THEN 1 ELSE 0 END AS gb
  FROM {table}
),
cells AS (
  SELECT CAST(SUM(ga * gb) AS BIGINT) AS both_pass,
         CAST(SUM(ga * (1 - gb)) AS BIGINT) AS b_disc,
         CAST(SUM((1 - ga) * gb) AS BIGINT) AS c_disc,
         CAST(SUM((1 - ga) * (1 - gb)) AS BIGINT) AS both_fail,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM gated
)
SELECT both_pass, b_disc, c_disc, both_fail, n,
       CAST(ROUND(CAST(both_pass + both_fail AS DOUBLE) / NULLIF(n, 0), 6)
            AS DOUBLE) AS agreement,
       CAST(ROUND(CAST((b_disc - c_disc) * (b_disc - c_disc) AS DOUBLE)
                  / NULLIF(CAST(b_disc + c_disc AS DOUBLE), 0), 6)
            AS DOUBLE) AS mcnemar_chi2,
       CAST(ROUND(GREATEST(ABS(CAST(b_disc - c_disc AS DOUBLE)) - 1, 0)
                  * GREATEST(ABS(CAST(b_disc - c_disc AS DOUBLE)) - 1, 0)
                  / NULLIF(CAST(b_disc + c_disc AS DOUBLE), 0), 6)
            AS DOUBLE) AS mcnemar_chi2_cc
FROM cells
"""


register_sql(
    "mcnemar_gate_disagreement",
    _mcnemar_sql,
    ("documents",),
    doc="McNemar's paired test for two document quality gates on the same "
    "corpus (length rule vs token rule): exact integer 2x2 discordance "
    "cells in one scan, (b-c)^2/(b+c) and the continuity-corrected "
    "variant, plus raw agreement — the direction-of-disagreement test "
    "complementing quality_gate_agreement_kappa.",
    tags=("evaluation", "stats", "text"),
)


# --------------------------------------------------------------------------
# feature-hashing collision audit
# --------------------------------------------------------------------------
_HASH_DIMS = (256, 1024, 4096)


def _bigram_wc_sql(d: Dialect, table: str) -> str:
    """(word, cnt) over BIGRAM features (w1 || ' ' || w2).  The hashing
    trick is used on n-gram features in practice, and the synthetic
    corpus's unigram vocabulary is a degenerate ~31 types — the bigram
    cross gives a realistically sized feature space."""
    return (
        f"SELECT word, COUNT(*) AS cnt FROM ("
        f"SELECT CONCAT(w1, ' ', w2) AS word FROM ({_bigram_rel(d, table)}) bg"
        f") b GROUP BY word"
    )


def _feat_hash_sql(d: Dialect, table: str) -> str:
    """Hashing-trick width audit: bucket the corpus FEATURE VOCABULARY
    (bigram features — the realistic hashing-trick input) into d buckets
    for each candidate width, then report per width the occupancy, the
    share of types that collide, and the share of corpus FREQUENCY mass
    in collided buckets (a collision between two hapaxes is harmless;
    one involving a top-100 feature is not).

    Scale shape: the corpus collapses to feature counts ONCE (map-side
    combinable); the width axis rides a small VALUES cross join against
    the AGGREGATED vocab — O(|vocab| x |widths|) rows, never a second
    corpus scan; the bucket hash is the portable 60-bit md5 prefix, so
    both engines route identically.  The feature counts stay inline: in
    10 interleaved pairs that beat a per-call checkpoint of them at both
    sf0.01 and sf0.1."""
    wc = _bigram_wc_sql(d, table)
    h = d.md5_prefix_int("word")
    dims = ", ".join(f"({x})" for x in _HASH_DIMS)
    return f"""
WITH wc AS ({wc}),
dims AS (SELECT * FROM (VALUES {dims}) AS d(dim)),
bucketed AS (
  SELECT dims.dim, CAST({h} % dims.dim AS BIGINT) AS bucket,
         wc.word, wc.cnt
  FROM wc CROSS JOIN dims
),
per_bucket AS (
  SELECT dim, bucket,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(cnt) AS BIGINT) AS freq
  FROM bucketed GROUP BY dim, bucket
)
SELECT CAST(dim AS INT) AS dim,
       CAST(SUM(n_types) AS BIGINT) AS n_types,
       CAST(COUNT(*) AS BIGINT) AS buckets_used,
       CAST(ROUND(CAST(SUM(n_types) AS DOUBLE) / dim, 6) AS DOUBLE)
         AS load_factor,
       CAST(SUM(CASE WHEN n_types >= 2 THEN n_types ELSE 0 END) AS BIGINT)
         AS types_collided,
       CAST(ROUND(CAST(SUM(CASE WHEN n_types >= 2 THEN n_types ELSE 0 END)
                       AS DOUBLE)
                  / NULLIF(CAST(SUM(n_types) AS DOUBLE), 0), 6) AS DOUBLE)
         AS frac_types_collided,
       CAST(ROUND(CAST(SUM(CASE WHEN n_types >= 2 THEN freq ELSE 0 END)
                       AS DOUBLE)
                  / NULLIF(CAST(SUM(freq) AS DOUBLE), 0), 6) AS DOUBLE)
         AS freq_mass_collided,
       CAST(MAX(n_types) AS BIGINT) AS max_bucket_types
FROM per_bucket
GROUP BY dim
ORDER BY dim
"""


register_sql(
    "feature_hashing_collision_audit",
    _feat_hash_sql,
    ("documents",),
    doc="Feature-hashing (hashing-trick) width audit: bigram feature "
    "vocabulary bucketed by the portable 60-bit md5 prefix into d in "
    "{256, 1024, 4096}; per width, bucket occupancy, colliding-type "
    "share, and the corpus-frequency mass in collided buckets. One "
    "corpus scan to the aggregated feature vocab, width axis as a "
    "VALUES cross join on the vocab only — the pre-flight knob check "
    "before fixing a hash width.",
    tags=("curation", "audit", "text"),
)


# --------------------------------------------------------------------------
# smoothed target encoding
# --------------------------------------------------------------------------
_TE_SMOOTH = 200  # m-estimate pseudo-count


def _target_encoding_sql(d: Dialect, orders: str, customer: str) -> str:
    """m-estimate (smoothed mean) target encoding of the
    (c_mktsegment x o_orderpriority) grid against order value:
    enc = (n * cat_mean + m * global_mean) / (n + m) — algebraically
    (cat_cents + m * global_mean_cents) / (n + m) on exact integer cent
    sums, so the only doubles are the final two divisions.  Shrinkage
    m/(n+m) reported per cell: rare cells pull hard toward the prior,
    exactly the leakage-resistance argument for the encoder.

    Scale shape: fact-to-dim broadcast join (customer is the small
    side), ONE groupBy(cell) shuffle with map-side combine, 25-row grid
    out; the global-mean scalar is a one-row cross join."""
    return f"""
WITH joined AS (
  SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
         CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
),
cell AS (
  SELECT segment, priority,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS DECIMAL(38,0)) AS cents
  FROM joined GROUP BY segment, priority
),
gm AS (
  -- "glob" is reserved in DuckDB; gm = global moments
  SELECT CAST(SUM(n) AS BIGINT) AS n_all,
         CAST(SUM(cents) AS DECIMAL(38,0)) AS cents_all
  FROM cell
)
SELECT c.segment, c.priority,
       CAST(c.n AS BIGINT) AS n_orders,
       CAST(ROUND(CAST(c.cents AS DOUBLE) / NULLIF(CAST(c.n AS DOUBLE), 0)
                  / 100, 6) AS DOUBLE) AS raw_mean_dollars,
       CAST(ROUND((CAST(c.cents AS DOUBLE)
                   + {_TE_SMOOTH}.0e0 * CAST(g.cents_all AS DOUBLE)
                     / NULLIF(CAST(g.n_all AS DOUBLE), 0))
                  / (CAST(c.n AS DOUBLE) + {_TE_SMOOTH}) / 100, 6)
            AS DOUBLE) AS encoded_dollars,
       CAST(ROUND({_TE_SMOOTH}.0e0 / (CAST(c.n AS DOUBLE) + {_TE_SMOOTH}), 6)
            AS DOUBLE) AS shrinkage
FROM cell c CROSS JOIN gm g
ORDER BY c.segment, c.priority
"""


register_sql(
    "target_encoding_smoothed",
    _target_encoding_sql,
    ("orders", "customer"),
    doc="Smoothed (m-estimate) target encoding of the mktsegment x "
    "orderpriority grid against order value: "
    "(cat_cents + m*global_mean) / (n + m) on exact integer cent sums, "
    "shrinkage per cell — broadcast fact-to-dim join, one "
    "map-side-combinable groupBy, 25-row output.",
    tags=("curation", "relational", "agg"),
)


# --------------------------------------------------------------------------
# Good-Turing smoothing audit
# --------------------------------------------------------------------------
_GT_MAX_R = 10


def _good_turing_sql(d: Dialect, table: str, wc: str) -> str:
    """Good-Turing frequency-of-frequencies over BIGRAM counts (the KN
    scorer's event space; the synthetic unigram vocab is a degenerate
    ~31 types whose minimum count is ~30): N_r = |{{g : count(g) = r}}|
    for the {_GT_MAX_R} SMALLEST frequency classes present (rank on the
    aggregated class axis — a fixed r cutoff can be empty on a corpus
    whose lowest class sits higher); the Turing adjusted count
    r* = (r+1) N_(r+1) / N_r, its implied per-event probability
    r*/N_tokens, and the unseen-mass estimate P0 = N_1 / N_tokens on
    every row (a scalar, repeated for a rectangular schema).  The
    adjacency N_(r+1) comes from a LEFT self-join on r+1 (not LEAD —
    a missing r+1 class must yield NULL/0, not the next present class).

    Pure integer ratios end-to-end — Good-Turing is the rare smoother
    whose estimator needs NO transcendental function.  Scale shape: the
    corpus collapses to bigram counts once (map-side combinable), then
    to the counts-of-counts relation (<= max count rows); the rank
    window runs on that aggregated axis only."""
    return f"""
WITH wc AS ({wc}),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens FROM wc),
foff AS (
  SELECT cnt AS r, CAST(COUNT(*) AS BIGINT) AS n_r
  FROM wc GROUP BY cnt
),
low AS (
  SELECT r, n_r, ROW_NUMBER() OVER (ORDER BY r) AS class_rank FROM foff
)
SELECT CAST(a.r AS BIGINT) AS r,
       a.n_r,
       CAST(ROUND((a.r + 1) * CAST(COALESCE(b.n_r, 0) AS DOUBLE)
                  / NULLIF(CAST(a.n_r AS DOUBLE), 0), 6) AS DOUBLE)
         AS r_star,
       CAST(ROUND((a.r + 1) * CAST(COALESCE(b.n_r, 0) AS DOUBLE)
                  / NULLIF(CAST(a.n_r AS DOUBLE), 0)
                  / NULLIF(CAST(t.n_tokens AS DOUBLE), 0), 6) AS DOUBLE)
         AS gt_prob,
       CAST(ROUND(CAST(s.n1 AS DOUBLE) / NULLIF(CAST(t.n_tokens AS DOUBLE), 0), 6)
            AS DOUBLE) AS p_unseen
FROM low a
LEFT JOIN foff b ON b.r = a.r + 1
CROSS JOIN tot t
CROSS JOIN (SELECT CAST(COALESCE(SUM(CASE WHEN r = 1 THEN n_r END), 0)
                        AS BIGINT) AS n1 FROM foff) s
WHERE a.class_rank <= {_GT_MAX_R}
ORDER BY a.r
"""


register_sql(
    "good_turing_smoothing_audit",
    _good_turing_sql,
    ("documents",),
    heads={"gt_wc": _bigram_wc_sql},
    doc="Good-Turing frequency-of-frequencies audit over bigram counts: "
    "N_r for the 10 smallest frequency classes present, Turing adjusted "
    "count r* = (r+1)N_(r+1)/N_r via a LEFT self-join on r+1 (missing "
    "classes yield 0, not the next class), implied probability, and the "
    "unseen-mass estimate N_1/N — pure integer ratios, zero libm; the "
    "smoothing-health audit beside the Kneser-Ney scorer.",
    tags=("curation", "text", "agg"),
)
