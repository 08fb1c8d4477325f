"""Hypothesis property tests for the round-8 algebraic reductions —
pure-Python checks of the identities the SQL templates rely on (the same
discipline as test_property_round7c.py: no Spark in the loop, so hundreds
of examples run in milliseconds)."""

from __future__ import annotations

from collections import defaultdict

from hypothesis import given, settings
from hypothesis import strategies as st

from sales_telegram_bot_data_pipeline_spark.operators.round8 import (
    EWMA_DEPTH,
    JL_DIM,
    JL_K,
    _jl_sign,
)

# --------------------------------------------------------------------------
# EWMA: geometric-sum normalizer identity + convergence to the classic form
# --------------------------------------------------------------------------
@given(st.integers(min_value=0, max_value=EWMA_DEPTH))
def test_ewma_normalizer_closed_form(m):
    """sum_{d=0..m} 2^(D-d) == 2^(D+1) - 2^(D-m) — the identity the SQL
    denominator uses instead of summing weights per row."""
    D = EWMA_DEPTH
    assert sum(1 << (D - d) for d in range(m + 1)) == (1 << (D + 1)) - (1 << (D - m))


@given(
    st.lists(st.integers(min_value=0, max_value=10**9), min_size=EWMA_DEPTH + 5,
             max_size=EWMA_DEPTH + 40)
)
@settings(max_examples=50)
def test_ewma_truncated_matches_recursive_within_tail(xs):
    """For weeks with full history, the depth-D truncated renormalized EWMA
    equals the classic recursion s_t = (x_t + s_{t-1}) / 2 within the
    2^-D truncated tail mass (relative to the series max)."""
    D = EWMA_DEPTH
    s = xs[0]
    rec = [s]
    for x in xs[1:]:
        s = (x + s) / 2
        rec.append(s)
    for t in range(D, len(xs)):
        num = sum(xs[t - d] * (1 << (D - d)) for d in range(D + 1))
        den = (1 << (D + 1)) - 1
        trunc = num / den
        tol = (max(xs) + 1) * 2.0 ** (-(D - 2))
        assert abs(trunc - rec[t]) <= tol


# --------------------------------------------------------------------------
# runs test: flip-count identity + symmetry + moment formulas
# --------------------------------------------------------------------------
@given(st.lists(st.booleans(), min_size=2, max_size=200))
def test_runs_flip_identity_and_symmetry(signs):
    runs_by_grouping = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
    # independent derivation: count maximal constant blocks
    blocks = 1
    for a, b in zip(signs, signs[1:]):
        blocks += a != b
    assert runs_by_grouping == blocks
    flipped = [not s for s in signs]
    assert blocks == 1 + sum(1 for a, b in zip(flipped, flipped[1:]) if a != b)
    assert 1 <= blocks <= len(signs)


@given(st.integers(min_value=1, max_value=500), st.integers(min_value=1, max_value=500))
def test_runs_moments_are_finite_and_positive(n1, n0):
    """The Wald–Wolfowitz mean/variance expressions the SQL inlines are
    well-defined for every two-class composition with n >= 2."""
    n = n1 + n0
    mu = 2 * n1 * n0 / n + 1
    var = (2 * n1 * n0) * (2 * n1 * n0 - n) / (n * n * (n - 1)) if n > 1 else 0.0
    assert 1 <= mu <= n + 1
    # variance can only hit <= 0 when one class is empty (not generable
    # here) or n1 = n0 = 1 exactly (2*1*1 - 2 = 0)
    if (n1, n0) != (1, 1):
        assert var > 0
    lo_runs, hi_runs = 1, 2 * min(n1, n0) + (1 if n1 != n0 else 0)
    assert lo_runs <= mu <= hi_runs + 1


# --------------------------------------------------------------------------
# JL: exactness of the integer projection + unbiasedness over the sign family
# --------------------------------------------------------------------------
@given(
    st.lists(st.integers(min_value=-10**6, max_value=10**6), min_size=JL_DIM,
             max_size=JL_DIM),
    st.lists(st.integers(min_value=-10**6, max_value=10**6), min_size=JL_DIM,
             max_size=JL_DIM),
)
@settings(max_examples=50)
def test_jl_projection_distance_decomposition(qa, qb):
    """||S(a-b)||^2 computed from per-vector projections equals the direct
    projection of the difference (linearity — the property that lets the
    SQL project per VECTOR and subtract per PAIR), and the sign matrix
    keeps everything integer."""
    S = [[_jl_sign(j, i) for i in range(JL_DIM)] for j in range(JL_K)]
    pa = [sum(s * x for s, x in zip(row, qa)) for row in S]
    pb = [sum(s * x for s, x in zip(row, qb)) for row in S]
    diff = [x - y for x, y in zip(qa, qb)]
    pd = [sum(s * x for s, x in zip(row, diff)) for row in S]
    assert all(isinstance(v, int) for v in pa + pb + pd)
    assert sum((x - y) ** 2 for x, y in zip(pa, pb)) == sum(v * v for v in pd)


def test_jl_expected_ratio_is_one_over_full_sign_family():
    """E[(s·x)^2] = ||x||^2 when s ranges uniformly over ALL ±1 vectors —
    the unbiasedness that makes proj/k the right estimator (enumerated
    exactly over a small dimension, no sampling)."""
    import itertools

    dim = 8
    x = [3, -1, 4, 1, -5, 9, 2, -6]
    total = 0
    count = 0
    for signs in itertools.product((1, -1), repeat=dim):
        p = sum(s * v for s, v in zip(signs, x))
        total += p * p
        count += 1
    assert total / count == sum(v * v for v in x)


# --------------------------------------------------------------------------
# covisitation: support bounds and lift/jaccard identities
# --------------------------------------------------------------------------
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=30),
                  st.sampled_from(["a", "b", "c", "d", "e"])),
        min_size=1, max_size=300,
    )
)
@settings(max_examples=50)
def test_covisitation_bounds(pairs):
    by_user = defaultdict(set)
    for u, t in pairs:
        by_user[u].add(t)
    n_t = defaultdict(int)
    for items in by_user.values():
        for t in items:
            n_t[t] += 1
    n_ab = defaultdict(int)
    for items in by_user.values():
        s = sorted(items)
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                n_ab[(s[i], s[j])] += 1
    n_users = len(by_user)
    for (a, b), nab in n_ab.items():
        assert 1 <= nab <= min(n_t[a], n_t[b])
        jac = nab / (n_t[a] + n_t[b] - nab)
        assert 0 < jac <= 1
        lift = nab * n_users / (n_t[a] * n_t[b])
        # lift is maximal when both margins equal the intersection
        assert lift <= n_users / max(n_t[a], n_t[b]) + 1e-12


# --------------------------------------------------------------------------
# key gaps: histogram reconstruction + conservation
# --------------------------------------------------------------------------
@given(st.sets(st.integers(min_value=0, max_value=2000), min_size=2, max_size=400))
@settings(max_examples=100)
def test_key_gap_conservation(keys):
    ks = sorted(keys)
    hist = defaultdict(int)
    for a, b in zip(ks, ks[1:]):
        if b - a > 1:
            hist[b - a - 1] += 1
    missing_from_hist = sum(g * n for g, n in hist.items())
    assert missing_from_hist == (ks[-1] - ks[0] + 1) - len(ks)
    assert all(g >= 1 and n >= 1 for g, n in hist.items())


# --------------------------------------------------------------------------
# seasonal decomposition: ANOVA identity SS_tot = SS_between + SS_within
# --------------------------------------------------------------------------
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=6),
                  st.integers(min_value=0, max_value=10**6)),
        min_size=2, max_size=300,
    )
)
@settings(max_examples=50)
def test_seasonal_strength_is_between_share(rows):
    groups = defaultdict(list)
    for g, v in rows:
        groups[g].append(v)
    vals = [v for vs in groups.values() for v in vs]
    n, s = len(vals), sum(vals)
    ss_tot = sum(v * v for v in vals) - s * s / n
    ss_res = sum(
        sum(v * v for v in vs) - sum(vs) ** 2 / len(vs) for vs in groups.values()
    )
    gm = s / n
    ss_between = sum(len(vs) * (sum(vs) / len(vs) - gm) ** 2 for vs in groups.values())
    scale = max(ss_tot, 1.0)
    assert abs(ss_tot - (ss_between + ss_res)) <= 1e-7 * scale
    if ss_tot > 1e-9 * max(abs(v) for v in vals + [1]) :
        strength = 1 - ss_res / ss_tot
        assert -1e-9 <= strength <= 1 + 1e-9
