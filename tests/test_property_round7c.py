"""Hypothesis property tests for the ALGEBRAIC reductions the round-7
continuation operators rely on — pure-Python mirrors of the documented
identities, fuzzed over adversarial inputs the parquet corpus can't
produce.  Each mirrors the exact arithmetic the SQL implements, so a
counterexample here means the operator's algebra (not its plumbing) is
wrong."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st


# --------------------------------------------------------------------------
# CUSUM closed form == textbook recursion (operators/analytics.py)
# --------------------------------------------------------------------------
@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(-10**9, 10**9), min_size=1, max_size=60))
def test_cusum_prefix_min_equals_recursion(devs):
    # recursion: S_t = max(0, S_{t-1} + d_t)
    s, rec = 0, []
    for d in devs:
        s = max(0, s + d)
        rec.append(s)
    # closed form: S_t = P_t - min(0, P_1..P_t)
    p, minp, closed = 0, 0, []
    for d in devs:
        p += d
        closed.append(max(p - min(minp, 0), 0))
        minp = min(minp, p)
    assert closed == rec


# --------------------------------------------------------------------------
# skyline suffix-max reduction == naive dominance (operators/evaluation.py)
# --------------------------------------------------------------------------
@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)), min_size=1, max_size=40
    )
)
def test_skyline_suffix_max_rule_equals_naive(pts):
    naive = {
        i
        for i, (x, y) in enumerate(pts)
        if not any(
            (qx > x and qy >= y) or (qx >= x and qy > y) for qx, qy in pts
        )
    }
    # the operator's rule: dominated iff ms(x) >= y OR my_own(x) > y, with
    # my_own = max y at the same x, ms = max y over strictly greater x
    by_x: dict = {}
    for x, y in pts:
        by_x[x] = max(by_x.get(x, -1), y)
    reduced = set()
    for i, (x, y) in enumerate(pts):
        ms = max((my for qx, my in by_x.items() if qx > x), default=None)
        dominated = (ms is not None and ms >= y) or (by_x[x] > y)
        if not dominated:
            reduced.add(i)
    assert reduced == naive


# --------------------------------------------------------------------------
# AUC midrank identity == pairwise definition (operators/evaluation.py)
# --------------------------------------------------------------------------
@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 8), st.booleans()), min_size=2, max_size=60
    ).filter(lambda xs: any(p for _, p in xs) and any(not p for _, p in xs))
)
def test_auc_midrank_identity_equals_pairwise(rows):
    pos = [v for v, p in rows if p]
    neg = [v for v, p in rows if not p]
    pairwise = (
        sum(1 for a in pos for b in neg if a > b)
        + 0.5 * sum(1 for a in pos for b in neg if a == b)
    ) / (len(pos) * len(neg))
    # grouped midrank form: 2*R1 = sum over score groups of c_pos*(2p+c+1)
    from collections import Counter

    c_all = Counter(v for v, _ in rows)
    c_pos = Counter(v for v, p in rows if p)
    num2, before = 0, 0
    for v in sorted(c_all):
        num2 += c_pos.get(v, 0) * (2 * before + c_all[v] + 1)
        before += c_all[v]
    n1, n0 = len(pos), len(neg)
    midrank = (num2 - n1 * (n1 + 1)) / (2 * n1 * n0)
    assert abs(midrank - pairwise) < 1e-12


# --------------------------------------------------------------------------
# Misra-Gries update rule superset guarantee (streaming/stateful.py)
# --------------------------------------------------------------------------
@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.integers(0, 11), min_size=1, max_size=300),
    st.integers(2, 6),
)
def test_mg_update_rule_superset_guarantee(stream, capacity):
    d: dict = {}
    for w in stream:
        if w in d:
            d[w] += 1
        elif len(d) < capacity:
            d[w] = 1
        else:
            for k in list(d):
                d[k] -= 1
                if d[k] == 0:
                    del d[k]
    from collections import Counter

    exact = Counter(stream)
    n = len(stream)
    # any item with frequency > N/(capacity+1) MUST survive, for ANY order
    for w, c in exact.items():
        if c * (capacity + 1) > n:
            assert w in d
    # and every estimate undercounts by at most N/(capacity+1)
    for w, est in d.items():
        assert 0 < est <= exact[w]
        assert exact[w] - est <= n // (capacity + 1)


# --------------------------------------------------------------------------
# weighted-quantile selection rule (operators/scalars_extra.py)
# --------------------------------------------------------------------------
@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.integers(1, 9)), min_size=1, max_size=40
    )
)
def test_weighted_median_rule_is_lower_weighted_median(pairs):
    pairs.sort()
    tw = sum(w for _, w in pairs)
    # the operator's rule: smallest v with 2 * inclusive-cum-weight >= tw
    cum, got = 0, None
    for v, w in pairs:
        cum += w
        if 2 * cum >= tw and got is None:
            got = v
    # definition of the lower weighted median: smallest v such that the
    # total weight of values <= v reaches half the total
    from collections import defaultdict

    acc = defaultdict(int)
    for v, w in pairs:
        acc[v] += w
    run = 0
    want = None
    for v in sorted(acc):
        run += acc[v]
        if 2 * run >= tw:
            want = v
            break
    assert got == want
