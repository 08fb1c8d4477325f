"""Hypothesis property tests for the round-10 SQL templates: each runs
the DUCKDB-dialect template (shared with Spark modulo dialect helpers)
on a random micro-corpus and checks it against a brute-force Python
reimplementation — no Spark in the loop, so dozens of examples run in
seconds.  Pure-identity properties (Hilbert, Chapman) run without any
engine."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import duckdb
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from sales_telegram_bot_data_pipeline_spark.functions.dialect import DUCKDB
from sales_telegram_bot_data_pipeline_spark.queries import REGISTRY


def _con_with(name: str, df: pd.DataFrame) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.register("_src", df)
    con.execute(f"CREATE TABLE {name} AS SELECT * FROM _src")
    return con


# --------------------------------------------------------------------------
# Theil decomposition identity on random (segment, cents) data
# --------------------------------------------------------------------------
@given(
    st.lists(
        st.tuples(st.sampled_from(["A", "B", "C"]),
                  st.integers(min_value=1, max_value=10**6)),
        min_size=6, max_size=60,
    ).filter(lambda xs: len({s for s, _ in xs}) >= 2
             and all(sum(1 for s2, _ in xs if s2 == s) >= 2
                     for s in {s for s, _ in xs}))
)
@settings(max_examples=20, deadline=None)
def test_theil_decomposition_identity(rows):
    from sales_telegram_bot_data_pipeline_spark.operators.round10 import _theil_sql

    orders = pd.DataFrame(
        {
            "o_custkey": range(len(rows)),
            "o_totalprice": [c / 100 for _, c in rows],
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": range(len(rows)),
            "c_mktsegment": [s for s, _ in rows],
        }
    )
    con = duckdb.connect()
    con.register("_o", orders)
    con.register("_c", customer)
    con.execute("CREATE TABLE orders AS SELECT * FROM _o")
    con.execute("CREATE TABLE customer AS SELECT * FROM _c")
    out = con.sql(_theil_sql(DUCKDB, "orders", "customer")).df()
    t_total = out.theil_total.iloc[0]
    t_between = out.theil_between.iloc[0]
    within_mix = float((out.revenue_share * out.theil_within_group).sum())
    # decomposition identity within quantization noise
    assert abs(t_total - (within_mix + t_between)) < 1e-3 + 1e-6 * len(rows)
    assert t_total >= -1e-6  # Theil T is non-negative


# --------------------------------------------------------------------------
# Kruskal-Wallis vs brute-force tie-averaged ranks
# --------------------------------------------------------------------------
@given(
    st.lists(
        st.tuples(st.sampled_from(["x", "y", "z"]),
                  st.integers(min_value=1, max_value=12)),
        min_size=8, max_size=80,
    ).filter(lambda xs: len({s for s, _ in xs}) >= 2)
)
@settings(max_examples=20, deadline=None)
def test_kruskal_wallis_matches_bruteforce(rows):

    docs = pd.DataFrame(
        {
            "doc_id": range(len(rows)),
            "source": [s for s, _ in rows],
            "n_chars": [v for _, v in rows],
        }
    )
    con = _con_with("documents", docs)
    out = con.sql(REGISTRY["kruskal_wallis_doclen"].oracle).df()
    # brute-force with float average ranks
    allv = sorted(v for _, v in rows)
    n = len(allv)
    rank = {}
    for v in set(allv):
        lo = allv.index(v) + 1
        hi = lo + allv.count(v) - 1
        rank[v] = (lo + hi) / 2
    groups = defaultdict(list)
    for s, v in rows:
        groups[s].append(v)
    h_num = 12 / (n * (n + 1)) * sum(
        (sum(rank[v] for v in vs)) ** 2 / len(vs) for vs in groups.values()
    ) - 3 * (n + 1)
    cnt = Counter(allv)
    tie_c = 1 - sum(c**3 - c for c in cnt.values()) / (n**3 - n)
    if tie_c <= 0:
        return  # degenerate all-equal corpus
    want = h_num / tie_c
    got = out.kw_h_statistic.iloc[0]
    assert abs(got - want) < 1e-3 + abs(want) * 1e-4
    # per-group mean ranks match
    for _, r in out.iterrows():
        vs = groups[r["source"]]
        assert abs(r["mean_rank"] - sum(rank[v] for v in vs) / len(vs)) < 1e-6


# --------------------------------------------------------------------------
# Hodges-Lehmann vs brute force
# --------------------------------------------------------------------------
@given(
    st.lists(st.integers(min_value=0, max_value=30), min_size=2, max_size=20),
    st.lists(st.integers(min_value=0, max_value=30), min_size=2, max_size=20),
)
@settings(max_examples=25, deadline=None)
def test_hodges_lehmann_matches_bruteforce(xa, xb):

    docs = pd.DataFrame(
        {
            "doc_id": range(len(xa) + len(xb)),
            "source": ["a"] * len(xa) + ["b"] * len(xb),
            "n_chars": xa + xb,
        }
    )
    con = _con_with("documents", docs)
    row = con.sql(REGISTRY["hodges_lehmann_shift"].oracle).df().iloc[0]
    diffs = sorted(x - y for x in xa for y in xb)
    n = len(diffs)
    med = (diffs[(n + 1) // 2 - 1] + diffs[(n + 2) // 2 - 1]) / 2
    assert row["n_pairs"] == n
    assert abs(row["hodges_lehmann_shift"] - med) < 1e-9
    assert row["min_diff"] == diffs[0] and row["max_diff"] == diffs[-1]


# --------------------------------------------------------------------------
# Cramér-von Mises vs brute force + non-negativity
# --------------------------------------------------------------------------
@given(
    st.lists(st.integers(min_value=0, max_value=15), min_size=3, max_size=25),
    st.lists(st.integers(min_value=0, max_value=15), min_size=3, max_size=25),
)
@settings(max_examples=25, deadline=None)
def test_cvm_matches_bruteforce(xa, xb):

    docs = pd.DataFrame(
        {
            "doc_id": range(len(xa) + len(xb)),
            "source": ["a"] * len(xa) + ["b"] * len(xb),
            "n_chars": xa + xb,
        }
    )
    con = _con_with("documents", docs)
    row = con.sql(REGISTRY["cramer_von_mises_two_sample"].oracle).df().iloc[0]
    na, nb = len(xa), len(xb)
    ca, cb = Counter(xa), Counter(xb)
    fa = fb = sgap = 0
    for v in sorted(set(xa) | set(xb)):
        fa += ca.get(v, 0)
        fb += cb.get(v, 0)
        sgap += (ca.get(v, 0) + cb.get(v, 0)) * (fa * nb - fb * na) ** 2
    want = sgap / (na * nb) / (na + nb) ** 2
    assert abs(row["cvm_t_statistic"] - want) < 1e-6
    assert row["cvm_t_statistic"] >= 0
    if sorted(xa) == sorted(xb):
        # identical samples: the only gap mass is within-tie; T is small
        assert row["cvm_t_statistic"] < 0.5


# --------------------------------------------------------------------------
# binary segmentation: argmax matches brute force; SS non-negative
# --------------------------------------------------------------------------
@given(
    st.lists(st.integers(min_value=0, max_value=10**5), min_size=3, max_size=40)
)
@settings(max_examples=20, deadline=None)
def test_binseg_matches_bruteforce(cents):

    orders = pd.DataFrame(
        {
            "o_totalprice": [c / 100 for c in cents],
            "o_orderdate": pd.to_datetime(
                [pd.Timestamp("2020-01-01") + pd.Timedelta(days=i) for i in range(len(cents))]
            ),
        }
    )
    con = _con_with("orders", orders)
    row = con.sql(REGISTRY["binary_segmentation_split"].oracle).df().iloc[0]
    n = len(cents)
    s = sum(cents)
    best = None
    s1 = 0
    base_day = (pd.Timestamp("2020-01-01") - pd.Timestamp("1970-01-01")).days
    for t in range(1, n):
        s1 += cents[t - 1]
        ss = math.floor((s1 * s1 / t + (s - s1) ** 2 / (n - t) - s * s / n) / 1e6)
        cand = (-ss, base_day + t - 1)
        if best is None or cand < best:
            best = cand
    assert row["split_after_day"] == best[1]
    assert -best[0] >= 0  # between-segment SS is non-negative


# --------------------------------------------------------------------------
# bucketed packing invariants on random docs
# --------------------------------------------------------------------------
@given(
    st.lists(st.integers(min_value=1, max_value=60), min_size=3, max_size=60)
)
@settings(max_examples=20, deadline=None)
def test_bucketed_packing_invariants(tok_counts):
    from sales_telegram_bot_data_pipeline_spark.operators.round10b import (
        _bucketed_packing_sql,
    )

    docs = pd.DataFrame(
        {
            "doc_id": range(len(tok_counts)),
            "text": [" ".join(["w"] * t) for t in tok_counts],
            "lang": ["en"] * len(tok_counts),
            "source": ["s"] * len(tok_counts),
            "n_chars": [2 * t for t in tok_counts],
        }
    )
    con = _con_with("documents", docs)
    out = con.sql(_bucketed_packing_sql(DUCKDB, "documents")).df()
    assert int(out.n_docs.sum()) == len(tok_counts)
    for _, r in out.iterrows():
        assert 0 < r["fill_frac_vs_cap"] <= 1.0 + 1e-9
        assert 0 < r["fill_frac_vs_bucket"] <= 1.0 + 1e-9
        # bins are never fuller than capacity allows
        assert r["n_bins"] >= math.ceil(r["n_docs"] / (2048 // r["bucket"]))


# --------------------------------------------------------------------------
# pure identities: Chapman monotonicity, Hilbert bijection at many sizes
# --------------------------------------------------------------------------
@given(
    st.integers(min_value=0, max_value=200),
    st.integers(min_value=0, max_value=200),
    st.integers(min_value=0, max_value=200),
)
@settings(max_examples=60)
def test_chapman_monotone_in_overlap(a, b, m):
    m = min(m, a, b)
    nhat = (a + 1) * (b + 1) / (m + 1) - 1
    nhat_more = (a + 1) * (b + 1) / (min(m + 1, min(a, b)) + 1) - 1
    # more overlap => smaller (or equal) estimated population
    assert nhat_more <= nhat + 1e-9
    # the estimate always covers each detector's own catch
    assert nhat >= max(a, b) - 1e-9


def test_hilbert_bijection_many_sizes():
    """The Hilbert recurrence is a bijection with perfect step-1
    adjacency at every power-of-two grid size up to the production 256."""
    from test_round10b_ops import _hilbert_xy2d

    for bits in (1, 2, 3, 4, 5):
        n = 1 << bits
        ds = {}
        for x in range(n):
            for y in range(n):
                ds[_hilbert_xy2d(n, x, y)] = (x, y)
        assert sorted(ds) == list(range(n * n))
        for i in range(n * n - 1):
            (x1, y1), (x2, y2) = ds[i], ds[i + 1]
            assert abs(x1 - x2) + abs(y1 - y2) == 1
