"""Second hypothesis property file for round-10: the batch-3/5/6 SQL
templates (Qini, Beta-Binomial, CLES, Hellinger, entropy rate) run on
random micro-corpora in DuckDB against brute-force Python — plus the
pure Wald-boundary identities the SPRT template relies on."""

from __future__ import annotations

import math
from collections import Counter

import duckdb
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from sales_telegram_bot_data_pipeline_spark.functions.dialect import DUCKDB
from sales_telegram_bot_data_pipeline_spark.queries import REGISTRY


def _docs_con(xa, xb):
    docs = pd.DataFrame(
        {
            "doc_id": range(len(xa) + len(xb)),
            "source": ["a"] * len(xa) + ["b"] * len(xb),
            "n_chars": xa + xb,
        }
    )
    con = duckdb.connect()
    con.register("_d", docs)
    con.execute("CREATE TABLE documents AS SELECT * FROM _d")
    return con


# --------------------------------------------------------------------------
# CLES: A(a,b) + A(b,a) == 1, and matches brute force
# --------------------------------------------------------------------------
@given(
    st.lists(st.integers(min_value=0, max_value=20), min_size=2, max_size=20),
    st.lists(st.integers(min_value=0, max_value=20), min_size=2, max_size=20),
)
@settings(max_examples=25, deadline=None)
def test_cles_complement_and_bruteforce(xa, xb):
    con = _docs_con(xa, xb)
    row = con.sql(REGISTRY["cles_effect_size"].oracle).df().iloc[0]
    wins = sum(1 for x in xa for y in xb if x > y)
    ties = sum(1 for x in xa for y in xb if x == y)
    a_stat = (wins + 0.5 * ties) / (len(xa) * len(xb))
    assert abs(row["vd_a_statistic"] - a_stat) < 1e-6  # ROUND(,6) output
    # complement identity: swapping the samples complements A
    losses = sum(1 for x in xa for y in xb if x < y)
    a_swapped = (losses + 0.5 * ties) / (len(xa) * len(xb))
    assert abs((a_stat + a_swapped) - 1.0) < 1e-12


# --------------------------------------------------------------------------
# Hellinger: metric range; H == 0 iff identical distributions
# --------------------------------------------------------------------------
@given(
    st.lists(st.integers(min_value=0, max_value=8), min_size=2, max_size=25),
    st.lists(st.integers(min_value=0, max_value=8), min_size=2, max_size=25),
)
@settings(max_examples=25, deadline=None)
def test_hellinger_range_and_identity(xa, xb):
    con = _docs_con(xa, xb)
    row = con.sql(REGISTRY["hellinger_bhattacharyya"].oracle).df().iloc[0]
    assert -1e-9 <= row["bhattacharyya_coef"] <= 1.0 + 1e-9
    assert -1e-9 <= row["hellinger_distance"] <= 1.0 + 1e-9
    ca = Counter(xa)
    cb = Counter(xb)
    same_dist = {v: ca[v] / len(xa) for v in ca} == {v: cb[v] / len(xb) for v in cb}
    if same_dist:
        assert row["hellinger_distance"] < 1e-3  # quantization noise only
    if not (set(ca) & set(cb)):
        # disjoint supports: BC = 0, H = 1
        assert row["bhattacharyya_coef"] == 0.0
        assert abs(row["hellinger_distance"] - 1.0) < 1e-9


# --------------------------------------------------------------------------
# Qini: curve endpoint equals overall uplift; coefficient finite
# --------------------------------------------------------------------------
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),  # treated
            st.integers(min_value=0, max_value=1),  # converted
            st.integers(min_value=1, max_value=50),  # activity
        ),
        min_size=20, max_size=120,
    ).filter(
        lambda xs: any(t for t, _, _ in xs) and any(1 - t for t, _, _ in xs)
    )
)
@settings(max_examples=20, deadline=None)
def test_qini_endpoint_is_overall_uplift(rows):
    from sales_telegram_bot_data_pipeline_spark.operators.round10c import _qini_tail_sql

    users = pd.DataFrame(
        {
            "user_id": range(len(rows)),
            "treated": [t for t, _, _ in rows],
            "converted": [c for _, c, _ in rows],
            "n_ev": [a for _, _, a in rows],
        }
    )
    con = duckdb.connect()
    con.register("_u", users)
    con.execute("CREATE TABLE users AS SELECT * FROM _u")
    ranked = (
        "(SELECT user_id, treated, converted, "
        "ROW_NUMBER() OVER (ORDER BY n_ev DESC, user_id) AS r FROM users)"
    )
    out = con.sql(_qini_tail_sql(DUCKDB, ranked)).df()
    last = out.sort_values("decile").iloc[-1]
    tnt = sum(t for t, _, _ in rows)
    tnc = len(rows) - tnt
    tct = sum(t * c for t, c, _ in rows)
    tcc = sum((1 - t) * c for t, c, _ in rows)
    overall = tct - tcc * tnt / tnc
    # at the last decile the whole population is targeted: qini == overall
    assert abs(last["qini_uplift"] - overall) < 1e-5
    assert abs(last["random_uplift"] - overall) < 1e-5
    assert math.isfinite(out.qini_coefficient.iloc[0])


# --------------------------------------------------------------------------
# Beta-Binomial: shrunk rate always between raw rate and prior mean
# --------------------------------------------------------------------------
@given(
    st.dictionaries(
        st.sampled_from(["s1", "s2", "s3", "s4"]),
        st.tuples(st.integers(min_value=2, max_value=40),
                  st.floats(min_value=0.0, max_value=1.0)),
        min_size=2, max_size=4,
    )
)
@settings(max_examples=20, deadline=None)
def test_betabin_shrinks_toward_prior(spec):
    from sales_telegram_bot_data_pipeline_spark.operators.round10c import _betabin_sql

    rows = []
    did = 0
    for s, (n, frac) in spec.items():
        x = round(n * frac)
        for i in range(n):
            rows.append({"doc_id": did, "source": s, "lang": "en" if i < x else "xx"})
            did += 1
    docs = pd.DataFrame(rows)
    con = duckdb.connect()
    con.register("_d", docs)
    con.execute("CREATE TABLE documents AS SELECT * FROM _d")
    out = con.sql(_betabin_sql(DUCKDB, "documents")).df()
    k = len(spec)
    rates = {s: round(n * f) / n for s, (n, f) in spec.items()}
    mu = sum(math.floor(r * 1e9) for r in rates.values()) / 1e9 / k
    for _, r in out.iterrows():
        lo = min(r["raw_rate"], mu) - 1e-6
        hi = max(r["raw_rate"], mu) + 1e-6
        assert lo <= r["shrunk_rate"] <= hi
        assert r["alpha"] >= -1e-9 and r["beta"] >= -1e-9


# --------------------------------------------------------------------------
# entropy rate: conditioning never increases entropy (template-level)
# --------------------------------------------------------------------------
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=2, max_size=15),
        min_size=2, max_size=10,
    )
)
@settings(max_examples=20, deadline=None)
def test_entropy_rate_conditioning_bound(seqs):
    rows = []
    eid = 0
    for uid, evs in enumerate(seqs):
        for i, e in enumerate(evs):
            rows.append(
                {
                    "event_id": eid,
                    "user_id": uid,
                    "ts": pd.Timestamp("2020-01-01") + pd.Timedelta(minutes=eid),
                    "event_type": e,
                }
            )
            eid += 1
    ev = pd.DataFrame(rows)
    con = duckdb.connect()
    con.register("_e", ev)
    con.execute("CREATE TABLE events AS SELECT * FROM _e")
    row = con.sql(REGISTRY["markov_entropy_rate"].oracle).df().iloc[0]
    # H(next|current) <= H(next), up to nano quantization
    assert row["entropy_rate_nats"] <= row["marginal_entropy_nats"] + 1e-6
    assert row["entropy_rate_nats"] >= -1e-6


# --------------------------------------------------------------------------
# pure SPRT identities: Wald boundary symmetry + increment drift signs
# --------------------------------------------------------------------------
@given(st.integers(min_value=0, max_value=1000))
@settings(max_examples=60)
def test_sprt_increment_drift_signs(x):
    """Under H1 (rate 1.05 l0) the expected LLR increment is positive,
    under H0 negative — the property that makes the Wald test consistent:
    E_H1[inc] = 1.05 l0 ln(1.05) - 0.05 l0 > 0 and
    E_H0[inc] = l0 ln(1.05) - 0.05 l0 < 0 for any l0 > 0."""
    l0 = x / 10 + 0.1
    ln105 = math.log(1.05)
    assert 1.05 * l0 * ln105 - 0.05 * l0 > 0
    assert l0 * ln105 - 0.05 * l0 < 0
