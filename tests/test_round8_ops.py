"""Brute-force pins for the round-8 registry additions (tolerance
1e-6 on rounded doubles: Python round() is half-even, SQL ROUND half-up): each operator's
Spark result is re-derived in pure Python/numpy from the raw parquet (via
DuckDB reads only, no SQL re-use of the templates under test)."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict
from datetime import date

import duckdb

from conftest import SF_SMOKE
from sales_telegram_bot_data_pipeline_spark import queries as q

EPOCH = date(1970, 1, 1)


def _daily_cents(sf=SF_SMOKE):
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT CAST(o_orderdate AS DATE), "
        f"CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
        f"FROM read_parquet('{sf}/orders.parquet')"
    ).fetchall()
    con.close()
    daily = defaultdict(int)
    for dt, cents in rows:
        daily[(dt - EPOCH).days] += cents
    return daily


def test_ewma_dyadic_matches_python(spark):
    from sales_telegram_bot_data_pipeline_spark.operators.round8 import EWMA_DEPTH

    daily = _daily_cents()
    weekly = defaultdict(int)
    for d, c in daily.items():
        weekly[d // 7] += c
    x0 = min(weekly)
    out = {r.week: r.ewma_dollars for r in
           q.REGISTRY["ewma_dyadic_smoothing"].fn(spark, SF_SMOKE).collect()}
    assert set(out) == set(weekly)
    for x in weekly:
        m = min(EWMA_DEPTH, x - x0)
        num = sum(
            weekly.get(x - dd, 0) * (1 << (EWMA_DEPTH - dd))
            for dd in range(0, m + 1)
        )
        den = (1 << (EWMA_DEPTH + 1)) - (1 << (EWMA_DEPTH - m))
        assert abs(out[x] - round(num / den / 100, 6)) <= 1e-6
    # steady-state sanity: with full history the weights sum to ~1, so the
    # EWMA sits inside the observed weekly range
    full = [x for x in weekly if x - x0 >= EWMA_DEPTH]
    lo, hi = min(weekly.values()) / 100, max(weekly.values()) / 100
    assert all(lo - 1e-6 <= out[x] <= hi + 1e-6 for x in full)


def test_seasonal_dow_matches_python(spark):
    daily = _daily_cents()
    by_dow = defaultdict(list)
    for d, c in daily.items():
        by_dow[(d + 4) % 7].append(c)
    vals = [c for cs in by_dow.values() for c in cs]
    n, st = len(vals), sum(vals)
    ss_tot = sum(c * c for c in vals) - st * st / n
    ss_res = sum(
        sum(c * c for c in cs) - sum(cs) ** 2 / len(cs) for cs in by_dow.values()
    )
    rows = {r.dow: r for r in
            q.REGISTRY["seasonal_dow_decomposition"].fn(spark, SF_SMOKE).collect()}
    assert set(rows) == set(by_dow)
    gmean = st / n
    for dow, cs in by_dow.items():
        r = rows[dow]
        assert r.n_days == len(cs)
        assert abs(r.mean_daily_dollars - round(sum(cs) / len(cs) / 100, 6)) <= 1e-6
        assert abs(r.seasonal_index - round((sum(cs) / len(cs)) / gmean, 6)) <= 1e-6
        assert abs(r.seasonal_strength - round(1 - ss_res / ss_tot, 6)) <= 1e-6


def test_runs_test_matches_python(spark):
    daily = _daily_cents()
    n, st = len(daily), sum(daily.values())
    signs = [daily[d] * n >= st for d in sorted(daily)]
    runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
    n1 = sum(signs)
    rows = q.REGISTRY["runs_test_daily_revenue"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_days, r.n_above, r.n_below, r.n_runs) == (n, n1, n - n1, runs)
    mu = 2 * n1 * (n - n1) / n + 1
    sigma = math.sqrt(
        (2 * n1 * (n - n1)) * (2 * n1 * (n - n1) - n) / (n * n * (n - 1))
    )
    assert abs(r.expected_runs - round(mu, 6)) <= 1e-6
    assert abs(r.z_score - round((runs - mu) / sigma, 6)) <= 1e-6


def test_jl_distortion_matches_numpy(spark):
    import numpy as np

    from sales_telegram_bot_data_pipeline_spark.functions.dialect import DUCKDB
    from sales_telegram_bot_data_pipeline_spark.operators.round8 import (
        JL_DIM,
        JL_K,
        _jl_sign,
    )
    from sales_telegram_bot_data_pipeline_spark.operators.similarity import _banded_view

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/embeddings.parquet')"
    )
    bv = _banded_view(DUCKDB, "embeddings")
    pairs = con.sql(
        f"SELECT DISTINCT a.vec_id, b.vec_id FROM ({bv}) a JOIN ({bv}) b "
        f"ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id"
    ).fetchall()
    vecs = {
        vid: np.asarray(e, dtype=np.float64)
        for vid, e in con.sql("SELECT vec_id, embedding FROM embeddings").fetchall()
    }
    con.close()
    assert all(len(v) == JL_DIM for v in vecs.values())

    S = np.array(
        [[_jl_sign(j, i) for i in range(JL_DIM)] for j in range(JL_K)], dtype=np.int64
    )
    qv = {vid: np.round(v * 1e6).astype(np.int64) for vid, v in vecs.items()}
    errs = []
    degenerate = 0
    for a, b in pairs:
        exact = int(((qv[a] - qv[b]) ** 2).sum())
        if exact == 0:  # identical quantized vectors: no defined ratio
            degenerate += 1
            continue
        pa, pb = S @ qv[a], S @ qv[b]
        proj = int(((pa - pb) ** 2).sum())
        ratio = proj / (JL_K * exact)
        errs.append(round(abs(ratio - 1) * 1e6))
    rows = q.REGISTRY["jl_projection_distortion_audit"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_pairs == len(errs)
    assert r.n_degenerate == degenerate
    assert r.n_pairs + r.n_degenerate == len(pairs)
    assert abs(r.mean_abs_distortion - round(sum(errs) / len(errs) / 1e6, 6)) < 1e-9
    assert abs(r.max_abs_distortion - max(errs) / 1e6) < 1e-9
    assert abs(
        r.frac_within_02 - round(sum(1 for e in errs if e <= 200000) / len(errs), 6)
    ) <= 1e-6
    # JL sanity: the scaled ratio concentrates around 1
    assert 0.5 <= 1 + (sum(errs) / len(errs) / 1e6) <= 2.0


def test_covisitation_matches_python(spark):
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT DISTINCT user_id, event_type FROM "
        f"read_parquet('{SF_SMOKE}/events.parquet')"
    ).fetchall()
    con.close()
    by_user = defaultdict(set)
    n_t = defaultdict(int)
    for u, t in rows:
        by_user[u].add(t)
        n_t[t] += 1
    n_users = len(by_user)
    n_ab = defaultdict(int)
    for items in by_user.values():
        s = sorted(items)
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                n_ab[(s[i], s[j])] += 1
    out = {(r.item_a, r.item_b): r for r in
           q.REGISTRY["covisitation_item_pairs"].fn(spark, SF_SMOKE).collect()}
    assert set(out) == set(n_ab)
    for (a, b), r in out.items():
        assert (r.n_ab, r.n_a, r.n_b) == (n_ab[(a, b)], n_t[a], n_t[b])
        assert abs(r.lift - round(n_ab[(a, b)] * n_users / (n_t[a] * n_t[b]), 6)) <= 1e-6
        assert abs(r.jaccard - round(n_ab[(a, b)] / (n_t[a] + n_t[b] - n_ab[(a, b)]), 6)) <= 1e-6


def test_key_gap_audit_matches_python(spark):
    con = duckdb.connect()
    keys = sorted(
        k for (k,) in con.sql(
            f"SELECT DISTINCT o_orderkey FROM "
            f"read_parquet('{SF_SMOKE}/orders.parquet') WHERE o_orderstatus = 'F'"
        ).fetchall()
    )
    con.close()
    hist = defaultdict(int)
    for a, b in zip(keys, keys[1:]):
        if b - a > 1:
            hist[b - a - 1] += 1
    rows = {r.gap_len: r for r in
            q.REGISTRY["key_gap_audit"].fn(spark, SF_SMOKE).collect()}
    assert set(rows) == set(hist)
    for g, r in rows.items():
        assert r.n_gaps == hist[g]
        assert r.missing_keys == g * hist[g]
    # conservation: total missing == keyspace span minus present keys
    span_missing = (keys[-1] - keys[0] + 1) - len(keys)
    assert sum(r.missing_keys for r in rows.values()) == span_missing


def test_jl_signs_are_balanced():
    """The md5-parity sign matrix should be near-balanced per projection
    (a degenerate all-ones row would make p_j a plain sum)."""
    from sales_telegram_bot_data_pipeline_spark.operators.round8 import (
        JL_DIM,
        JL_K,
        _jl_sign,
    )

    for j in range(JL_K):
        s = sum(_jl_sign(j, i) for i in range(JL_DIM))
        assert abs(s) < JL_DIM // 2
    # determinism / documented definition
    h = int(hashlib.md5(b"jl|0|0").hexdigest()[:15], 16)
    assert _jl_sign(0, 0) == (1 if h % 2 == 0 else -1)


def test_naive_forecast_backtest_matches_python(spark):
    daily = _daily_cents()
    n, st = len(daily), sum(daily.values())
    e_naive = e_seas = e_mean_scaled = 0
    scored = 0
    for d, c in daily.items():
        if (d - 1) in daily and (d - 7) in daily:
            scored += 1
            e_naive += abs(c - daily[d - 1])
            e_seas += abs(c - daily[d - 7])
            e_mean_scaled += abs(c * n - st)
    rows = q.REGISTRY["naive_forecast_backtest"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_scored == scored
    assert abs(r.mae_naive_dollars - round(e_naive / scored / 100, 6)) <= 1e-6
    assert abs(r.mae_seasonal_dollars - round(e_seas / scored / 100, 6)) <= 1e-6
    assert abs(r.mae_mean_dollars - round(e_mean_scaled / n / scored / 100, 6)) <= 1e-6
    assert abs(r.mase_seasonal - round(e_seas / e_naive, 6)) <= 1e-6


def test_burrows_delta_matches_python(spark):
    con = duckdb.connect()
    docs = con.sql(
        f"SELECT source, lower(text) FROM read_parquet('{SF_SMOKE}/documents.parquet')"
    ).fetchall()
    con.close()
    from sales_telegram_bot_data_pipeline_spark.operators.round8 import DELTA_TOP_WORDS

    counts = defaultdict(lambda: defaultdict(int))
    word_tot = defaultdict(int)
    for src, text in docs:
        for w in text.split():
            counts[src][w] += 1
            word_tot[w] += 1
    top = [w for w, _ in sorted(word_tot.items(), key=lambda kv: (-kv[1], kv[0]))][
        :DELTA_TOP_WORDS
    ]
    srcs = sorted(counts)
    n_src = {s: sum(counts[s].values()) for s in srcs}
    # pico-unit quantized frequencies + exact integer moments, matching
    # the operator (review fix: floating sigma cancellation)
    fq = {(s, w): round(counts[s].get(w, 0) / n_src[s] * 1e12)
          for s in srcs for w in top}
    z = {}
    for w in top:
        fs = [fq[(s, w)] for s in srcs]
        ns, s1, s2 = len(fs), sum(fs), sum(f * f for f in fs)
        v = ns * s2 - s1 * s1
        assert v >= 0  # exact integer Cauchy-Schwarz
        for s in srcs:
            z[(s, w)] = (fq[(s, w)] * ns - s1) / math.sqrt(v) if v else None
    out = {(r.source_a, r.source_b): r.burrows_delta for r in
           q.REGISTRY["stylometric_burrows_delta"].fn(spark, SF_SMOKE).collect()}
    assert set(out) == {(a, b) for a in srcs for b in srcs if a < b}
    for (a, b), delta in out.items():
        zs = [abs(z[(a, w)] - z[(b, w)]) for w in top if z[(a, w)] is not None]
        assert abs(delta - round(sum(zs) / len(zs), 6)) <= 1e-6
    # Delta is a metric-ish distance: non-negative, symmetric by defn
    assert all(d >= 0 for d in out.values())


def test_behavioral_entropy_matches_python(spark):
    con = duckdb.connect()
    pairs = con.sql(
        f"SELECT user_id, event_type FROM read_parquet('{SF_SMOKE}/events.parquet')"
    ).fetchall()
    con.close()
    from sales_telegram_bot_data_pipeline_spark.operators.round8 import (
        ENTROPY_BUCKET_NANO,
    )

    by_user = defaultdict(lambda: defaultdict(int))
    for u, t in pairs:
        by_user[u][t] += 1
    buckets = defaultdict(list)
    for u, cs in by_user.items():
        n = sum(cs.values())
        h_nano = sum(
            round(-(c / n) * math.log(c / n) * 1e9) for c in cs.values()
        )
        buckets[h_nano // ENTROPY_BUCKET_NANO].append(h_nano)
    rows = {r.entropy_bucket: r for r in
            q.REGISTRY["behavioral_entropy_profile"].fn(spark, SF_SMOKE).collect()}
    assert set(rows) == set(buckets)
    for b, hs in buckets.items():
        assert rows[b].n_users == len(hs)
        assert abs(
            rows[b].mean_entropy_nats - round(sum(hs) / len(hs) / 1e9, 6)
        ) <= 1e-6
    # entropy bounded by ln(#types)
    n_types = len({t for _, t in pairs})
    assert all(
        0 <= b * ENTROPY_BUCKET_NANO / 1e9 <= math.log(n_types) + 0.25
        for b in buckets
    )


def test_shapley_attribution_matches_python_and_efficiency(spark):
    import itertools

    from sales_telegram_bot_data_pipeline_spark.operators.round8 import SHAPLEY_CHANNELS

    con = duckdb.connect()
    pairs = con.sql(
        f"SELECT user_id, event_type FROM read_parquet('{SF_SMOKE}/events.parquet')"
    ).fetchall()
    con.close()
    # the hard-coded channel catalog must be exactly the non-conversion
    # event types present in the data
    types = {t for _, t in pairs}
    assert types == set(SHAPLEY_CHANNELS) | {"purchase"}

    by_user = defaultdict(set)
    conv = defaultdict(int)
    for u, t in pairs:
        if t == "purchase":
            conv[u] = 1
            by_user.setdefault(u, set())
        else:
            by_user[u].add(t)
    bit = {c: 1 << i for i, c in enumerate(SHAPLEY_CHANNELS)}
    coal = defaultdict(lambda: [0, 0])
    for u, items in by_user.items():
        m = sum(bit[c] for c in items)
        coal[m][0] += 1
        coal[m][1] += conv.get(u, 0)

    def v(mask):
        if mask not in coal:
            return 0.0
        n_u, n_c = coal[mask]
        return n_c / n_u

    n = len(SHAPLEY_CHANNELS)
    expect = {}
    for i, ch in enumerate(SHAPLEY_CHANNELS):
        total = 0.0
        for size in range(n):
            for s in itertools.combinations(
                [j for j in range(n) if j != i], size
            ):
                m = sum(1 << j for j in s)
                total += (
                    math.factorial(size) * math.factorial(n - 1 - size)
                ) * (v(m | (1 << i)) - v(m))
        expect[ch] = total / math.factorial(n)
    rows = {r.channel: r for r in
            q.REGISTRY["shapley_channel_attribution"].fn(spark, SF_SMOKE).collect()}
    assert set(rows) == set(SHAPLEY_CHANNELS)
    for ch in SHAPLEY_CHANNELS:
        assert abs(rows[ch].shapley_credit - round(expect[ch], 6)) <= 1e-6
        n_exp = sum(
            coal[m][0] for m in coal if m & bit[ch]
        )
        assert rows[ch].n_exposed == n_exp
    # efficiency axiom: credits sum to v(full) - v(empty)
    full = sum(bit.values())
    lhs = sum(r.shapley_credit for r in rows.values())
    assert abs(lhs - (v(full) - v(0))) <= 5e-6


def test_conformal_selection_and_coverage_match_python(spark):
    """Independent re-derivation of the SELECTION + COVERAGE logic (the
    logreg score itself is pinned by the quality-suite golden tests):
    collect the scored relation, pick the ceil((n+1)(1-alpha))-th
    smallest calibration score in Python, recompute coverage."""
    from sales_telegram_bot_data_pipeline_spark.functions.dialect import SPARK as SP
    from sales_telegram_bot_data_pipeline_spark.sources.tables import table_view
    from sales_telegram_bot_data_pipeline_spark.operators.round8 import (
        CONFORMAL_ALPHA_PCT,
        _conformal_scored_sql,
    )

    view = table_view(spark, SF_SMOKE, "documents")
    scored = spark.sql(_conformal_scored_sql(SP, view)).collect()
    cal = sorted(r.s_u for r in scored if r.is_cal)
    ev = [r.s_u for r in scored if not r.is_cal]
    k = min(math.ceil((len(cal) + 1) * (1 - CONFORMAL_ALPHA_PCT / 100)), len(cal))
    q_u = cal[k - 1]
    coverage = sum(1 for s in ev if s <= q_u) / len(ev)
    rows = q.REGISTRY["conformal_coverage_audit"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_cal, r.n_eval) == (len(cal), len(ev))
    assert abs(r.q_hat - round(q_u / 1e6, 6)) <= 1e-6
    assert abs(r.coverage - round(coverage, 6)) <= 1e-6
    assert abs(r.coverage_gap - round(coverage - 0.9, 6)) <= 1e-6
    # split-conformal sanity: coverage should land near 1 - alpha
    assert 0.75 <= r.coverage <= 1.0


def test_source_vocab_overlap_matches_python(spark):
    con = duckdb.connect()
    docs = con.sql(
        f"SELECT source, lower(text) FROM read_parquet('{SF_SMOKE}/documents.parquet')"
    ).fetchall()
    con.close()
    vocab = defaultdict(set)
    for src, text in docs:
        vocab[src].update(text.split())
    srcs = sorted(vocab)
    out = {(r.source_a, r.source_b): r for r in
           q.REGISTRY["source_vocab_overlap"].fn(spark, SF_SMOKE).collect()}
    assert set(out) == {(a, b) for a in srcs for b in srcs if a < b}
    for (a, b), r in out.items():
        inter = len(vocab[a] & vocab[b])
        assert (r.n_shared, r.n_types_a, r.n_types_b) == (
            inter, len(vocab[a]), len(vocab[b])
        )
        assert abs(r.vocab_jaccard
                   - round(inter / len(vocab[a] | vocab[b]), 6)) <= 1e-6
        assert abs(r.containment
                   - round(inter / min(len(vocab[a]), len(vocab[b])), 6)) <= 1e-6


def test_brier_decomposition_identity_and_python(spark):
    """The generalized Murphy identity brier = rel - res + unc + wbv -
    2*wcov must hold EXACTLY (within rounding), and every term matches a
    pure-Python recomputation from the Spark-scored relation (the logreg
    score itself is pinned by the quality-suite golden tests)."""
    from sales_telegram_bot_data_pipeline_spark.functions.dialect import SPARK as SP
    from sales_telegram_bot_data_pipeline_spark.sources.tables import table_view
    from sales_telegram_bot_data_pipeline_spark.operators.lm_quality import _logreg_sql

    view = table_view(spark, SF_SMOKE, "documents")
    scored = spark.sql(_logreg_sql(SP, view)).select("quality_prob", "lang").collect()
    pu = [round(r.quality_prob * 1e6) for r in scored]
    yu = [1_000_000 if r.lang == "en" else 0 for r in scored]
    n = len(pu)
    bins = defaultdict(list)
    for p, y in zip(pu, yu):
        bins[min(p // 100_000, 9)].append((p, y))
    brier = sum((p - y) ** 2 for p, y in zip(pu, yu)) / n / 1e12
    ybar = sum(yu) / n / 1e6
    rel = sum(
        len(v) * ((sum(p for p, _ in v) / len(v) / 1e6)
                  - (sum(y for _, y in v) / len(v) / 1e6)) ** 2
        for v in bins.values()
    ) / n
    res = sum(
        len(v) * ((sum(y for _, y in v) / len(v) / 1e6) - ybar) ** 2
        for v in bins.values()
    ) / n
    unc = ybar * (1 - ybar)
    wbv = sum(
        sum(p * p for p, _ in v) / 1e12
        - (sum(p for p, _ in v) / 1e6) ** 2 / len(v)
        for v in bins.values()
    ) / n
    wcov = sum(
        sum(p * y for p, y in v) / 1e12
        - (sum(p for p, _ in v) / 1e6) * (sum(y for _, y in v) / 1e6) / len(v)
        for v in bins.values()
    ) / n
    rows = q.REGISTRY["brier_score_decomposition"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_docs == n
    for got, want in [
        (r.brier, brier), (r.reliability, rel), (r.resolution, res),
        (r.uncertainty, unc), (r.within_bin_var, wbv), (r.within_bin_cov, wcov),
    ]:
        assert abs(got - round(want, 6)) <= 1e-6
    # the generalized identity, on the UNROUNDED python terms
    assert abs(brier - (rel - res + unc + wbv - 2 * wcov)) <= 1e-9
    # and on the emitted rounded terms, within rounding slack
    assert abs(
        r.brier - (r.reliability - r.resolution + r.uncertainty
                   + r.within_bin_var - 2 * r.within_bin_cov)
    ) <= 5e-6


def test_kendall_tau_b_matches_bruteforce(spark):
    con = duckdb.connect()
    rows_in = con.sql(
        f"SELECT CAST(l_quantity AS BIGINT), "
        f"CAST(ROUND(l_discount * 100) AS BIGINT) "
        f"FROM read_parquet('{SF_SMOKE}/lineitem.parquet')"
    ).fetchall()
    con.close()
    cells = defaultdict(int)
    for x, y in rows_in:
        cells[(x, y)] += 1
    items = list(cells.items())
    P = Q = 0
    for i, ((x1, y1), c1) in enumerate(items):
        for (x2, y2), c2 in items[i + 1:]:
            if x1 == x2 or y1 == y2:
                continue
            if (x2 - x1) * (y2 - y1) > 0:
                P += c1 * c2
            else:
                Q += c1 * c2
    n = len(rows_in)
    tx = defaultdict(int)
    ty = defaultdict(int)
    for x, y in rows_in:
        tx[x] += 1
        ty[y] += 1
    n0 = n * (n - 1) // 2
    t1 = sum(t * (t - 1) // 2 for t in tx.values())
    t2 = sum(t * (t - 1) // 2 for t in ty.values())
    tau = (P - Q) / math.sqrt((n0 - t1) * (n0 - t2))
    rows = q.REGISTRY["kendall_tau_b"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_rows, int(r.n_concordant), int(r.n_discordant)) == (n, P, Q)
    assert abs(r.kendall_tau_b - round(tau, 6)) <= 1e-6
    assert -1 <= r.kendall_tau_b <= 1
