"""Brute-force cross-checks for the evaluation/stats operators: exact AUC
vs the O(n^2) pair definition, Welch vs a numpy recomputation, skyline vs
naive dominance, Kaplan-Meier vs a pure-Python product-limit estimator."""

from __future__ import annotations

import math

import duckdb

from sales_telegram_bot_data_pipeline_spark import queries as q

from conftest import SF_SMOKE


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in ("documents", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def test_auc_matches_pairwise_definition(spark):
    """AUC from midranks == (#concordant + 0.5 * #tied) / (n1*n0) computed
    pairwise — the definition the rank identity is supposed to equal."""
    from sales_telegram_bot_data_pipeline_spark.functions.dialect import DUCKDB
    from sales_telegram_bot_data_pipeline_spark.operators.lm_quality import _logreg_sql

    con = _duck(SF_SMOKE)
    rows = con.sql(
        f"SELECT quality_prob, lang = 'en' FROM ({_logreg_sql(DUCKDB, 'documents')}) s"
    ).fetchall()
    con.close()
    pos = [v for v, p in rows if p]
    neg = [v for v, p in rows if not p]
    conc = sum(1 for a in pos for b in neg if a > b)
    ties = sum(1 for a in pos for b in neg if a == b)
    expect = (conc + 0.5 * ties) / (len(pos) * len(neg))

    out = q.REGISTRY["roc_auc_quality_score"].fn(spark, SF_SMOKE).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_pos == len(pos) and r.n_neg == len(neg)
    assert abs(r.auc - expect) < 1e-6
    assert abs(r.gini - (2 * r.auc - 1)) < 2e-6


def test_welch_matches_numpy(spark):
    import numpy as np

    con = _duck(SF_SMOKE)
    data = {}
    for src, lens in con.sql(
        "SELECT source, list(n_chars) FROM documents GROUP BY source"
    ).fetchall():
        data[src] = np.asarray(lens, dtype=float)
    con.close()

    rows = q.REGISTRY["welch_ttest_sources"].fn(spark, SF_SMOKE).collect()
    assert rows, "no source pairs"
    seen = 0
    for r in rows:
        a, b = data[r.source_a], data[r.source_b]
        va, vb = a.var(ddof=1) / len(a), b.var(ddof=1) / len(b)
        t = (a.mean() - b.mean()) / math.sqrt(va + vb)
        df = (va + vb) ** 2 / (va**2 / (len(a) - 1) + vb**2 / (len(b) - 1))
        assert abs(r.t_stat - t) < 1e-5
        assert abs(r.welch_df - df) < 1e-4
        tcrit = 1.959964 + 2.372284 / df + 2.822404 / (df * df)
        assert r.significant_05 == (abs(t) > tcrit)
        seen += 1
    # all unordered source pairs present exactly once
    assert seen == len(data) * (len(data) - 1) // 2


def test_skyline_matches_naive_dominance(spark):
    from sales_telegram_bot_data_pipeline_spark.functions.dialect import DUCKDB
    from sales_telegram_bot_data_pipeline_spark.operators.evaluation import (
        _skyline_pts_sql,
    )

    con = _duck(SF_SMOKE)
    pts = con.sql(_skyline_pts_sql(DUCKDB, "documents")).fetchall()
    con.close()
    expect = {
        d
        for d, x, y in pts
        if not any(
            (qx > x and qy >= y) or (qx >= x and qy > y) for _, qx, qy in pts
        )
    }
    got = {r.doc_id for r in q.REGISTRY["skyline_pareto_docs"].fn(spark, SF_SMOKE).collect()}
    assert got == expect
    assert got, "skyline empty"


def test_kaplan_meier_matches_python_product_limit(spark):
    con = _duck(SF_SMOKE)
    durs = con.sql(
        """
        WITH firsts AS (
          SELECT o_custkey AS ck, MIN(CAST(o_orderdate AS DATE)) AS d1
          FROM orders GROUP BY o_custkey
        ),
        seconds AS (
          SELECT o.o_custkey AS ck,
                 MIN(CASE WHEN CAST(o.o_orderdate AS DATE) > f.d1
                          THEN CAST(o.o_orderdate AS DATE) END) AS d2,
                 MAX(f.d1) AS d1
          FROM orders o JOIN firsts f ON f.ck = o.o_custkey GROUP BY o.o_custkey
        ),
        h AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS hmax FROM orders)
        SELECT CASE WHEN d2 IS NOT NULL THEN datediff('day', d1, d2)
                    ELSE datediff('day', d1, h.hmax) END AS t,
               d2 IS NOT NULL AS ev
        FROM seconds CROSS JOIN h
        """
    ).fetchall()
    con.close()

    rows = q.REGISTRY["kaplan_meier_repurchase"].fn(spark, SF_SMOKE).collect()
    assert rows
    # python product-limit over the same durations
    times = sorted({t for t, _ in durs})
    surv, expect = 1.0, {}
    for t in times:
        at_risk = sum(1 for u, _ in durs if u >= t)
        d = sum(1 for u, e in durs if u == t and e)
        surv *= 1 - d / at_risk
        expect[t] = (at_risk, d, surv)
    assert [r.t_days for r in rows] == times
    prev = 1.0 + 1e-9
    for r in rows:
        at_risk, d, s = expect[r.t_days]
        assert (r.at_risk, r.n_event) == (at_risk, d)
        assert abs(r.survival - s) < 5e-6
        assert r.survival <= prev  # monotone non-increasing
        prev = r.survival
    assert rows[0].at_risk == len(durs)
