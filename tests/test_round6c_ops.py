"""Semantic checks for the third round-6 operator batch beyond the oracle
match: PQ-ADC exactness when the candidate pool covers the corpus (the
rerank is exact cosine, so PQ == brute force at full fan-out), and the
Matryoshka audit's built-in full-dimension self-check."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sales_telegram_bot_data_pipeline_spark.operators import similarity as sim
from sales_telegram_bot_data_pipeline_spark.operators.similarity import (
    _pq_sql,
    SPARK,
    TOP_K,
    N_QUERIES,
    knn_cosine_bruteforce,
    knn_cosine_pq,
)
from sales_telegram_bot_data_pipeline_spark.queries import REGISTRY
from sales_telegram_bot_data_pipeline_spark.sources.tables import table_view

from conftest import SF_SMOKE


def test_pq_full_candidate_pool_equals_bruteforce(spark, monkeypatch):
    """With PQ_CAND >= corpus size the ADC stage keeps everything and the
    exact-cosine rerank must reproduce brute force bit-for-bit — pins that
    the approximation lives ONLY in candidate selection, never scoring."""
    monkeypatch.setattr(sim, "PQ_CAND", 10_000)
    full = spark.sql(_pq_sql(SPARK, table_view(spark, SF_SMOKE, "embeddings"))).collect()
    bf = knn_cosine_bruteforce(spark, SF_SMOKE).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert {key(r): (r["neighbor_id"], r["cosine"]) for r in full} == {
        key(r): (r["neighbor_id"], r["cosine"]) for r in bf
    }


def test_pq_shape_and_rerank_scores_exact(spark):
    """Default PQ output: TOP_K dense ranks per query; every returned
    cosine equals the exact cosine brute force computes for that same
    (query, neighbor) pair — ADC never leaks into the emitted score."""
    rows = knn_cosine_pq(spark, SF_SMOKE).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
    assert set(per_q) == set(range(N_QUERIES))
    bf_scores = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in spark.sql(
            sim._rank_window_sql(
                sim._bruteforce_scored(SPARK, table_view(spark, SF_SMOKE, "embeddings")), k=10_000
            )
        ).collect()
    }
    for q, qrows in per_q.items():
        assert sorted(r["rank"] for r in qrows) == list(range(1, TOP_K + 1))
        ordered = sorted(qrows, key=lambda r: r["rank"])
        for a, b in zip(ordered, ordered[1:]):
            assert (a["cosine"], -a["neighbor_id"]) >= (b["cosine"], -b["neighbor_id"])
        for r in qrows:
            assert r["cosine"] == pytest.approx(
                bf_scores[(r["query_id"], r["neighbor_id"])], abs=1e-9
            )


def test_matryoshka_full_dim_self_check(spark):
    rows = {r["dim"]: r for r in REGISTRY["matryoshka_recall_audit"].fn(spark, SF_SMOKE).collect()}
    assert set(rows) == set(sim._MRL_DIMS)
    full = max(sim._MRL_DIMS)
    assert rows[full]["recall_at_k"] == 1.0
    for r in rows.values():
        assert 0.0 <= r["recall_at_k"] <= 1.0
        assert r["n_truth"] == N_QUERIES * TOP_K
        assert r["n_hit"] <= r["n_truth"]


def test_kcore_converged_and_matches_python_peel(spark):
    """At smoke scale the unrolled rounds converge (flag pinned TRUE), and
    the survivor set equals an independent Python peel to fixed point over
    the same edge list."""
    from sales_telegram_bot_data_pipeline_spark.operators.dedup import (
        KCORE_K,
        kcore_decomposition,
    )
    from sales_telegram_bot_data_pipeline_spark.operators.similarity import (
        _neardup_banded_sql,
    )

    rows = kcore_decomposition(spark, SF_SMOKE).collect()
    assert rows, "2-core should be non-empty at smoke scale"
    assert all(r["converged"] for r in rows)
    assert all(r["core_degree"] >= KCORE_K for r in rows)

    pairs = spark.sql(
        _neardup_banded_sql(SPARK, table_view(spark, SF_SMOKE, "embeddings"))
    ).collect()
    adj: dict[int, set] = {}
    for p in pairs:
        adj.setdefault(p["vec_a"], set()).add(p["vec_b"])
        adj.setdefault(p["vec_b"], set()).add(p["vec_a"])
    alive = set(adj)
    while True:
        drop = {v for v in alive if len(adj[v] & alive) < KCORE_K}
        if not drop:
            break
        alive -= drop
    assert {r["vec_id"] for r in rows} == alive
    for r in rows:
        assert r["core_degree"] == len(adj[r["vec_id"]] & alive)


def test_gopher_gate_metrics_consistent(spark):
    from sales_telegram_bot_data_pipeline_spark.operators.textops import (
        GOPHER_MAX_MEAN_WLEN,
        GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_FRAC,
        GOPHER_MIN_MEAN_WLEN,
        GOPHER_MIN_STOP_HITS,
        GOPHER_MIN_WORDS,
    )

    rows = REGISTRY["gopher_quality_gate"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 500
    for r in rows:
        expect = (
            GOPHER_MIN_WORDS <= r["n_words"] <= GOPHER_MAX_WORDS
            and GOPHER_MIN_MEAN_WLEN <= r["mean_word_len"] <= GOPHER_MAX_MEAN_WLEN
            and r["symbol_word_ratio"] <= GOPHER_MAX_SYMBOL_RATIO
            and r["alpha_word_frac"] >= GOPHER_MIN_ALPHA_FRAC
            and r["n_stop_hits"] >= GOPHER_MIN_STOP_HITS
        )
        assert r["gopher_pass"] == expect
        if r["doc_id"] % 13 == 0:
            assert r["symbol_word_ratio"] > 0  # injected dirt fired
            assert r["alpha_word_frac"] < 1.0
    passes = {r["gopher_pass"] for r in rows}
    assert passes == {True, False}, "gate should split the corpus"


def test_softdedup_weights_semantics(spark):
    from sales_telegram_bot_data_pipeline_spark.operators.dedup import (
        softdedup_weights,
    )

    rows = softdedup_weights(spark, SF_SMOKE).collect()
    assert len(rows) == 500
    paired = set()
    for p in REGISTRY["dedup_minhash_lsh"].fn(spark, SF_SMOKE).collect():
        paired.add(p["doc_a"])
        paired.add(p["doc_b"])
    for r in rows:
        common = r["n_exact_copies"] + r["n_neardup_partners"]
        assert common >= 1
        assert r["soft_weight"] == pytest.approx(round(1.0 / common, 6))
        if r["doc_id"] in paired:
            assert r["n_neardup_partners"] >= 1
        if common == 1:
            assert r["soft_weight"] == 1.0
    assert any(r["soft_weight"] < 1.0 for r in rows)


def test_partition_pruned_scan_plan(spark):
    """The partition-column predicate must prune at the driver: the scan
    node carries it as PartitionFilters, and the number of row-groups/files
    actually read covers only the PRUNE_KEEP directories."""
    from sales_telegram_bot_data_pipeline_spark.sources.layout import (
        PRUNE_KEEP,
        _scratch,
        read_orders_pruned,
        write_orders_partitioned,
    )
    from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table

    orders = load_table(spark, SF_SMOKE, "orders")
    path = _scratch(spark, "part_orders_plan", SF_SMOKE)
    write_orders_partitioned(orders, path)
    pruned = read_orders_pruned(spark, path)
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    # the predicate must appear in PartitionFilters (driver-side pruning),
    # not merely as a data filter evaluated per row after reading
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "o_orderpriority" in pf_line
    # and the pruned read returns exactly the base-table subset
    want = orders.where(F.col("o_orderpriority").isin(*PRUNE_KEEP)).count()
    assert pruned.count() == want


def test_orc_roundtrip_preserves_values(spark):
    from sales_telegram_bot_data_pipeline_spark.sources.layout import (
        orc_corpus_roundtrip,
    )
    from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table

    got = orc_corpus_roundtrip(spark, SF_SMOKE).collect()
    want = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
        .collect()
    )
    assert got == want
