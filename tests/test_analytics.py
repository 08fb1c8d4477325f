"""Property tests for operators/analytics.py beyond the oracle parity sweep:
internal consistency identities (marginals, quintile balance, probability
bounds), golden monotone-input Spearman, distributed prefix-sum vs a serial
reference, and empty-input guards for the rank-based operators."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from sales_telegram_bot_data_pipeline_spark.operators.analytics import (
    K_ANON_THRESHOLD,
    rfm_segmentation,
    spearman_rank_correlation,
)
from sales_telegram_bot_data_pipeline_spark.operators.scalars_extra import range_prefix_summed
from sales_telegram_bot_data_pipeline_spark.queries import REGISTRY
from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table

from conftest import SF_SMOKE


def test_association_rules_identities(spark):
    rows = REGISTRY["association_rules_lift"].fn(spark, SF_SMOKE).collect()
    assert rows, "sf0.001 must produce at least one rule"
    for r in rows:
        assert r.brand_a < r.brand_b
        assert 0 < r.support <= 1
        assert 0 < r.conf_a_to_b <= 1
        assert 0 < r.conf_b_to_a <= 1
        assert r.lift > 0
        # lift = conf(a->b) / P(b): conf >= support always
        assert r.conf_a_to_b >= r.support - 1e-9
        assert r.conf_b_to_a >= r.support - 1e-9


def test_rfm_quintiles_balanced_and_complete(spark):
    out = rfm_segmentation(spark, SF_SMOKE)
    n_customers_with_orders = (
        load_table(spark, SF_SMOKE, "orders").select("o_custkey").distinct().count()
    )
    rows = out.collect()
    assert sum(r.n_customers for r in rows) == n_customers_with_orders
    for dim in ("r_score", "f_score", "m_score"):
        marg = {}
        for r in rows:
            marg[r[dim]] = marg.get(r[dim], 0) + r.n_customers
        assert set(marg) <= {1, 2, 3, 4, 5}
        # exact-rank quintiles: bucket sizes differ by at most 1
        lo = n_customers_with_orders // 5
        assert all(lo <= v <= lo + 1 for v in marg.values()), (dim, marg)


def test_chi2_marginals_consistent(spark):
    rows = REGISTRY["chi_squared_independence"].fn(spark, SF_SMOKE).collect()
    n_events = load_table(spark, SF_SMOKE, "events").count()
    assert sum(r.n_obs for r in rows) == n_events
    # expected counts under independence also total N (cells cover all obs)
    assert abs(sum(r.expected for r in rows) - n_events) < 1e-3
    assert all(r.contrib >= 0 for r in rows)
    assert all(0 <= r.dow <= 6 for r in rows)


def test_spearman_bounds_and_golden_monotone(spark, tmp_path):
    row = spearman_rank_correlation(spark, SF_SMOKE).collect()[0]
    assert -1.0 <= row.spearman_rho <= 1.0
    # golden: a strictly increasing y = f(x) yields rho == 1 exactly,
    # including under ties in neither variable
    d = str(tmp_path / "sf_mono")
    os.makedirs(d)
    spark.range(200).select(
        F.col("id").alias("l_quantity").cast("double"),
        (F.col("id") * 3 + 7).cast("double").alias("l_extendedprice"),
    ).write.parquet(os.path.join(d, "lineitem.parquet"))
    mono = spearman_rank_correlation(spark, d).collect()[0]
    assert mono.n_rows == 200
    assert mono.spearman_rho == 1.0
    # and a strictly decreasing relation yields exactly -1
    d2 = str(tmp_path / "sf_anti")
    os.makedirs(d2)
    spark.range(200).select(
        F.col("id").alias("l_quantity").cast("double"),
        (1000 - F.col("id") * 2).cast("double").alias("l_extendedprice"),
    ).write.parquet(os.path.join(d2, "lineitem.parquet"))
    anti = spearman_rank_correlation(spark, d2).collect()[0]
    assert anti.spearman_rho == -1.0


def test_range_prefix_sum_matches_serial(spark):
    # deterministic pseudo-random positive weights keyed by id
    df = spark.range(1000).select(
        F.col("id").alias("v"), (F.pmod(F.col("id") * 2654435761, F.lit(97)) + 1).alias("c")
    )
    out, total = range_prefix_summed(df, ["v"], "c")
    got = {r["v"]: r["cum_before"] for r in out.collect()}
    rows = sorted((r["v"], r["c"]) for r in df.collect())
    acc = 0
    for v, c in rows:
        assert got[v] == acc, v
        acc += c
    assert total == acc


def test_range_prefix_pair_null_partition_sums(spark):
    """ADVICE r14: a derived pass-2 summand that is NULL for a whole
    partition must coalesce to 0 in the offset accumulation (the old
    _off_map raised TypeError on acc += None) and behave as SUM does —
    NULLs contribute nothing to the prefix."""
    from sales_telegram_bot_data_pipeline_spark.operators.scalars_extra import (
        range_prefix_summed_pair,
    )

    df = spark.range(100).select(F.col("id").alias("v"), F.lit(1).alias("c"))

    def derive(frame, total):
        # NULL everywhere except the top 10 rows: with 8 range partitions
        # every low partition's pass-2 sum is NULL
        return frame.withColumn(
            "c2", F.when(F.col("v") >= 90, F.lit(2)).otherwise(F.lit(None))
        ), "c2"

    out, total = range_prefix_summed_pair(df, ["v"], "c", derive)
    assert total == 100
    got = {r["v"]: r["cum_before2"] for r in out.collect()}
    for v in range(100):
        assert got[v] == max(0, (v - 90)) * 2, v


def test_rank_ops_empty_input(spark, tmp_path):
    d = str(tmp_path / "sf_empty")
    os.makedirs(d)
    for t in ("orders", "lineitem"):
        load_table(spark, SF_SMOKE, t).limit(0).write.parquet(
            os.path.join(d, f"{t}.parquet")
        )
    assert rfm_segmentation(spark, d).count() == 0
    assert spearman_rank_correlation(spark, d).count() == 0


def test_k_anonymity_accounts_for_every_customer(spark):
    rows = REGISTRY["k_anonymity_audit"].fn(spark, SF_SMOKE).collect()
    n_cust = load_table(spark, SF_SMOKE, "customer").count()
    assert sum(r.n_customers for r in rows) == n_cust
    for r in rows:
        assert r.at_risk == (r.k_band < K_ANON_THRESHOLD)
        assert r.n_groups <= r.n_customers
