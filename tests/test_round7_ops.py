"""Round-7 operator pins: dynamic partition pruning (the runtime
scan-killer next to static pruning), the streaming replay session
right-sizing invariants, and property tests for the round-7 analytics /
temporal / curation additions."""

from __future__ import annotations

import pytest

from sales_telegram_bot_data_pipeline_spark import queries as q

from conftest import SF_SMOKE, SF_ORACLE


def _formatted_plan(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_dynamic_partition_pruning_in_plan(spark):
    """The fact scan must carry a dynamicpruning subquery in its
    PartitionFilters: the dim-side tier filter is not on the partition
    column, so only RUNTIME pruning (broadcast reuse) can skip the cold
    directories — a static PartitionFilters entry alone would mean Catalyst
    folded the dim away and the query stopped proving DPP."""
    df = q.REGISTRY["dynamic_partition_pruned_join"].fn(spark, SF_SMOKE)
    df.collect()
    plan = _formatted_plan(df)
    assert "dynamicpruningexpression" in plan.lower(), (
        "fact scan lost its dynamic partition pruning filter"
    )
    assert "PartitionFilters" in plan


def test_dpp_join_prunes_to_hot_priorities(spark):
    rows = q.REGISTRY["dynamic_partition_pruned_join"].fn(spark, SF_SMOKE).collect()
    prios = [r.o_orderpriority for r in rows]
    assert prios == sorted(prios)
    assert all(p.startswith(("1-", "2-")) for p in prios)
    assert all(r.n_orders > 0 for r in rows)


def test_stream_session_is_isolated(spark):
    """stream_session must clone, not mutate: the shared session's conf is
    untouched (the bench warm-up runs 8 queries concurrently in one
    session) while the clone carries the right-sized state partitioning."""
    from sales_telegram_bot_data_pipeline_spark.streaming.windows import (
        STREAM_STATE_PARTITIONS,
        stream_session,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    s = stream_session(spark)
    assert s is not spark
    assert s.conf.get("spark.sql.shuffle.partitions") == str(STREAM_STATE_PARTITIONS)
    assert s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled") == "false"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true") != "false"


def test_theilsen_agrees_with_ols_direction(spark):
    """Robust and OLS trend must agree on SIGN and rough magnitude on the
    synthetic corpus (no adversarial outliers there) — a unit/quantization
    slip (cents vs dollars, week vs day) breaks this immediately."""
    ts = q.REGISTRY["theilsen_trend_robust"].fn(spark, SF_ORACLE).collect()[0]
    ols = q.REGISTRY["revenue_trend_ols"].fn(spark, SF_ORACLE).collect()[0]
    weekly_ols_slope = ols.slope_per_day * 7
    assert ts.n_pairs == ts.n_weeks * (ts.n_weeks - 1) // 2
    # same order of magnitude and not wildly apart (loose: different
    # estimators, but the synthetic revenue series has no heavy outliers)
    assert abs(ts.slope_per_week - weekly_ols_slope) < max(
        5000.0, 0.5 * abs(weekly_ols_slope) + 5000.0
    )


def test_t_closeness_buckets_partition_all_groups(spark):
    rows = q.REGISTRY["t_closeness_audit"].fn(spark, SF_ORACLE).collect()
    assert rows, "expected at least one t-distance bucket"
    # TVD lives in [0, 1] -> buckets 0..20
    assert all(0 <= r.t_bucket <= 20 for r in rows)
    # at_risk consistent with the bucket's lower edge vs threshold
    from sales_telegram_bot_data_pipeline_spark.operators.analytics import T_CLOSENESS_THRESHOLD

    for r in rows:
        if r.t_bucket * 0.05 > T_CLOSENESS_THRESHOLD:
            assert r.at_risk


def test_control_chart_flags_are_beyond_sigma(spark):
    from sales_telegram_bot_data_pipeline_spark.operators.analytics import CCHART_SIGMA

    rows = q.REGISTRY["control_chart_anomalies"].fn(spark, SF_ORACLE).collect()
    for r in rows:
        assert abs(r.z_score) > CCHART_SIGMA - 1e-6


def test_asof_forward_is_first_purchase_within_horizon(spark):
    from sales_telegram_bot_data_pipeline_spark.operators.temporal import ASOF_FWD_HORIZON_DAYS

    rows = q.REGISTRY["asof_join_forward"].fn(spark, SF_SMOKE).collect()
    assert rows
    horizon_s = ASOF_FWD_HORIZON_DAYS * 86400
    for r in rows:
        delta = (r.purchase_ts - r.view_ts).total_seconds()
        assert 0 <= delta <= horizon_s
    # view_ids unique: each view matches at most ONE (the first) purchase
    ids = [r.view_id for r in rows]
    assert len(ids) == len(set(ids))


def test_multitouch_credit_sums_to_purchases(spark):
    """Linear attribution conserves credit: summed credited conversions
    equal the number of attributed purchases (up to micro-unit rounding
    of 1/n per touch)."""
    rows = q.REGISTRY["multitouch_attribution_credit"].fn(spark, SF_ORACLE).collect()
    total_credit = sum(r.credited_conversions for r in rows)
    n_purchases = 0
    seen = {}
    for r in rows:
        seen[r.touch_class] = r
    # purchases counted once each: 'only' purchases + multi-touch ones
    # (each multi-touch purchase has exactly one 'first' row)
    n_purchases = (seen.get("only").n_purchases if "only" in seen else 0) + (
        seen.get("first").n_purchases if "first" in seen else 0
    )
    assert total_credit == pytest.approx(n_purchases, abs=0.01 * max(n_purchases, 1))
    for r in rows:
        if r.touch_class in ("first", "last"):
            # one first and one last touch per multi-touch purchase
            assert r.n_touches == r.n_purchases


def test_heatmap_covers_week_and_shares_sum_to_one(spark):
    rows = q.REGISTRY["activity_heatmap_dow_hour"].fn(spark, SF_ORACLE).collect()
    assert {r.dow for r in rows} == set(range(7))
    assert all(0 <= r.hour_of_day <= 23 for r in rows)
    assert sum(r.share for r in rows) == pytest.approx(1.0, abs=1e-3)
    assert {r.dow_name for r in rows} == {"mon", "tue", "wed", "thu", "fri", "sat", "sun"}


def test_negative_sampling_no_accidental_positives(spark):
    from sales_telegram_bot_data_pipeline_spark.operators.curation import NEG_K
    from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table

    neg = q.REGISTRY["negative_sampling_plan"].fn(spark, SF_SMOKE)
    li = load_table(spark, SF_SMOKE, "lineitem")
    orders = load_table(spark, SF_SMOKE, "orders")
    pos = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    leaked = neg.join(
        pos,
        (neg.o_custkey == pos.o_custkey) & (neg.neg_partkey == pos.l_partkey),
    ).count()
    assert leaked == 0
    rows = neg.collect()
    assert rows
    assert all(1 <= r.neg_idx <= NEG_K for r in rows)
    # deterministic: same plan on re-run
    again = q.REGISTRY["negative_sampling_plan"].fn(spark, SF_SMOKE).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]


def test_span_plan_offsets_in_bounds(spark):
    from sales_telegram_bot_data_pipeline_spark.operators.curation import (
        SPAN_MASK_RATIO_PCT,
        SPAN_MEAN_LEN,
    )

    rows = q.REGISTRY["span_corruption_plan"].fn(spark, SF_SMOKE).collect()
    assert rows
    per_doc: dict[int, list] = {}
    for r in rows:
        assert 0 <= r.start_tok < r.n_tokens
        assert 1 <= r.span_len <= SPAN_MEAN_LEN
        assert r.start_tok + r.span_len <= r.n_tokens
        per_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, spans in per_doc.items():
        n_tokens = spans[0].n_tokens
        want_spans = (n_tokens * SPAN_MASK_RATIO_PCT) // (100 * SPAN_MEAN_LEN)
        assert len(spans) == want_spans
        assert sorted(s.span_idx for s in spans) == list(range(1, want_spans + 1))


def test_unpivot_metrics_long_shape(spark):
    rows = q.REGISTRY["unpivot_doc_metrics"].fn(spark, SF_SMOKE).collect()
    assert rows and len(rows) % 3 == 0
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, set()).add(r.metric)
    assert all(m == {"n_chars", "n_digits", "n_words"} for m in per_doc.values())


def test_rendezvous_removal_moves_only_removed_shard(spark):
    from sales_telegram_bot_data_pipeline_spark.operators.scale import HRW_REMOVED, HRW_SHARDS

    rows = q.REGISTRY["rendezvous_shard_stability"].fn(spark, SF_SMOKE).collect()
    assert {r.shard for r in rows} <= set(range(HRW_SHARDS))
    for r in rows:
        if r.shard == HRW_REMOVED:
            assert r.n_moved == r.n_docs  # everything on the dead shard moves
        else:
            assert r.n_moved == 0  # HRW's minimal-disruption guarantee
