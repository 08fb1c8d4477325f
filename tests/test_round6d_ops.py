"""Property tests for the round-6 second batch: BFS hop distances, the
bucketed epsilon band join, the Misra-Gries candidate-superset guarantee
(adversarial, vocabulary >> capacity), and MMR re-ranking invariants."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sales_telegram_bot_data_pipeline_spark.operators.analytics import (
    BAND_EPS,
    band_join_price_neighbors,
)
from sales_telegram_bot_data_pipeline_spark.operators.curation import (
    MG_CAPACITY,
    MG_TOPK,
    misra_gries_topk,
)
from sales_telegram_bot_data_pipeline_spark.operators.dedup import (
    BFS_MAX_HOPS,
    BFS_SEED_MOD,
    graph_bfs_hops,
)
from sales_telegram_bot_data_pipeline_spark.operators.retrieval import (
    MMR_K,
    mmr_diversified_topk,
)
from sales_telegram_bot_data_pipeline_spark.queries import REGISTRY
from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table, table_view

from conftest import SF_SMOKE


def test_bfs_seeds_at_zero_and_bounded(spark):
    rows = graph_bfs_hops(spark, SF_SMOKE).collect()
    dist = {r.doc_id: r.hops for r in rows}
    seeds = {
        r.doc_id
        for r in load_table(spark, SF_SMOKE, "documents")
        .where(F.col("doc_id") % BFS_SEED_MOD == 0)
        .collect()
    }
    assert seeds, "sf0.001 must contain at least one seed"
    assert all(dist[s] == 0 for s in seeds)
    assert all(0 <= h <= BFS_MAX_HOPS for h in dist.values())
    # non-seeds can only be reached via an edge: hops strictly positive
    assert all(d >= 1 for i, d in dist.items() if i not in seeds)


def test_band_join_gap_within_epsilon(spark):
    rows = band_join_price_neighbors(spark, SF_SMOKE).collect()
    assert rows, "sf0.001 must produce at least one banded pair"
    for r in rows:
        assert r.n_pairs > 0
        assert 0 <= r.avg_gap <= BAND_EPS + 1e-9


def test_misra_gries_adversarial_superset(spark, tmp_path):
    """Vocabulary ~8x capacity with a planted heavy head: the exact-recount
    output must equal the true top-k even though every partition's summary
    evicts aggressively."""
    d = str(tmp_path / "sf_mg")
    os.makedirs(d)
    n_noise = MG_CAPACITY * 8
    # 40 heavy words appearing 300x each, plus a long unique-ish tail
    heavy = spark.range(40 * 300).select(
        F.concat(F.lit("heavy"), (F.col("id") % 40).cast("string")).alias("w")
    )
    noise = spark.range(n_noise).select(
        F.concat(F.lit("noise"), F.col("id").cast("string")).alias("w")
    )
    docs = (
        heavy.unionAll(noise)
        .groupBy((F.monotonically_increasing_id() % 64).alias("g"))
        .agg(F.concat_ws(" ", F.collect_list("w")).alias("text"))
        .select(F.col("g").alias("doc_id"), "text")
    )
    docs.repartition(8).write.parquet(os.path.join(d, "documents.parquet"))
    got = [(r.word, r.n) for r in misra_gries_topk(spark, d).collect()]
    truth = [
        (r.word, r.n)
        for r in spark.read.parquet(os.path.join(d, "documents.parquet"))
        .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(MG_TOPK)
        .collect()
    ]
    assert got == truth


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_misra_gries_parity_precondition_holds_on_testdata(spark, sf_dir):
    """The misra_gries_topk == exact-top-k oracle equality is only guaranteed
    when every true top-k token has global frequency > N/(capacity+1): by
    pigeonhole such a token exceeds n_p/(capacity+1) in at least one
    partition, so it survives that partition's summary and reaches the exact
    recount.  Assert the precondition on each parity-swept testdata scale so
    a distribution shift (near-uniform wide vocabulary) fails HERE with the
    real reason instead of as an opaque oracle mismatch."""
    words = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("word"))
        .where(F.length("word") > 0)
    )
    counts = words.groupBy("word").count()
    total = words.count()
    kth = (
        counts.orderBy(F.desc("count"), "word").limit(MG_TOPK).collect()[-1]["count"]
    )
    threshold = total / (MG_CAPACITY + 1)
    assert kth > threshold, (
        f"MG precondition violated at {sf_dir}: k-th top count {kth} <= "
        f"N/(capacity+1) = {threshold:.1f}; oracle equality no longer implied"
    )


def test_mmr_invariants(spark):
    rows = mmr_diversified_topk(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= MMR_K
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    assert len({r.vec_id for r in rows}) == len(rows)
    # first pick is pure relevance
    assert rows[0].mmr_score == rows[0].relevance
    # marginal scores are non-increasing down the ranking
    scores = [r.mmr_score for r in rows]
    assert all(a >= b - 1e-9 for a, b in zip(scores, scores[1:]))
    # deterministic under re-run
    again = mmr_diversified_topk(spark, SF_SMOKE).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]


def test_ols_and_benford_invariants(spark):
    ols = REGISTRY["revenue_trend_ols"].fn(spark, SF_SMOKE).collect()[0]
    assert ols.n_days > 0
    assert 0.0 <= ols.r_squared <= 1.0
    ben = REGISTRY["benford_first_digit_audit"].fn(spark, SF_SMOKE).collect()
    assert {r.digit for r in ben} <= set(range(1, 10))
    assert abs(sum(r.share for r in ben) - 1.0) < 1e-4
    assert all(r.abs_deviation >= 0 for r in ben)


def test_scd2_build_intervals_contiguous(spark):
    from collections import defaultdict

    rows = REGISTRY["scd2_build_from_events"].fn(spark, SF_SMOKE).collect()
    assert rows
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    for user, hist in by_user.items():
        cur = [r for r in hist if r.is_current]
        assert len(cur) == 1, user
        assert cur[0].valid_to is None
        hist.sort(key=lambda r: r.valid_from)
        for a, b in zip(hist, hist[1:]):
            assert a.valid_to == b.valid_from, user  # contiguous, no gaps


def test_compaction_plan_file_stats_match_duckdb(spark):
    """The _metadata.file_path per-file row counts must agree with an
    independent DuckDB filename=true scan of the same scratch dataset."""
    import duckdb
    from pyspark.sql import functions as F

    from sales_telegram_bot_data_pipeline_spark.sources.layout import _scratch, file_compaction_plan

    file_compaction_plan(spark, SF_SMOKE).collect()  # (re)writes the scratch dataset
    path = _scratch(spark, "part_docs", SF_SMOKE)
    got = {
        r.fp: r.n
        for r in spark.read.parquet(path)
        .groupBy(F.col("_metadata.file_path").alias("fp"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    want = {
        fn: n
        for fn, n in duckdb.sql(
            f"SELECT filename, COUNT(*) FROM read_parquet('{path}/*/*.parquet',"
            " filename=true, hive_partitioning=true) GROUP BY filename"
        ).fetchall()
    }
    # normalize: spark prints file:/abs/path URIs, duckdb plain paths
    norm = lambda p: p.removeprefix("file://").removeprefix("file:")
    assert {norm(k): v for k, v in got.items()} == {norm(k): v for k, v in want.items()}


def test_kmeans_separation_nonneg_and_covers_corpus(spark):
    from sales_telegram_bot_data_pipeline_spark.operators.similarity import kmeans_separation_audit
    from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table as _lt

    rows = kmeans_separation_audit(spark, SF_SMOKE).collect()
    assert rows
    n_vecs = _lt(spark, SF_SMOKE, "embeddings").count()
    assert sum(r.n_members for r in rows) == n_vecs
    # own-centroid cosine >= best other (assignment is argmax): margins are
    # non-negative up to the 1e-6 quantization of the two rounding paths
    assert all(r.mean_margin >= -1e-6 for r in rows)


def test_schema_contract_green_on_testdata(spark):
    from sales_telegram_bot_data_pipeline_spark.operators.analytics import schema_contract_audit

    rows = schema_contract_audit(spark, SF_SMOKE).collect()
    by_table = {}
    for r in rows:
        by_table.setdefault(r.table_name, []).append(r.status)
    # canonical testdata satisfies the contract: one 'ok' row per table
    assert all(st == ["ok"] for st in by_table.values()), by_table
    # and a broken table is reported, not raised
    import os

    broken = schema_contract_audit(spark, "/nonexistent")
    assert {r.status for r in broken.collect()} == {"unreadable"}


def test_l_diversity_accounts_for_every_customer(spark):
    from sales_telegram_bot_data_pipeline_spark.operators.analytics import (
        L_DIVERSITY_THRESHOLD,
    )
    from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table as _lt

    rows = REGISTRY["l_diversity_audit"].fn(spark, SF_SMOKE).collect()
    assert sum(r.n_customers for r in rows) == _lt(spark, SF_SMOKE, "customer").count()
    assert all(r.at_risk == (r.l_value < L_DIVERSITY_THRESHOLD) for r in rows)
    assert all(1 <= r.l_value <= 5 for r in rows)  # 5 market segments


def test_twap_weights_by_duration_not_samples(spark, tmp_path):
    """Two states: value 10 held for 9 time units, value 0 held for 1 —
    TWAP must be 9, while the naive mean of samples would be 5."""
    import datetime as dt

    from sales_telegram_bot_data_pipeline_spark.operators.temporal import (
        TWAP_USER_MOD,
    )

    d = str(tmp_path / "sf_twap")
    os.makedirs(d)
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, TWAP_USER_MOD, "state", 10.0, "{}"),
        (2, t0 + dt.timedelta(seconds=9), TWAP_USER_MOD, "state", 0.0, "{}"),
        (3, t0 + dt.timedelta(seconds=10), TWAP_USER_MOD, "state", 99.0, "{}"),
    ]
    spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    ).write.parquet(os.path.join(d, "events.parquet"))
    out = REGISTRY["time_weighted_average_value"].fn(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_intervals == 2
    assert r.total_micros == 10_000_000
    assert r.twap_value == 9.0  # (10*9 + 0*1) / 10


def test_concentration_bounds_and_uniform_gini(spark, tmp_path):
    from sales_telegram_bot_data_pipeline_spark.operators.analytics import (
        revenue_concentration_audit,
    )

    r = revenue_concentration_audit(spark, SF_SMOKE).collect()[0]
    assert 0.0 <= r.gini < 1.0
    assert 0.0 < r.top1pct_share <= r.top10pct_share <= 1.0
    assert r.top10pct_share >= 0.1 - 1e-9  # top decile holds at least its share
    # golden: perfectly uniform revenue -> gini == 0 exactly
    d = str(tmp_path / "sf_uniform")
    os.makedirs(d)
    import datetime as dt

    spark.range(200).selectExpr(
        "id AS o_orderkey",
        "id AS o_custkey",
        "'O' AS o_orderstatus",
        "cast(100.0 as double) AS o_totalprice",
        "timestamp'2024-01-01' AS o_orderdate",
        "'1-URGENT' AS o_orderpriority",
    ).write.parquet(os.path.join(d, "orders.parquet"))
    u = revenue_concentration_audit(spark, d).collect()[0]
    assert u.gini == 0.0
    assert u.top10pct_share == 0.1


def test_readability_bounds(spark):
    rows = REGISTRY["readability_score"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.n_docs > 0
        # Flesch is unbounded in theory; sane corpus scores land here
        assert -200.0 < r.mean_flesch < 207.0


def test_bucketed_join_plan_is_shuffle_free(spark):
    """With broadcast disabled (forcing the SMJ both big facts get at
    scale), the bucketed join must read buckets pairwise: no
    ShuffleExchange anywhere between the two FileScans and the join."""
    from pyspark.sql import functions as F

    from sales_telegram_bot_data_pipeline_spark.sources.layout import _bucketed_tables

    t_orders, t_lineitem = _bucketed_tables(spark, SF_SMOKE)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = spark.table(t_orders)
        l = spark.table(t_lineitem)
        joined = l.join(o, l.l_orderkey == o.o_orderkey).groupBy("o_orderstatus").count()
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    join_pos = plan.find("SortMergeJoin")
    assert join_pos >= 0, plan[:1000]
    # the ONLY exchange allowed in the whole plan is the post-join groupBy;
    # the join inputs themselves must be exchange-free (bucketed scans)
    below_join = plan[join_pos:]
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert "SelectedBucketsCount" in plan  # bucket pruning metadata present


def test_epoch_shuffle_decorrelated_and_complete(spark):
    from sales_telegram_bot_data_pipeline_spark.operators.curation import (
        SHUFFLE_EPOCHS,
        SHUFFLE_SHARDS,
    )

    rows = REGISTRY["epoch_shuffle_plan"].fn(spark, SF_SMOKE).collect()
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    per_epoch = {}
    for r in rows:
        per_epoch[r.epoch] = per_epoch.get(r.epoch, 0) + r.n_docs
    assert per_epoch == {e: n_docs for e in range(SHUFFLE_EPOCHS)}
    # shards roughly balanced within each epoch (hash-uniform: 4x headroom)
    for r in rows:
        assert r.n_docs <= 4 * (n_docs // SHUFFLE_SHARDS + 1), r
    # cross-epoch decorrelation: if the epoch were not in the hash, every
    # doc would land on the SAME shard in all epochs — require that most
    # docs see more than one distinct shard across epochs (P[same shard
    # twice] = 1/16 per pair, so >90% of docs should see >=2 shards)
    from sales_telegram_bot_data_pipeline_spark.functions.dialect import SPARK as _SP
    from sales_telegram_bot_data_pipeline_spark.operators.curation import _epoch_shuffle_sql

    sql = _epoch_shuffle_sql(_SP, table_view(spark, SF_SMOKE, "documents"))
    head = sql.split("SELECT epoch, shard,")[0]
    per_doc = spark.sql(
        head
        + "SELECT doc_id, COUNT(DISTINCT shard) AS n_shards FROM assigned GROUP BY doc_id"
    ).collect()
    n_multi = sum(1 for r in per_doc if r.n_shards >= 2)
    assert n_multi > 0.9 * len(per_doc), f"{n_multi}/{len(per_doc)} docs saw >=2 shards"


def test_exact_n_sample_stable_and_nested(spark):
    from sales_telegram_bot_data_pipeline_spark.operators.curation import (
        SAMPLE_EXACT_N,
    )

    a = [r.doc_id for r in REGISTRY["deterministic_sample_exact_n"].fn(spark, SF_SMOKE).collect()]
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert len(a) == min(SAMPLE_EXACT_N, n_docs)
    assert len(set(a)) == len(a)
    b = [r.doc_id for r in REGISTRY["deterministic_sample_exact_n"].fn(spark, SF_SMOKE).collect()]
    assert a == b  # reproducible, order included


def test_ab_assignment_balanced_and_z_consistent(spark):
    r = REGISTRY["ab_conversion_ztest"].fn(spark, "/root/testdata/sf0.01").collect()[0]
    n = r.n_a + r.n_b
    assert abs(r.n_a - r.n_b) < 0.2 * n  # hash split is near-balanced
    assert 0.0 <= r.rate_a <= 1.0 and 0.0 <= r.rate_b <= 1.0
    assert abs(r.lift - round(r.rate_b - r.rate_a, 6)) <= 2e-6
    # A/A property: both arms draw from the same population, so the
    # deterministic split must NOT show a significant difference
    if r.z_score is not None:
        assert abs(r.z_score) < 4.0


def test_sla_shares_sum_to_one(spark):
    from collections import defaultdict

    rows = REGISTRY["shipping_sla_buckets"].fn(spark, SF_SMOKE).collect()
    by_pri = defaultdict(float)
    for r in rows:
        assert r.sla_bucket in {"0-7", "8-14", "15-30", "31+"}
        by_pri[r.o_orderpriority] += r.share
    assert by_pri and all(abs(s - 1.0) < 1e-4 for s in by_pri.values())


def test_discount_corr_bounds(spark):
    rows = REGISTRY["discount_quantity_correlation"].fn(spark, SF_SMOKE).collect()
    for r in rows:
        assert r.discount_qty_corr is None or -1.0 <= r.discount_qty_corr <= 1.0
        assert r.n_lines >= 30


def test_referential_integrity_clean_testdata(spark):
    rows = {r.relation: r for r in REGISTRY["referential_integrity_audit"].fn(spark, SF_SMOKE).collect()}
    assert set(rows) == {
        "lineitem_without_order",
        "order_without_customer",
        "order_without_lineitem",
    }
    # canonical TPC-H-ish testdata is referentially clean on the fact chain
    assert rows["lineitem_without_order"].n_violations == 0
    assert rows["order_without_customer"].n_violations == 0


def test_calibration_bins_cover_corpus(spark):
    from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table as _lt

    rows = REGISTRY["quality_score_calibration"].fn(spark, SF_SMOKE).collect()
    assert sum(r.n_docs for r in rows) == _lt(spark, SF_SMOKE, "documents").count()
    for r in rows:
        assert 0 <= r.bin <= 9
        assert 0.0 <= r.mean_predicted <= 1.0
        assert 0.0 <= r.observed_pass_rate <= 1.0
        # the mean predicted prob must sit inside (or at the edge of) its bin
        assert r.bin / 10 - 1e-6 <= r.mean_predicted <= (r.bin + 1) / 10 + 1e-6


def test_neyman_allocation_sums_near_budget(spark):
    from sales_telegram_bot_data_pipeline_spark.operators.curation import (
        NEYMAN_BUDGET,
    )

    rows = REGISTRY["neyman_allocation_plan"].fn(spark, SF_SMOKE).collect()
    assert rows
    total = sum(r.allocated for r in rows)
    # per-stratum rounding residue only
    assert abs(total - NEYMAN_BUDGET) <= len(rows)
    assert all(r.stddev_chars >= 0 for r in rows)


def test_mips_exactness_vs_numpy(spark):
    import numpy as np

    from sales_telegram_bot_data_pipeline_spark.operators.similarity import MIPS_K
    from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table as _lt

    got = [(r.rank, r.vec_id) for r in REGISTRY["mips_topk_audit"].fn(spark, SF_SMOKE).collect()]
    emb = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
           for r in _lt(spark, SF_SMOKE, "embeddings").collect()}
    qid = min(emb)
    dots = sorted(
        ((round(float(emb[qid] @ v), 6), -i) for i, v in emb.items() if i != qid),
        reverse=True,
    )[:MIPS_K]
    want = [(rk + 1, -negi) for rk, (_, negi) in enumerate(dots)]
    assert got == want
