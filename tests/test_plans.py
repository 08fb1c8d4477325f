"""Physical-plan assertions: the optimizations the engine is designed around
must actually appear in the executed plans (SURVEY.md §4).

These guard against regressions that would silently keep results correct but
destroy the 100 TB story: a broadcast join decaying to sort-merge, a filter
not reaching the parquet scan, a range join planning as nested-loop over the
full input, Python appearing in a native-expression pipeline.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sales_telegram_bot_data_pipeline_spark import queries as q

from conftest import SF_SMOKE


def _plan(spark, name: str) -> str:
    df = q.REGISTRY[name].fn(spark, SF_SMOKE)
    df.collect()  # finalize the AQE plan so codegen spans are visible
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_q1_filter_pushed_to_scan(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: only the 7 needed columns in ReadSchema
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_comment" not in read and "l_partkey" not in read


def test_dim_joins_are_broadcast(spark):
    for name in ("q5_revenue_by_nation", "broadcast_lookup_join", "topk_orders_per_segment"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name} lost its broadcast join"
        assert "SortMergeJoin" not in plan, f"{name} unexpectedly sort-merge joins"


def test_semi_anti_join_types(spark):
    assert "LeftSemi" in _plan(spark, "semi_join_active_customers")
    assert "LeftAnti" in _plan(spark, "anti_join_dormant_customers")


def test_interval_join_is_not_nested_loop(spark):
    plan = _plan(spark, "interval_join_shipments")
    assert "BroadcastNestedLoopJoin" not in plan, (
        "range join must stay a bucketed equi-join, not O(n*m) nested loop"
    )
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_topk_is_take_ordered(spark):
    plan = _plan(spark, "topk_orders_global")
    assert "TakeOrderedAndProject" in plan, "global top-k must not global-sort"


def test_native_pipelines_have_no_python(spark):
    # scalar suites must stay JVM-side (whole-stage codegen, no Python UDFs)
    for name in ("price_dispatcher_suite", "preprocess_text_normalize", "dedup_simhash"):
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
            f"{name} fell off the JVM into Python"
        )
        assert "codegen id" in plan, f"{name} has no whole-stage-codegen span"


def test_q1_uses_whole_stage_codegen_and_partial_agg(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "codegen id" in plan
    # partial (map-side) aggregation before the exchange
    assert plan.count("HashAggregate") >= 2


def test_sort_merge_join_available_when_broadcast_disabled(spark):
    # the engine exposes the full join-strategy surface: with broadcast off,
    # the same logical plan must execute as a shuffle join and stay correct
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = q.REGISTRY["broadcast_lookup_join"].fn(spark, SF_SMOKE)
        # q builds with explicit F.broadcast hint → still broadcast; strip by re-joining
        from pyspark.sql import functions as F

        from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table

        orders = load_table(spark, SF_SMOKE, "orders")
        cust = load_table(spark, SF_SMOKE, "customer")
        j = orders.join(cust, orders.o_custkey == cust.c_custkey)
        plan = j._sc._jvm.PythonSQLUtils.explainString(j._jdf.queryExecution(), "formatted")
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert j.count() > 0
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))


def test_knn_topk_is_staged_and_bounded(spark):
    # staged top-k: the scored corpus must NOT funnel through a global
    # per-query ranking window (N_QUERIES reducers each sorting |corpus|),
    # and no stage may hold an O(|partition|) aggregation buffer
    # (collect_list); ranking goes through spillable ROW_NUMBER windows —
    # stage 1 partitioned by (query_id, pid), the query_id-only window only
    # above the K*FOLD-bounded merge.
    import re

    for name in ("knn_cosine_bruteforce", "knn_cosine_lsh_bucketed"):
        plan = _plan(spark, name)
        assert "collect_list" not in plan, f"{name} buffers a whole partition in memory"
        parts = re.findall(r"windowspecdefinition\(([^)]*?), [a-z_]+#\d+[L]? (?:ASC|DESC)", plan)
        assert parts, f"{name} lost its staged ranking windows"
        local = [p for p in parts if "pid#" in p]
        global_only = [p for p in parts if "pid#" not in p and "_w" not in p]
        assert local, f"{name} stage-1 window is not partition-local (no pid key)"
        assert len(global_only) < len(parts), (
            f"{name} ranks ONLY via a global per-query window"
        )


def test_bucketed_join_has_no_exchange(spark):
    """Co-located bucketed join: both sides written bucketBy(key) join with
    ZERO Exchange in the plan — the layout the engine prescribes for
    recurring fact-fact joins at 100 TB (shuffle paid once at write time)."""
    import uuid

    from sales_telegram_bot_data_pipeline_spark.operators.scale import write_bucketed
    from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table

    sfx = uuid.uuid4().hex[:8]
    t_orders, t_cust = f"b_orders_{sfx}", f"b_cust_{sfx}"
    write_bucketed(
        load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        t_orders, "o_custkey", buckets=8,
    )
    write_bucketed(
        load_table(spark, SF_SMOKE, "customer").select(
            F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
        ),
        t_cust, "o_custkey", buckets=8,
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table(t_orders).join(spark.table(t_cust), "o_custkey")
        assert j.count() > 0
        plan = j._sc._jvm.PythonSQLUtils.explainString(j._jdf.queryExecution(), "formatted")
        assert "Exchange" not in plan, "bucketed join still shuffles"
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # the unbucketed form of the same join MUST exchange — proves the
        # assertion above is the bucketing, not plan trivia
        o = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_custkey")
        c = load_table(spark, SF_SMOKE, "customer").select(F.col("c_custkey").alias("o_custkey"))
        p2 = (lambda d: d._sc._jvm.PythonSQLUtils.explainString(d._jdf.queryExecution(), "formatted"))(
            o.join(c, "o_custkey")
        )
        assert "Exchange" in p2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
        spark.sql(f"DROP TABLE IF EXISTS {t_cust}")


def test_sequence_packing_window_is_shard_partitioned(spark):
    """The packing cumsum must partition by shard (bounded partitions), not
    run a single global window."""
    plan = _plan(spark, "sequence_packing")
    specs = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert specs, "expected a Window node for the running offset"
    assert all("shard" in ln for ln in specs), (
        "packing window must be partitioned by shard, not global"
    )


def test_q4_exists_plans_as_semi_join(spark):
    plan = _plan(spark, "q4_late_orders_by_priority")
    assert "LeftSemi" in plan, "EXISTS must plan as a semi join"
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmeans_never_shuffles_whole_embeddings(spark):
    """Lloyd iterations operate on (vec_id, pos, unit) integer triples; no
    Exchange in the plan may carry the embedding array column."""
    plan = _plan(spark, "kmeans_lloyd")
    for ln in plan.splitlines():
        if ln.strip().startswith("Exchange"):
            assert "embedding" not in ln, f"embedding array crosses a shuffle: {ln}"


def test_attribution_join_is_user_keyed(spark):
    """The interval self-join must carry user_id as the equi-key (shuffle or
    broadcast hash join), never a nested-loop over the time bound alone."""
    plan = _plan(spark, "attribution_interval_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_lm_scoring_joins_are_broadcast_and_native(spark):
    """bigram_lm_score's model tables (target-subset uni/bigram counts)
    must broadcast against the corpus-bigram stream — the shape that keeps
    corpus text from shuffling at 100 TB — and the whole chain stays
    JVM-side (no Python)."""
    plan = _plan(spark, "bigram_lm_score")
    assert plan.count("BroadcastHashJoin") >= 2, "LM model joins lost broadcast"
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dsir_bucket_join_is_broadcast(spark):
    """The 4096-bucket stats table is O(B) by construction; its scoring
    join must be a broadcast, never a shuffle of the corpus features."""
    plan = _plan(spark, "dsir_importance")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_duplicate_spans_no_python_and_islands_window(spark):
    plan = _plan(spark, "dedup_duplicate_spans")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" in plan  # islands row_number
    assert "BroadcastNestedLoopJoin" not in plan


def test_sq8_rerank_joins_by_id_no_python(spark):
    plan = _plan(spark, "knn_cosine_sq8")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" not in plan or "BuildRight" in plan


def test_token_budget_single_window_no_join(spark):
    """Pure window-cumsum selection: no join at all, one shuffle to the
    source-partitioned window plus the output ordering."""
    plan = _plan(spark, "token_budget_selection")
    assert "Join" not in plan
    # one Window node (it prints in both the initial and final AQE plan)
    assert "Window" in plan and plan.count("Window (") <= 2


def test_hot_key_profile_is_take_ordered_no_global_sort(spark):
    plan = _plan(spark, "hot_key_profile")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "PythonUDF" not in plan


def test_source_cap_single_window_no_python(spark):
    plan = _plan(spark, "source_cap_sample")
    assert plan.count("Window") >= 1
    assert "PythonUDF" not in plan
    # one shuffle on source feeds the window; no join anywhere
    assert "SortMergeJoin" not in plan


def test_unpivot_is_local_expand(spark):
    plan = _plan(spark, "unpivot_flag_metrics")
    # unpivot plans as Expand/Generate over the aggregate — no extra join
    assert "Expand" in plan or "Generate" in plan
    assert "Join" not in plan


def test_json_variant_single_parse_no_python(spark):
    plan = _plan(spark, "json_variant_props")
    assert "PythonUDF" not in plan
    # the variant parse is projected once, not per extracted field
    assert plan.count("try_parse_json") <= 1


def test_incremental_dedup_probe_is_equi_join(spark):
    plan = _plan(spark, "dedup_incremental_lsh")
    # band-key probe must be an equi-join (hash or sort-merge), never a
    # nested-loop over the index
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_symspell_candidates_are_equi_join(spark):
    plan = _plan(spark, "symspell_name_correction")
    # SymSpell's whole point: candidate generation is a key equi-join, never
    # an all-pairs comparison, and the refine stays JVM-native
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PythonUDF" not in plan
    assert "levenshtein" in plan.lower()


def test_pit_join_is_keyed_not_range_only(spark):
    plan = _plan(spark, "pit_join_scd2")
    # the version-interval containment must ride a custkey equi-join as a
    # residual predicate — a range-only plan would nested-loop the corpus
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PythonUDF" not in plan


def test_mixture_weights_native_single_pass(spark):
    plan = _plan(spark, "mixture_weights_alpha")
    assert "PythonUDF" not in plan
    # the heavy side aggregates map-side before any join with the total
    assert "HashAggregate" in plan


def test_triangle_count_no_cartesian(spark):
    plan = _plan(spark, "triangle_count_neardup")
    # wedge + closure are equi-joins over the canonical edge list
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PythonUDF" not in plan


def test_column_profile_scans_once_not_per_column(spark):
    plan = _plan(spark, "column_profile_lineitem")
    # the stack() unpivot references the wide aggregate once; the CTE
    # UNION ALL form inlined to 18 scans of lineitem
    assert plan.count("Scan parquet") <= 3
    # exact multi-DISTINCT goes through a single Expand-based aggregate
    assert "Expand" in plan


def test_split_balance_joins_on_aggregates(spark):
    plan = _plan(spark, "split_balance_audit")
    assert "PythonUDF" not in plan
    assert "CartesianProduct" not in plan  # the tot join is a 1-row broadcast


def test_table_checksum_is_native_partial_agg(spark):
    plan = _plan(spark, "table_checksum_audit")
    assert "PythonUDF" not in plan
    # commutative checksums partial-aggregate map-side in every branch
    assert plan.count("HashAggregate") >= 3


def test_lateral_topk_decorrelates_to_window(spark):
    plan = _plan(spark, "lateral_topk_orders")
    # the per-row LATERAL form must not survive as per-row execution
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan  # decorrelated into the ranked-window plan


def test_q6_all_predicates_pushed_no_shuffle_join(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    # Q6's whole point: every predicate reaches the parquet scan
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "l_shipdate" in pushed and "l_quantity" in pushed
    assert "Join" not in plan  # scan→filter→agg only


def test_winnowing_selection_is_one_window_pass_no_join(spark):
    """The fixed-frame winnowing formulation must plan as window functions
    over ONE per-doc sort — no self-join, no cartesian, no Python."""
    import re

    plan = _plan(spark, "winnowing_fingerprint_density")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    # exactly one scan OPERATOR (the tree may print the shared subtree once
    # per referencing Window branch — same node id, one execution)
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1


def test_lsh_recall_final_plan_reads_materialized_pairs_only(spark):
    """Both pair relations are localCheckpoint-materialized, so the audit's
    executed plan must touch NO parquet (no shingle re-derivation)."""
    plan = _plan(spark, "lsh_recall_audit")
    assert "Scan parquet" not in plan
    assert "Generate" not in plan  # no explode re-run downstream


def test_countmin_builds_vocab_once(spark):
    plan = _plan(spark, "countmin_heavy_hitters")
    assert "Scan parquet" not in plan  # vocab materialized upstream


def test_hybrid_rrf_arms_are_bounded(spark):
    """Each fusion arm ends in a top-k (GlobalLimit/TakeOrdered) before the
    FULL OUTER fusion; the plan must not contain a cartesian product."""
    plan = _plan(spark, "hybrid_rrf_retrieval")
    assert "CartesianProduct" not in plan
    assert ("TakeOrderedAndProject" in plan) or ("GlobalLimit" in plan)
    assert "FullOuter" in plan or "full_outer" in plan.lower()


def test_snapshot_diff_join_input_is_key_hash_projection(spark):
    """Each snapshot side must collapse to (doc_id, content_hash) BEFORE the
    join: the scans' ReadSchema carries only doc_id + text, and no other
    document column survives into the join."""
    plan = _plan(spark, "snapshot_diff_audit")
    assert "lang" not in plan and "n_chars" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_topk_window_uses_group_limit_pushdown(spark):
    """Spark's WindowGroupLimit optimization (rank-filter pushdown into the
    window sort) must fire on the per-group top-k — each partition keeps
    only k rows per group BEFORE the full sort, the difference between
    O(k·groups) and O(rows) window state at scale."""
    plan = _plan(spark, "topk_orders_per_segment")
    assert "WindowGroupLimit" in plan


def test_record_linkage_is_blocked_equi_join(spark):
    plan = _plan(spark, "record_linkage_blocked")
    # blocking's whole point: candidates come from a key equi-join, never
    # all-pairs, and the levenshtein refine stays JVM-native
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PythonUDF" not in plan
    assert "levenshtein" in plan.lower()


def test_rank_blend_no_global_window_final_take_ordered(spark):
    plan = _plan(spark, "quality_rank_blend")
    # every ROW_NUMBER must be pid-partitioned (range_ranked), and the
    # top-K must be a TakeOrdered, never a corpus-global sort
    assert "TakeOrderedAndProject" in plan
    for ln in plan.splitlines():
        if "[partialwindow" in ln.lower():  # defensive: no such operator today
            continue
        if "Window" in ln and "Arguments" in ln and "partitionBy" not in ln:
            raise AssertionError(f"unpartitioned window in rank blend: {ln}")


def test_boilerplate_removal_no_cartesian_no_python(spark):
    plan = _plan(spark, "boilerplate_segment_removal")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PythonUDF" not in plan


def test_prefix_filter_candidates_are_equi_join(spark):
    plan = _plan(spark, "dedup_prefix_filter_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PythonUDF" not in plan


def test_band_tuning_single_signature_scan(spark):
    plan = _plan(spark, "lsh_band_tuning_audit")
    # every config reads the MATERIALIZED signature (one Scan ExistingRDD
    # from the localCheckpoint), never re-deriving minhash per config
    assert "CartesianProduct" not in plan
    assert plan.count("Generate") <= 2, "band explode must appear once per join side"
