"""Blanket plan hygiene over the DRIVER WINDOW: no query the driver checks
may regress into a cartesian product or an unplanned per-row Python stage.
The per-operator plan tests (test_plans.py) pin specific optimizations;
this sweep is the coarse tripwire that catches a future edit turning an
equi-join into a nested loop anywhere in the checked set."""

from __future__ import annotations

import re

import pytest

from sales_telegram_bot_data_pipeline_spark import queries as q
from sales_telegram_bot_data_pipeline_spark.queries import _DRIVER_WINDOW

from conftest import SF_SMOKE, formatted_plan

# single-row-aggregate cross joins plan as BroadcastNestedLoopJoin with a
# one-row build side — the O(1) scalar-broadcast shape, explicitly fine
_ONE_ROW_BNLJ_OK = {
    "bm25_topk_search",  # corpus stats scalar
    "sequence_packing",  # derived shard-count scalar
    "dsir_importance",  # bucket-total scalar
    "quality_repetition",
    "dedup_incremental_lsh",
    "curation_pipeline_end2end",
    "watermark_tail_stats",  # one-row watermark-cutoff aggregate
    "bigram_lm_score",  # vocabulary-size scalar (CROSS JOIN one-row COUNT)
    # bounded-broadcast designs: every corpus row scores a TINY broadcast
    # side (|Q| query vectors / K centroids) map-side — O(|Q|)/O(K) work
    # per row by construction, never corpus x corpus
    "knn_cosine_bruteforce",
    "knn_cosine_ivf",
    # round-7 swap-ins: one-row CROSS JOIN shapes only
    "association_rules_lift",  # single-row n_orders total scalar
    "mips_topk_audit",  # single-row query vector broadcast
    "leakage_safe_split",  # single-row cross_split_pairs COUNT scalar
    "lsh_band_tuning_audit",  # single-row n_truth COUNT scalar
    # round-8 swap-ins
    "cusum_change_detection",  # one-row tot/sig scalars + the runmin
    #   triangular b.x <= a.x self-join over the CALENDAR-BOUNDED weekly
    #   relation (|weeks|^2, not data-scale)
    "kaplan_meier_repurchase",  # one-row at-risk-total scalar broadcast
    "theilsen_trend_robust",  # weekly-grain pair self-join: calendar-bounded
    "hll_cumulative_distinct_audit",  # day-spine b.day <= a.day prefix join:
    #   calendar-bounded (the sketch path; exact path is range-prefix-sum)
    "weighted_median_by_flag",  # flag-start-offset tb.flag < ta.flag join
    #   over the per-flag totals relation: |flag domain| = 3 rows a side
    # round-9 swap-ins — every BNLJ is a one-row scalar CROSS JOIN or a
    # channel-bounded relation (audited in round8.py; the VERDICT r8
    # anti-pattern audit lists these sites as bounded by construction):
    "shapley_channel_attribution",  # coalitions relation <= 2^|channels|
    #   rows (|channels| is the fixed event-type domain); VALUES channel
    #   list is O(|channels|)
    "ewma_dyadic_smoothing",  # one-row w0 (series-start week) scalar
    "covisitation_item_pairs",  # one-row n_users COUNT scalar
    "seasonal_dow_decomposition",  # one-row grand-total moment scalar
    "kendall_tau_b",  # one-row tot/margx/margy moment scalars
    "brier_score_decomposition",  # one-row grand-total moment scalar
    "runs_test_daily_revenue",  # one-row median + flip-count scalars
    "conformal_coverage_audit",  # one-row conformal-quantile scalar
    # round-10 swap-ins — every BNLJ build side is a one-row moment
    # scalar or a relation bounded by the fixed source catalog (~20) /
    # bin grid, verified by stage rowCounts at analysis (1-490 rows):
    "bh_fdr_source_audit",  # one-row m (test count) scalar over the
    #   per-source p-value relation (|sources| rows)
    "cuped_variance_reduction",  # one-row pre/post moment scalars
    #   (theta, means) joined back to the arm-level aggregates
    "isotonic_calibration_bins",  # decile-grid (10-row) PAV prefix
    #   joins + one-row total scalars — bin axis is fixed
    "ipf_raking_weights",  # 5x5 margin grid x fixed iteration count;
    #   every relation is O(grid), never corpus-scale
    "ks_two_sample_sources",  # source-pair grid (|sources| choose 2 =
    #   190) x per-source CDF scalars — catalog-bounded both sides
    "snips_offpolicy_eval",  # one-row behavior-policy normalizer
    #   scalars (self-normalized IPS denominator)
    # round-11 swap-ins (first driver-window exposure for the round-10
    # operator families) — every BNLJ build side is a one-row moment /
    # total scalar or a fixed-grid relation, same classes as above; the
    # round-10 verdict's scale audit covered these operators' SQL
    # (bounded distinct-value grids, never corpus x corpus):
    "kruskal_wallis_doclen",  # one-row N / tie-correction scalars over
    #   the bounded doc-length value grid
    "qini_uplift_curve",  # one-row arm-total scalars (treated/control
    #   counts, conversions) joined to the fixed decile grid
    "hellinger_bhattacharyya",  # one-row per-distribution mass scalars
    #   over the bounded source x length-band grid
    "logrank_test_segments",  # one-row at-risk/observed total scalars
    #   per event-time step relation (bounded by distinct durations)
    "mutual_information_source_lang",  # one-row grand-total scalar over
    #   the fixed source x lang contingency grid
    "markov_entropy_rate",  # one-row total-transitions scalar over the
    #   fixed event-type x event-type transition grid
    "expected_calibration_error",  # one-row corpus-count scalar over
    #   the fixed ECE bin grid
    "cles_effect_size",  # one-row group-count scalars over the bounded
    #   count-product value grid
    "friedman_rank_test",  # one-row k/n scalars over the fixed
    #   treatment x block rank grid
    "cramer_von_mises_two_sample",  # one-row per-sample size scalars
    #   over the bounded pooled value grid
    "bucketed_packing_plan",  # one-row corpus token-total scalar
    #   deriving the shard count
    # round-12 swap-ins (first driver-window exposure) — every BNLJ
    # build side re-audited from executed-plan stage rowCounts at this
    # rotation (1 to ~2.4k rows, each a one-row moment/total scalar or
    # a fixed grid: decile/bin axes, the source catalog (~20), the
    # calendar day domain (~2.4k)):
    "feature_hashing_collision_audit",  # 3-row hash-width axis +
    #   one-row vocab-total scalar
    "target_encoding_smoothed",  # one-row global-mean scalar over the
    #   bounded category (nation x segment) grid
    "good_turing_smoothing_audit",  # one-row N scalar over the bounded
    #   frequency-of-frequencies axis (37 rows)
    "mean_excess_tail_audit",  # one-row scale scalars over the fixed
    #   6-threshold axis
    "decision_stump_split_audit",  # one-row parent-impurity scalar
    #   over the fixed 8-candidate split axis
    "james_stein_shrinkage",  # one-row grand-mean / variance scalars
    #   over the source catalog (~20 rows)
    "ndcg_retrieval_eval",  # one-row IDCG / query-count scalars over
    #   the fixed top-k rank axis (10)
    "rbo_ranking_overlap",  # one-row overlap-total scalar over the two
    #   fixed top-20 rank lists
    "harrell_c_index",  # one-row horizon/bounds scalars; dense grid is
    #   (distinct durations <= day domain) x 16 bins, calendar-bounded
    "quantile_pinball_fit_audit",  # one-row fit scalars over the fixed
    #   8-quantile axis
    "graph_modularity_by_source",  # one-row total-edge-weight scalar
    #   over the source catalog (~20 communities)
    "levene_brown_forsythe",  # one-row k/N scalars over the source
    #   catalog x per-group median grid
    "hill_tail_index",  # one-row threshold scalar over the fixed
    #   top-100 order-statistics axis
    "ipw_ate_stratified",  # one-row arm-total scalars over the fixed
    #   stratum x arm grid
    "sax_daily_revenue_motifs",  # one-row moment scalars over the
    #   calendar-bounded daily series (~2.4k days); motif space <= 64
    # round-13 swap-ins (first driver-window exposure) — every BNLJ
    # build side audited from executed-plan numOutputRows at this
    # rotation (adaptive-plan walk, sf0.001): all Cross BuildRight
    # one-row scalars except where noted; the two larger grids are
    # value-domain / calendar bounded, never corpus-sized:
    "theil_inequality_decomposition",  # 5x one-row grand-total scalars
    "ljung_box_whiteness",  # one-row moment scalars + the fixed 7-lag
    #   axis (Inner BuildLeft, 7 rows)
    "degree_assortativity",  # one-row edge-moment scalar
    "query_likelihood_dirichlet",  # one-row corpus-stat scalar + the
    #   fixed query-term axis (4 rows)
    "mrr_retrieval_eval",  # one-row query-count scalar
    "curriculum_schedule_plan",  # one-row corpus-total scalar
    "cramers_v_bias_corrected",  # one-row N/phi2 scalars + the bounded
    #   contingency axis (3 rows)
    "loso_source_influence",  # one-row full-corpus metric scalar
    "beta_binomial_shrinkage",  # one-row method-of-moments scalars
    "hodges_lehmann_shift",  # one-row n/median-rank scalars; the
    #   triangular cumulative LEFT JOIN runs on the |V|x|V| pairwise
    #   DIFFERENCE grid (413 rows at sf0.001) — value-domain bounded
    #   (doc-length domain), never corpus-squared, per the op's design
    "cochran_armitage_trend",  # one-row trend-moment scalar
    "mantel_haenszel_or",  # one-row stratified-total scalar
    "binary_segmentation_split",  # one-row grand-total scalar; the
    #   triangular prefix join runs on the calendar-bounded daily grid
    #   (1094 rows at sf0.001, ~2.4k ceiling — same class as sax)
    "source_quality_ranksum",  # one-row rank-total scalar
    "score_decile_lift",  # one-row base-rate scalar over the fixed
    #   decile axis
    "join_cardinality_sketch_audit",  # one-row exact-join-size scalar
    #   beside the fixed sketch-grid axes
    "split_distribution_drift",  # 5x one-row per-split total scalars
    # round-14 swap-ins (first driver-window exposure) — plan audit at
    # this rotation (executed adaptive plans, sf0.001): 17 of the 20 are
    # BNLJ-free; the three below carry only bounded Cross BuildRight
    # sides:
    "t_closeness_audit",  # 5-row market-segment axis + one-row
    #   corpus-total scalar (the group x segment grid the docstring
    #   documents as a bounded broadcast)
    "activity_heatmap_dow_hour",  # one-row grand-total scalar beside
    #   the fixed 168-cell (dow x hour) grid
    "negative_sampling_plan",  # one-row MAX(p_partkey) domain scalar
}

# mapInPandas / pandas-UDF operators: Python stages are their design.
# detected_data_native is deliberately NOT here: it is pure spark.sql
# (pipeline_native.py), so a Python stage sneaking into the flagship
# native query must trip this test.
_PYTHON_OK = {
    "word_segmentation",
    # Arrow IPC corpus source: the mapInPandas write spool + binaryFile
    # Arrow-decode read ARE the operator (rotated into the window round
    # 11) — Python is its design, Arrow-batched on both sides
    "arrow_ipc_corpus_roundtrip",
}

# Unpartitioned WindowExec ("No Partition Defined ... moving all data to a
# single partition") is the scale-killer class that produced VERDICT r5
# finding #1 (the global-NTILE equi-depth histogram).  It is allowed ONLY
# over provably bounded inputs — each entry NAMES its bound, so the
# registry-wide sweep below can show exactly why each exception is safe and
# a new unbounded global window cannot land silently:
_UNPARTITIONED_WINDOW_OK = {
    "hybrid_rrf_retrieval": "both RRF arms are LIMIT-25 relations before "
    "their rank windows",
    "zipf_fit_audit": "ranks the AGGREGATED vocabulary (O(|vocab|) rows), "
    "not the corpus; bound documented in the operator docstring",
    "mips_topk_audit": "the rank window's input is the LIMIT-25 `topk` "
    "relation (docstring contract), never the corpus",
    "daily_active_cumulative_users": "running SUM over the aggregated DAY "
    "axis — O(days), bounded by the calendar, not the corpus",
    "score_decile_lift": "cumulative-capture window runs on the aggregated "
    f"decile relation (fixed bucket count); the corpus ranking itself uses "
    "the distributed range-rank primitive",
    "split_distribution_drift": "both CDF windows run on the aggregated "
    "DRIFT_BUCKETS equi-width grid (fixed bucket count)",
    "window_distribution_ranks": "input filtered to o_custkey < 30 — a "
    "fixed key subset, O(orders of 30 customers) rows by construction",
    # isotonic_calibration_bins: its K-bin prefix-sum window (fixed
    # ISO_BINS=10 rows) moved into the r14 materialize_once build — the
    # main statement no longer plans an unpartitioned window, so the
    # entry would be stale cover (this test enforces removal)
    "bh_fdr_source_audit": "rank / COUNT(*) / step-up MAX windows all run "
    "on the aggregated per-source relation — O(|sources|) rows (~20); the "
    "corpus collapses in one map-side-combinable groupBy first",
    "decision_stump_split_audit": "argmin ROW_NUMBER runs on the "
    "aggregated 8-row threshold grid; the corpus is touched once by the "
    "conditional-cell groupBy",
    "good_turing_smoothing_audit": "class-rank window runs on the "
    "counts-of-counts relation: sum(r * N_r) = N bounds it at "
    "O(sqrt(2N)) rows (~thousands at 100 TB), never the corpus or vocab",
    "rbo_ranking_overlap": "both rank windows run on LIMIT-20 TakeOrdered "
    "sublists (docstring contract), never the per-part aggregate",
    "quantile_pinball_fit_audit": "argmin ROW_NUMBER runs on the "
    "aggregated 8-row candidate grid; the fact table is touched once by "
    "the conditional-loss groupBy",
    "ndcg_retrieval_eval": "rank ROW_NUMBER runs on the LIMIT-25 BM25 "
    "sublist (TakeOrdered feeds it), never the corpus; BM25's own df "
    "window is partitioned by term",
    "hill_tail_index": "rank ROW_NUMBER runs on the LIMIT-101 TakeOrdered "
    "top-k relation (docstring contract), never the fact table",
    "mrr_retrieval_eval": "rank ROW_NUMBER runs on the LIMIT-25 BM25 "
    "sublist (the ndcg pattern), never the corpus",
}


def _unpartitioned_windows(plan: str) -> list[str]:
    """Window nodes with no partition spec.  In Spark 4.1 formatted
    explain, a Window's Arguments prints the NON-EMPTY spec lists only
    (verified empirically):

      [funcs], [partitionCols], [orderSpec]   -- fully specified
      [funcs], [partitionCols]                -- partitioned, no ordering
      [funcs], [orderSpec]                    -- UNPARTITIONED (flag)
      [funcs]                                 -- over () (flag)

    The 2-group cases are told apart by content: an order spec carries
    ' ASC'/' DESC' sort directions, a partition list is bare 'col#id'
    refs.  WindowGroupLimit nodes are excluded: they are pushed-down
    top-k filters whose companion Window node is still checked."""
    lines = plan.splitlines()
    bad = []
    for i, ln in enumerate(lines):
        if not re.match(r"^\(\d+\) Window(\s+\[codegen id.*)?$", ln.strip()):
            continue
        for j in range(i + 1, min(i + 6, len(lines))):
            if lines[j].startswith("Arguments:"):
                args = lines[j]
                groups = args.count("], [") + 1
                if groups >= 3:
                    pass  # [funcs], [partition], [order]
                elif groups == 2:
                    last = args.rsplit("], [", 1)[1]
                    if " ASC" in last or " DESC" in last:
                        bad.append(ln.strip())  # [funcs], [order] — no partition
                else:
                    bad.append(ln.strip())  # over () — no partition, no order
                break
    return bad


@pytest.mark.parametrize("name", _DRIVER_WINDOW)
def test_window_query_plan_hygiene(spark, name):
    df = q.REGISTRY[name].fn(spark, SF_SMOKE)
    df.collect()
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if name not in _ONE_ROW_BNLJ_OK:
        assert "BroadcastNestedLoopJoin" not in plan, f"{name} plans a nested-loop join"
    # row-at-a-time Python is never acceptable anywhere in the window
    assert "BatchEvalPython" not in plan, f"{name} runs a row-at-a-time Python UDF"
    if name not in _PYTHON_OK:
        assert "PythonUDF" not in plan and "MapInPandas" not in plan, (
            f"{name} unexpectedly runs a Python stage"
        )
    if name not in _UNPARTITIONED_WINDOW_OK:
        bad = _unpartitioned_windows(plan)
        assert not bad, (
            f"{name} plans {len(bad)} unpartitioned Window node(s) — "
            "single-partition global sort at scale; partition the window "
            "or allowlist with a documented bound"
        )


@pytest.mark.parametrize(
    "name",
    [
        # VERDICT r5 finding #1 regression pin: the equi-depth histogram
        # must never again plan a single-partition global NTILE — its rank
        # window is partitioned by range-partition id
        "price_histogram_equidepth",
        # round-6 window-bearing queries outside the driver window: their
        # windows partition by user / doc / range-partition id
        "sessionize_gap_islands",
        "tfidf_top_terms",
        "robust_price_outliers",
    ],
)
def test_out_of_window_queries_no_global_window(spark, name):
    """Unpartitioned-window pin for window-bearing queries that sit
    OUTSIDE the driver window (the blanket sweep above only covers
    _DRIVER_WINDOW).  These four EXECUTE (collect) so the final adaptive
    plan is checked; the registry-wide sweep below covers everything else
    plan-only."""
    df = q.REGISTRY[name].fn(spark, SF_SMOKE)
    df.collect()
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    bad = _unpartitioned_windows(plan)
    assert not bad, f"{name} plans unpartitioned windows: {bad}"


def _wide_decimals(schema, plan: str) -> list[str]:
    """Decimals of precision > 18 anywhere in a final schema (top-level or
    nested)."""
    from pyspark.sql.types import ArrayType, DecimalType, MapType, StructType

    def _walk(dt, path):
        if isinstance(dt, DecimalType) and dt.precision > 18:
            yield f"{path}: {dt}"
        elif isinstance(dt, StructType):
            for f in dt.fields:
                yield from _walk(f.dataType, f"{path}.{f.name}")
        elif isinstance(dt, ArrayType):
            yield from _walk(dt.elementType, f"{path}[]")
        elif isinstance(dt, MapType):
            yield from _walk(dt.valueType, f"{path}{{v}}")

    return [h for f in schema.fields for h in _walk(f.dataType, f.name)]


def _cartesian_products(schema, plan: str) -> int:
    return len(re.findall(r"^\(\d+\) CartesianProduct", plan, re.M))


def _global_windows(schema, plan: str) -> list[str]:
    return _unpartitioned_windows(plan)


def test_registry_wide_no_unbounded_global_window(registry_plans):
    """VERDICT r6 task 3: sweep EVERY registered query's plan for
    unpartitioned Window nodes — a new global sort/rank/NTILE over an
    unbounded relation cannot land anywhere in the registry without either
    partitioning the window or adding an allowlist entry that names its
    bound."""
    offenders = {
        name: bad
        for name, (schema, plan, _) in registry_plans.items()
        if name not in _UNPARTITIONED_WINDOW_OK and (bad := _global_windows(schema, plan))
    }
    assert not offenders, (
        f"unpartitioned Window nodes outside the allowlist: {offenders} — "
        "single-partition global sort at scale; partition the window or "
        "allowlist with a documented bound"
    )


def test_unpartitioned_window_allowlist_entries_still_flag(spark):
    """The allowlist must stay HONEST: every allowlisted query must (a)
    still exist in the registry and (b) actually plan an unpartitioned
    window — otherwise the entry is stale cover a future unbounded window
    could hide behind."""
    for name, bound in _UNPARTITIONED_WINDOW_OK.items():
        assert name in q.REGISTRY, f"allowlist entry {name} no longer registered"
        df = q.REGISTRY[name].fn(spark, SF_SMOKE)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert _unpartitioned_windows(plan), (
            f"allowlist entry {name} ({bound}) no longer plans an "
            "unpartitioned window — remove the stale entry"
        )


def test_registry_wide_no_high_precision_final_decimals(registry_plans):
    """VERDICT r9 task 8: no registered query's FINAL schema (top-level or
    nested) may contain a decimal with precision > 18.  Precision-38
    decimals are int128-backed in DuckDB and were the one type the
    driver's cross-engine value hash canonicalized differently — the
    round-9 ``kendall_tau_b`` red row, whose VALUES were bit-identical to
    the oracle.  High-precision decimals stay welcome in INTERNAL CTEs
    (exact pair-mass sums); the final projection must land on
    BIGINT/DOUBLE/decimal(<=18,*)."""
    offenders = {
        name: hits
        for name, (schema, plan, _) in registry_plans.items()
        if (hits := _wide_decimals(schema, plan))
    }
    assert not offenders, (
        f"final schemas with precision>18 decimals: {offenders} — the "
        "driver's typed value hash is not stable for int128-backed "
        "decimals across engines; CAST the final projection to BIGINT "
        "(document the bound) or a <=18-precision decimal"
    )


def test_registry_wide_no_cartesian_product(registry_plans):
    """Round-10 sweep companion to the unbounded-window net: NO
    registered query may plan a CartesianProduct node — not even in the
    pre-AQE initial plan (a one-row scalar cross join must broadcast as
    BNLJ; a grouped aggregate OVER a scalar cross join planned a real
    CartesianProduct in kruskal_wallis before the round-10 fix)."""
    offenders = {
        name: hits
        for name, (schema, plan, _) in registry_plans.items()
        if (hits := _cartesian_products(schema, plan))
    }
    assert not offenders, (
        f"CartesianProduct nodes in plans: {offenders} — restructure so "
        "every non-equi join side is a guaranteed one-row aggregate "
        "(broadcastable) or an equi-join"
    )


def test_registry_sweep_checks_flag_known_bad_plans(spark):
    """Each registry-wide check flags a statement built to break it, so a
    sweep that reports nothing is a real pass, not a parser that no longer
    matches the plan text."""
    checks = {
        _cartesian_products: "SELECT /*+ SHUFFLE_REPLICATE_NL(b) */ a.id "
        "FROM range(10) a JOIN range(10) b ON a.id < b.id",
        _global_windows: "SELECT id, row_number() OVER (ORDER BY id) AS r FROM range(10)",
        _wide_decimals: "SELECT CAST(1 AS DECIMAL(38,0)) AS x",
    }
    for check, bad_sql in checks.items():
        df = spark.sql(bad_sql)
        assert check(df.schema, formatted_plan(df)), (check.__name__, bad_sql)
        # ... and stays quiet on a plain scan
        good = spark.sql("SELECT id FROM range(10)")
        assert not check(good.schema, formatted_plan(good)), check.__name__


def test_stored_view_policy_pinned():
    """VERDICT r12 task 5: the stored-session-view policy is an explicit,
    reviewable allowlist.  Every `session_view` tag in the source must be
    declared in SESSION_VIEW_LIVE_TWINS with a live-measured registry
    twin, and the key set itself is pinned HERE so converting another
    bench row to stored reads requires editing this test — the same
    deliberate step as a BNLJ allowlist entry."""
    import pathlib

    from sales_telegram_bot_data_pipeline_spark.session import SESSION_VIEW_LIVE_TWINS

    # 1. pinned key set — edit deliberately, with a bench-note update
    assert set(SESSION_VIEW_LIVE_TWINS) == {
        "shingles", "shdf", "lshp", "cc_labels", "detfeed", "det2feed",
        "loosep", "ssjac", "ndpairs", "tune_sig", "wide",
    }
    # 2. every designated twin is a real registered query (live-measured
    #    on the bench by construction: every registry query is a bench row)
    for tag, twin in SESSION_VIEW_LIVE_TWINS.items():
        assert twin in q.REGISTRY, f"{tag}: twin {twin!r} not in REGISTRY"
    # 3. every literal session_view(...) call-site tag in the package is
    #    declared
    pkg = pathlib.Path(q.__file__).resolve().parent
    tags_in_source = set()
    for p in pkg.rglob("*.py"):
        src = p.read_text()
        for m in re.finditer(
            r"session_view\(\s*spark,\s*sf_dir,\s*\"([a-z0-9_]+)\"", src
        ):
            tags_in_source.add(m.group(1))
        # keyword/f-string tag sites are covered by the runtime gate in
        # session_view itself (raises ValueError on undeclared tags)
    undeclared = tags_in_source - set(SESSION_VIEW_LIVE_TWINS)
    assert not undeclared, f"undeclared stored-view tags: {undeclared}"


def test_stored_view_unknown_tag_refused(spark):
    """The runtime gate: an undeclared tag raises before materializing."""
    from sales_telegram_bot_data_pipeline_spark.session import session_view

    with pytest.raises(ValueError, match="undeclared stored-view tag"):
        session_view(spark, SF_SMOKE, "rogue_new_view", lambda: None)
