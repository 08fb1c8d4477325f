"""Semantic checks for the second round-6 operator batch beyond the oracle
match: cluster-cap set relations vs keep-best, leakage-safe split zero-leak
guarantee, rank-blend vs a brute-force driver-side recompute, blocked
record-linkage recall/precision on its self-contained ground truth, and
boilerplate removal on an injected-boilerplate corpus."""

from __future__ import annotations

from sales_telegram_bot_data_pipeline_spark.operators.curation import (
    leakage_safe_split,
    quality_rank_blend,
)
from sales_telegram_bot_data_pipeline_spark.operators.dedup import (
    CLUSTER_CAP,
    dedup_cluster_cap,
    dedup_keep_best_quality,
)
from sales_telegram_bot_data_pipeline_spark.operators.linkage import (
    LINK_DIRTY_MOD,
)
from sales_telegram_bot_data_pipeline_spark.operators.textops import (
    BOILER_DF_CAP,
    _boilerplate_sql,
)
from sales_telegram_bot_data_pipeline_spark.queries import REGISTRY
from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table

from conftest import SF_SMOKE


def test_cluster_cap_extends_keep_best(spark):
    """rk=1 rows of the capped selection ARE the keep-best selection; each
    cluster keeps exactly min(cluster_size, CAP) members; kept members'
    quality is ranked non-increasing within a cluster."""
    capped = dedup_cluster_cap(spark, SF_SMOKE).collect()
    best = {
        r["doc_id"]: r["cluster_rep"]
        for r in dedup_keep_best_quality(spark, SF_SMOKE).collect()
    }
    assert {r["doc_id"]: r["cluster_rep"] for r in capped if r["rk"] == 1} == best
    by_cluster: dict[int, list] = {}
    for r in capped:
        by_cluster.setdefault(r["cluster_rep"], []).append(r)
    for rep, rows in by_cluster.items():
        size = rows[0]["cluster_size"]
        assert len(rows) == min(size, CLUSTER_CAP)
        ranked = sorted(rows, key=lambda r: r["rk"])
        for a, b in zip(ranked, ranked[1:]):
            assert (a["n_distinct_words"], -a["doc_id"]) >= (
                b["n_distinct_words"],
                -b["doc_id"],
            )


def test_leakage_safe_split_zero_cross_pairs(spark):
    rows = leakage_safe_split(spark, SF_SMOKE).collect()
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert all(r["cross_split_pairs"] == 0 for r in rows)
    assert {r["split_name"] for r in rows} <= {"train", "val", "test"}
    # the split must still look like a split: train strictly dominates
    by_name = {r["split_name"]: r["n_docs"] for r in rows}
    assert by_name.get("train", 0) > by_name.get("test", 0)


def test_quality_rank_blend_matches_bruteforce(spark):
    """Recompute the three global rankings driver-side from the raw corpus
    and compare the blended top-K exactly."""
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    sig = [
        (
            r["doc_id"],
            len(set(r["text"].lower().split())),
            len(r["text"].lower().split()),
            r["n_chars"],
        )
        for r in docs
    ]

    def ranks(idx):
        orderd = sorted(sig, key=lambda s: (-s[idx], s[0]))
        return {s[0]: i + 1 for i, s in enumerate(orderd)}

    r1, r2, r3 = ranks(1), ranks(2), ranks(3)
    blend = sorted(
        ((r1[d] + r2[d] + r3[d], d) for d, *_ in sig),
    )
    got = quality_rank_blend(spark, SF_SMOKE).collect()
    assert [(r["blend_rank"], r["doc_id"]) for r in got] == blend[: len(got)]
    for r in got:
        assert (r["r_words"], r["r_tokens"], r["r_chars"]) == (
            r1[r["doc_id"]],
            r2[r["doc_id"]],
            r3[r["doc_id"]],
        )


def test_record_linkage_recovers_every_dirty_twin(spark):
    rows = REGISTRY["record_linkage_blocked"].fn(spark, SF_SMOKE).collect()
    n_dirty = (
        load_table(spark, SF_SMOKE, "customer")
        .where(f"c_custkey % {LINK_DIRTY_MOD} = 0")
        .count()
    )
    assert len(rows) == n_dirty  # 100% recall through the blocking key
    assert all(r["is_correct"] for r in rows)  # 100% precision
    assert all(r["lev_dist"] == 1 for r in rows)  # corruption is 1 edit


def test_boilerplate_removal_on_injected_corpus(spark):
    """Docs sharing a 3-token boilerplate segment beyond the df cap lose
    exactly that segment with order preserved; sole unique doc untouched."""
    from sales_telegram_bot_data_pipeline_spark.functions.dialect import SPARK as D

    boiler = "click here now"
    uniq = ["alpha beta gamma", "delta epsilon zeta", "eta theta iota", "kappa mu nu"]
    rows = [(i, f"{boiler} {u}") for i, u in enumerate(uniq)]
    rows.append((99, "solo unique words"))
    spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView(
        "sales_telegram_bot_data_pipeline_boiler_inj"
    )
    assert len(uniq) > BOILER_DF_CAP
    got = {
        r["doc_id"]: r
        for r in spark.sql(
            _boilerplate_sql(D, "sales_telegram_bot_data_pipeline_boiler_inj")
        ).collect()
    }
    for i, u in enumerate(uniq):
        assert got[i]["clean_text"] == u
        assert got[i]["n_segments"] == 2 and got[i]["n_kept"] == 1
    assert got[99]["clean_text"] == "solo unique words"
    assert got[99]["n_kept"] == got[99]["n_segments"] == 1


def test_boilerplate_noop_below_cap(spark):
    rows = REGISTRY["boilerplate_segment_removal"].fn(spark, SF_SMOKE).collect()
    docs = {r["doc_id"]: r["text"] for r in load_table(spark, SF_SMOKE, "documents").collect()}
    assert len(rows) == len(docs)
    for r in rows:
        # untouched docs reassemble EXACTLY (lower() normalization aside)
        if r["n_kept"] == r["n_segments"]:
            assert r["clean_text"] == " ".join(docs[r["doc_id"]].lower().split())


def test_prefix_filter_join_set_equals_inverted_index(spark):
    """Prefix filtering is LOSSLESS: the PPJoin-style candidate generation
    must produce exactly the pair set of the full inverted-index twin."""
    from sales_telegram_bot_data_pipeline_spark.operators.dedup import (
        dedup_ngram_jaccard,
        dedup_prefix_filter_join,
    )

    twin = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_ngram_jaccard(spark, SF_SMOKE).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_prefix_filter_join(spark, SF_SMOKE).collect()
    }
    assert got == twin
    assert len(got) > 0  # the smoke corpus does contain near-dups


def test_ranksum_matches_bruteforce_and_flags_injected_skew(spark):
    from sales_telegram_bot_data_pipeline_spark.functions.dialect import SPARK as D
    from sales_telegram_bot_data_pipeline_spark.operators.curation import (
        _ranksum_sql,
        source_quality_ranksum,
    )

    docs = load_table(spark, SF_SMOKE, "documents").collect()
    ranks = {
        r["doc_id"]: i + 1
        for i, r in enumerate(sorted(docs, key=lambda r: (r["n_chars"], r["doc_id"])))
    }
    got = {r["source"]: r for r in source_quality_ranksum(spark, SF_SMOKE).collect()}
    n = len(docs)
    by_src: dict[str, list] = {}
    for r in docs:
        by_src.setdefault(r["source"], []).append(ranks[r["doc_id"]])
    assert set(got) == set(by_src)
    for src, rs in by_src.items():
        ni, rsum = len(rs), sum(rs)
        assert got[src]["n_docs"] == ni and got[src]["rank_sum"] == rsum
        assert got[src]["u_stat"] == rsum - ni * (ni + 1) // 2
        assert abs(got[src]["u_expected"] - ni * (n - ni) / 2.0) < 1e-6
    # hash-assigned sources shouldn't skew (at most noise flags)
    assert sum(1 for r in got.values() if r["skew_flag"]) <= len(got) // 4

    # injected skew: one source gets systematically larger lengths
    rows = [(i, "src_skew" if i % 5 == 0 else f"src{i % 3}", 10_000 + i if i % 5 == 0 else 100 + i)
            for i in range(600)]
    spark.createDataFrame(
        rows, "doc_id long, source string, n_chars long"
    ).createOrReplaceTempView("sales_telegram_bot_data_pipeline_ranksum_inj")
    loud = {
        r["source"]: r
        for r in spark.sql(
            _ranksum_sql(D, "sales_telegram_bot_data_pipeline_ranksum_inj")
        ).collect()
    }
    assert loud["src_skew"]["skew_flag"] is True
    assert loud["src_skew"]["z_score"] > 5


def test_band_tuning_nested_configs_and_lsh_row(spark):
    """Bands align across factorizations, so candidate sets are NESTED:
    (1,8) ⊆ (2,4) ⊆ (4,2) ⊆ (8,1); the (4,2) row must equal the
    production LSH pair count RESTRICTED to the audit's md5-half corpus
    (signatures are per-doc, so subset candidates = full-corpus pairs
    with both endpoints in the subset); recall bounded; on an empty
    corpus the 4 config rows survive with zero counts."""
    import hashlib

    from sales_telegram_bot_data_pipeline_spark.operators.dedup import (
        BAND_TUNE_SUBSET_MOD,
        lsh_band_tuning_audit,
    )

    def in_half(doc_id) -> bool:
        h = hashlib.md5(str(doc_id).encode()).hexdigest()[:15]
        return int(h, 16) % BAND_TUNE_SUBSET_MOD == 0

    rows = {
        (r["n_bands"], r["band_rows"]): r
        for r in lsh_band_tuning_audit(spark, SF_SMOKE).collect()
    }
    assert set(rows) == {(8, 1), (4, 2), (2, 4), (1, 8)}
    lsh_pairs = REGISTRY["dedup_minhash_lsh"].fn(spark, SF_SMOKE).collect()
    expected = sum(1 for p in lsh_pairs if in_half(p.doc_a) and in_half(p.doc_b))
    assert rows[(4, 2)]["n_candidates"] == expected
    cands = [rows[k]["n_candidates"] for k in [(8, 1), (4, 2), (2, 4), (1, 8)]]
    assert cands == sorted(cands, reverse=True)
    hits = [rows[k]["n_hits"] for k in [(8, 1), (4, 2), (2, 4), (1, 8)]]
    assert hits == sorted(hits, reverse=True)
    theory = [rows[k]["p_capture_at_t"] for k in [(8, 1), (4, 2), (2, 4), (1, 8)]]
    assert theory == sorted(theory, reverse=True)
    for r in rows.values():
        assert r["n_hits"] <= r["n_candidates"]
        assert r["recall"] is None or 0.0 <= r["recall"] <= 1.0


def test_cluster_balanced_sample_caps_every_cluster(spark):
    from sales_telegram_bot_data_pipeline_spark.operators.similarity import (
        CLUSTER_BAL_CAP,
        cluster_balanced_sample,
    )

    rows = cluster_balanced_sample(spark, SF_SMOKE).collect()
    emb_n = load_table(spark, SF_SMOKE, "embeddings").count()
    by_cid: dict[int, list] = {}
    for r in rows:
        by_cid.setdefault(r["cid"], []).append(r)
    assert by_cid, "no clusters sampled"
    total_assigned = 0
    for cid, members in by_cid.items():
        ranks = sorted(r["rk"] for r in members)
        assert ranks == list(range(1, len(members) + 1))
        n = members[0]["cluster_n"]
        assert all(r["cluster_n"] == n for r in members)
        assert len(members) == min(n, CLUSTER_BAL_CAP)
        assert all(r["cluster_capped"] == (n > CLUSTER_BAL_CAP) for r in members)
        # vec_id order: kept members are the smallest ids of the cluster
        ids = [r["vec_id"] for r in sorted(members, key=lambda r: r["rk"])]
        assert ids == sorted(ids)
        total_assigned += n
    # every corpus vector is assigned to exactly one cluster
    assert total_assigned == emb_n


def test_join_cardinality_estimators_vs_real_join(spark):
    from sales_telegram_bot_data_pipeline_spark.operators.scalars_extra import (
        join_cardinality_sketch_audit,
    )

    row = join_cardinality_sketch_audit(spark, SF_SMOKE).collect()[0]
    orders = load_table(spark, SF_SMOKE, "orders").select("o_orderkey")
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey")
    real = orders.join(li, orders.o_orderkey == li.l_orderkey).count()
    assert row["exact_join_size"] == real
    # CMS inner product NEVER undercounts
    assert row["cms_estimate"] >= row["exact_join_size"]
    assert abs(
        row["cms_rel_error"]
        - (row["cms_estimate"] - real) / real
    ) < 1e-5
    # the unbiased synopsis lands within sampling noise (9-ish sampled
    # keys at smoke scale -> generous factor-3 envelope)
    assert 0 < row["sample_estimate"] < 3 * real + 1


def test_join_skew_audit_matches_bruteforce(spark):
    from sales_telegram_bot_data_pipeline_spark.operators.scalars_extra import (
        SKEW_FACTOR,
    )

    row = REGISTRY["join_key_skew_audit"].fn(spark, SF_SMOKE).collect()[0]
    li = load_table(spark, SF_SMOKE, "lineitem").collect()
    counts: dict[int, int] = {}
    for r in li:
        counts[r["l_orderkey"]] = counts.get(r["l_orderkey"], 0) + 1
    n_rows = len(li)
    assert row["n_keys"] == len(counts)
    assert row["n_rows"] == n_rows
    assert row["max_key_rows"] == max(counts.values())
    assert row["top10_rows"] == sum(sorted(counts.values(), reverse=True)[:10])
    assert row["skew_flag"] == (
        max(counts.values()) * len(counts) > SKEW_FACTOR * n_rows
    )


def test_decile_lift_table_invariants(spark):
    from sales_telegram_bot_data_pipeline_spark.operators.lm_quality import (
        LIFT_BUCKETS,
        score_decile_lift,
    )

    rows = sorted(score_decile_lift(spark, SF_SMOKE).collect(), key=lambda r: r["decile"])
    docs = load_table(spark, SF_SMOKE, "documents")
    n = docs.count()
    n_en = docs.where("lang = 'en'").count()
    assert [r["decile"] for r in rows] == list(range(LIFT_BUCKETS))
    assert sum(r["n_docs"] for r in rows) == n
    assert sum(r["n_pos"] for r in rows) == n_en
    # equi-depth: decile sizes within 1 of each other
    sizes = [r["n_docs"] for r in rows]
    assert max(sizes) - min(sizes) <= 1
    assert abs(rows[-1]["cum_capture"] - 1.0) < 1e-6
    base = n_en / n
    for r in rows:
        assert abs(r["lift"] - (r["n_pos"] / r["n_docs"]) / base) < 1e-5
    # the synthetic corpus draws the same vocabulary for every lang, so a
    # flat lift here is the CORRECT finding; the discrimination mechanics
    # are pinned on an injected score/label correlation instead
    from sales_telegram_bot_data_pipeline_spark.functions.dialect import SPARK as D
    from sales_telegram_bot_data_pipeline_spark.operators.lm_quality import _lift_sql

    inj = spark.createDataFrame(
        [(i, i < 200, 1000 - i) for i in range(1000)],
        "doc_id long, is_pos boolean, score long",
    ).selectExpr(
        "doc_id", "is_pos",
        "ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r",
    )
    inj.createOrReplaceTempView("sales_telegram_bot_data_pipeline_lift_inj")
    loud = sorted(
        spark.sql(
            _lift_sql(D, "unused", ranked_rel="SELECT doc_id, is_pos, r FROM sales_telegram_bot_data_pipeline_lift_inj")
        ).collect(),
        key=lambda r: r["decile"],
    )
    # positives are exactly the top 2 deciles: lift 5x there, 0 after
    assert abs(loud[0]["lift"] - 5.0) < 1e-6 and abs(loud[1]["lift"] - 5.0) < 1e-6
    assert all(r["n_pos"] == 0 for r in loud[2:])
    assert abs(loud[1]["cum_capture"] - 1.0) < 1e-6


def test_zorder_narrows_both_dimensions(spark):
    """The point of the layout: under custkey-sort the date span per
    bucket stays ~full-range while custkey is narrow; under z-order BOTH
    spans are materially below full range."""

    rows = REGISTRY["zorder_clustering_stats"].fn(spark, SF_SMOKE).collect()
    by_layout: dict[str, list] = {}
    for r in rows:
        by_layout.setdefault(r["layout"], []).append(r)
    assert set(by_layout) == {"zorder", "custkey_sort"}

    def wavg(rows, col):
        tot = sum(r["n_rows"] for r in rows)
        return sum(r[col] * r["n_rows"] for r in rows) / tot

    cs, zo = by_layout["custkey_sort"], by_layout["zorder"]
    # single-column sort: near-zero custkey span, near-full date span
    assert wavg(cs, "span_frac_custkey") < 0.1
    assert wavg(cs, "span_frac_date") > 0.8
    # z-order: both dimensions materially narrowed vs full range
    assert wavg(zo, "span_frac_custkey") < 0.5
    assert wavg(zo, "span_frac_date") < 0.5
    # row conservation across each layout's buckets
    n = sum(r["n_rows"] for r in cs)
    assert sum(r["n_rows"] for r in zo) == n


def test_bloom_prune_never_false_negative(spark):
    import math

    from sales_telegram_bot_data_pipeline_spark.operators.scalars_extra import (
        BF_K,
        BF_WORD_BITS,
        BF_WORDS,
    )

    row = REGISTRY["bloom_semijoin_prune_audit"].fn(spark, SF_SMOKE).collect()[0]
    cust = load_table(spark, SF_SMOKE, "customer")
    orders = load_table(spark, SF_SMOKE, "orders")
    build = {r["c_custkey"] for r in cust.where("c_mktsegment = 'BUILDING'").collect()}
    probe = {r["o_custkey"] for r in orders.select("o_custkey").distinct().collect()}
    assert row["n_build_keys"] == len(build)
    assert row["n_probe_keys"] == len(probe)
    # exact semi-join agreement and the no-false-negative guarantee
    assert row["true_match_keys"] == len(build & probe)
    assert row["bloom_pass_keys"] == row["true_match_keys"] + row["false_positive_keys"]
    assert row["bloom_pass_keys"] >= row["true_match_keys"]
    # fp rate in the right regime: under 5x the theoretical S-curve value
    m = BF_WORDS * BF_WORD_BITS
    theory = (1.0 - math.exp(-BF_K * len(build) / m)) ** BF_K
    assert row["fp_rate"] <= max(5 * theory, 0.05)
    # pruned rows = rows of keys that failed the filter; all accounted for
    assert 0 < row["rows_pruned"] < row["rows_total"]


def test_nprobe_curve_monotone_with_exhaustive_selfcheck(spark):
    from sales_telegram_bot_data_pipeline_spark.operators.similarity import (
        K_LISTS,
        ivf_nprobe_tuning_audit,
    )

    rows = sorted(
        ivf_nprobe_tuning_audit(spark, SF_SMOKE).collect(), key=lambda r: r["n_probe"]
    )
    assert [r["n_probe"] for r in rows] == [1, 2, 4, 8]
    rec = [r["recall_at_k"] for r in rows]
    scan = [r["scan_fraction"] for r in rows]
    assert rec == sorted(rec) and scan == sorted(scan)  # more probes, more of both
    # probing every list IS brute force: exact recall, full scan
    assert rows[-1]["n_probe"] == K_LISTS
    assert rows[-1]["recall_at_k"] == 1.0
    assert abs(rows[-1]["scan_fraction"] - 1.0) < 1e-6
    assert all(r["n_hit"] <= r["n_truth"] for r in rows)


def test_session_conversion_matches_bruteforce_sessions(spark):
    """Recompute conversion from the session table + raw events: a session
    converts iff its first 'view' epoch precedes (<=) its last 'purchase'
    epoch, attribution bounded by the session."""
    from sales_telegram_bot_data_pipeline_spark.operators.temporal import (
        SESSIONIZE_GAP_S,
        SESSIONIZE_USER_MOD,
    )

    row = REGISTRY["session_conversion_rate"].fn(spark, SF_SMOKE).collect()[0]
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .where(f"user_id % {SESSIONIZE_USER_MOD} = 0")
        .selectExpr(
            "user_id", "event_id", "event_type",
            "(unix_date(CAST(ts AS DATE)) * 86400L + hour(ts) * 3600"
            " + minute(ts) * 60 + second(ts)) AS ep", "ts",
        )
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(r)
    n_sessions = with_view = with_purchase = converted = 0
    for user, rows in by_user.items():
        rows.sort(key=lambda r: (r["ts"], r["event_id"]))
        sessions, cur = [], []
        for r in rows:
            if cur and r["ep"] - cur[-1]["ep"] > SESSIONIZE_GAP_S:
                sessions.append(cur)
                cur = []
            cur.append(r)
        if cur:
            sessions.append(cur)
        for s in sessions:
            n_sessions += 1
            views = [r["ep"] for r in s if r["event_type"] == "view"]
            purch = [r["ep"] for r in s if r["event_type"] == "purchase"]
            if views:
                with_view += 1
            if purch:
                with_purchase += 1
            if views and purch and min(views) <= max(purch):
                converted += 1
    assert row["n_sessions"] == n_sessions
    assert row["sessions_with_view"] == with_view
    assert row["sessions_with_purchase"] == with_purchase
    assert row["converted_sessions"] == converted


def test_schema_evolution_nulls_old_generation(spark):
    from sales_telegram_bot_data_pipeline_spark.sources.csvsrc import (
        parquet_schema_evolution,
    )

    rows = parquet_schema_evolution(spark, SF_SMOKE).collect()
    docs = {r["doc_id"]: r for r in load_table(spark, SF_SMOKE, "documents").collect()}
    assert len(rows) == len(docs)
    for r in rows:
        want = docs[r["doc_id"]]
        assert r["lang"] == want["lang"]
        if r["doc_id"] % 2 == 0:
            assert r["n_chars"] is None  # old-generation file: column absent
        else:
            assert r["n_chars"] == want["n_chars"]


def test_freshness_decay_matches_bruteforce(spark):
    import math

    from sales_telegram_bot_data_pipeline_spark.operators.temporal import (
        DECAY_HALF_LIFE_DAYS,
    )

    got = {r["event_type"]: r for r in REGISTRY["freshness_decay_profile"].fn(spark, SF_SMOKE).collect()}
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .selectExpr(
            "event_type",
            "(unix_date(CAST(ts AS DATE)) * 86400L + hour(ts) * 3600"
            " + minute(ts) * 60 + second(ts)) AS ep",
        )
        .collect()
    )
    mx = max(r["ep"] for r in ev)
    lam = math.log(2) / DECAY_HALF_LIFE_DAYS
    want: dict[str, list] = {}
    for r in ev:
        want.setdefault(r["event_type"], []).append(
            round(math.exp(-((mx - r["ep"]) / 86400.0) * lam) * 1e6)
        )
    assert set(got) == set(want)
    for et, ws in want.items():
        assert got[et]["n_events"] == len(ws)
        assert got[et]["decayed_mass_micro"] == sum(ws)
        assert 0.0 < got[et]["freshness_index"] <= 1.0
