"""Round-9 continuation batch-2 pins: EVT mean-excess, decision stump,
James-Stein, exact PR-AUC, and dyadic RBO re-derived in pure Python."""

from __future__ import annotations

from sales_telegram_bot_data_pipeline_spark import queries as q
from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table

from conftest import SF_SMOKE


def test_mean_excess_matches_python(spark):
    rows = q.REGISTRY["mean_excess_tail_audit"].fn(spark, SF_SMOKE).collect()
    cents = [
        r.x
        for r in load_table(spark, SF_SMOKE, "orders")
        .selectExpr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x")
        .collect()
    ]
    lo, hi, n = min(cents), max(cents), len(cents)
    assert [r.twelfth for r in rows] == [6, 7, 8, 9, 10, 11]
    for r in rows:
        u = lo + (r.twelfth * (hi - lo)) // 12
        exceed = [x - u for x in cents if x > u]
        assert r.n_exceed == len(exceed)
        assert abs(r.frac_exceed - len(exceed) / n) < 1e-6
        if exceed:
            me = sum(exceed) / len(exceed)
            assert abs(r.mean_excess_dollars - me / 100) < 1e-4
            assert abs(r.excess_over_threshold - me / u) < 1e-6
    # thresholds rise monotonically
    ts = [r.threshold_dollars for r in rows]
    assert ts == sorted(ts)


def test_decision_stump_matches_python(spark):
    rows = q.REGISTRY["decision_stump_split_audit"].fn(spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents").selectExpr(
        "length(text) AS x", "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y"
    ).collect()
    xs = [r.x for r in docs]
    lo, hi, n = min(xs), max(xs), len(docs)
    pos = sum(r.y for r in docs)
    gini_parent = 2 * pos * (n - pos) / (n * n)
    best = None
    py = {}
    for j in range(1, 9):
        t = lo + (j * (hi - lo)) // 9
        nl = sum(1 for r in docs if r.x <= t)
        pl = sum(r.y for r in docs if r.x <= t)
        nr, pr = n - nl, pos - pl
        g = 0.0
        if nl:
            g += 2 * pl * (nl - pl) / (nl * nl) * nl / n
        if nr:
            g += 2 * pr * (nr - pr) / (nr * nr) * nr / n
        py[j] = (t, nl, nr, g)
        if best is None or (g, t) < best[1:]:
            best = (j, g, t)
    for r in rows:
        t, nl, nr, g = py[r.ninth]
        assert (r.threshold_chars, r.n_left, r.n_right) == (t, nl, nr)
        assert abs(r.gini_split - g) < 1e-5
        assert abs(r.gini_parent - gini_parent) < 1e-5
        assert abs(r.gini_gain - (gini_parent - g)) < 1e-5
        assert r.is_best_split == (1 if r.ninth == best[0] else 0)
    assert sum(r.is_best_split for r in rows) == 1


def test_james_stein_matches_python(spark):
    rows = q.REGISTRY["james_stein_shrinkage"].fn(spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents").selectExpr(
        "source", "length(text) AS len"
    ).collect()
    per = {}
    for r in docs:
        per.setdefault(r.source, []).append(r.len)
    groups = {s: v for s, v in per.items() if len(v) >= 2}
    k = len(groups)
    means = {s: sum(v) / len(v) for s, v in groups.items()}
    grand = sum(means.values()) / k
    se2 = {
        s: (sum(x * x for x in v) / len(v) - means[s] ** 2) / (len(v) - 1)
        for s, v in groups.items()
    }
    avg_se2 = sum(se2.values()) / k
    s_dev = sum((m - grand) ** 2 for m in means.values())
    c = max(0.0, 1 - (k - 3) * avg_se2 / s_dev)
    assert len(rows) == k
    for r in rows:
        assert abs(r.raw_mean_chars - means[r.source]) < 1e-4
        assert abs(r.js_mean_chars - (grand + c * (means[r.source] - grand))) < 1e-4
        assert abs(r.shrink_factor - c) < 1e-5
        assert r.k_groups == k
        # shrinkage moves every mean strictly toward (never past) the prior
        lo_b, hi_b = sorted((means[r.source], grand))
        assert lo_b - 1e-6 <= r.js_mean_chars <= hi_b + 1e-6


def test_pr_auc_matches_python(spark):
    row = q.REGISTRY["pr_auc_exact"].fn(spark, SF_SMOKE).collect()[0]
    # Python twin on the engine's own scored relation (logreg is pinned
    # elsewhere): grouped average precision with nano-unit truncation
    from sales_telegram_bot_data_pipeline_spark.operators.lm_quality import _logreg_sql
    from sales_telegram_bot_data_pipeline_spark.sources.tables import table_view
    from sales_telegram_bot_data_pipeline_spark.functions.dialect import SPARK

    view = table_view(spark, SF_SMOKE, "documents")
    scored = spark.sql(_logreg_sql(SPARK, view)).selectExpr(
        "quality_prob AS v", "(lang = 'en') AS pos"
    ).collect()
    groups = {}
    for r in scored:
        c, cp = groups.get(r.v, (0, 0))
        groups[r.v] = (c + 1, cp + (1 if r.pos else 0))
    tp = pred = 0
    num_nano = 0
    for v in sorted(groups, reverse=True):
        c, cp = groups[v]
        pred += c
        tp += cp
        num_nano += (cp * 1_000_000_000 * tp) // pred
    n = sum(c for c, _ in groups.values())
    n1 = sum(cp for _, cp in groups.values())
    assert row.n_docs == n and row.n_pos == n1
    assert abs(row.pr_auc - num_nano / 1e9 / n1) < 1e-6
    assert abs(row.prevalence_baseline - n1 / n) < 1e-6
    # AP of a better-than-random scorer beats prevalence
    assert row.pr_auc >= row.prevalence_baseline - 0.05


def test_rbo_matches_python(spark):
    row = q.REGISTRY["rbo_ranking_overlap"].fn(spark, SF_SMOKE).collect()[0]
    li = load_table(spark, SF_SMOKE, "lineitem").selectExpr(
        "l_partkey AS pk",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents",
        "CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS pct",
        "CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS qty",
    ).collect()
    rev, qty = {}, {}
    for r in li:
        rev[r.pk] = rev.get(r.pk, 0) + r.cents * (100 - r.pct)
        qty[r.pk] = qty.get(r.pk, 0) + r.qty
    k = 20
    top_a = sorted(rev, key=lambda p: (-rev[p], p))[:k]
    top_b = sorted(qty, key=lambda p: (-qty[p], p))[:k]
    lcm20 = 232792560
    num = 0
    for d in range(1, k + 1):
        ov = len(set(top_a[:d]) & set(top_b[:d]))
        num += ov * (lcm20 // d) * (1 << (k - d))
    rbo = num / (lcm20 * (1 << k))
    ov_k = len(set(top_a) & set(top_b))
    assert abs(row.rbo_truncated - rbo) < 1e-6
    assert row.overlap_at_k == ov_k
    assert abs(row.jaccard_at_k - ov_k / (2 * k - ov_k)) < 1e-6
    assert 0.0 <= row.rbo_truncated <= 1.0
