"""Semantic checks for the round-6 operator additions beyond the oracle
match: sessionization partition/gap invariants, TF-IDF ranking sanity,
MinHash estimator-error bounds, and robust median/MAD cross-checked against
DuckDB's native median()/mad() aggregates."""

from __future__ import annotations

import duckdb

from sales_telegram_bot_data_pipeline_spark.operators.scalars_extra import (
    OUTLIER_K,
    robust_price_outliers,
)
from sales_telegram_bot_data_pipeline_spark.operators.temporal import (
    SESSIONIZE_GAP_S,
    SESSIONIZE_USER_MOD,
)
from sales_telegram_bot_data_pipeline_spark.operators.retrieval import (
    TFIDF_TOP_K,
)
from sales_telegram_bot_data_pipeline_spark.operators.dedup import (
    minhash_estimate_error_audit,
)
from sales_telegram_bot_data_pipeline_spark.queries import REGISTRY
from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table

from conftest import SF_SMOKE


def test_sessionize_partitions_all_sampled_events(spark):
    """Sessions must PARTITION the sampled users' events: per-session
    counts sum to the sampled event count, session sequences are dense
    from 1, and a session's span can only exceed the gap threshold via
    chained events (duration < n_events * gap)."""
    sessions = REGISTRY["sessionize_gap_islands"].fn(spark, SF_SMOKE).collect()
    ev = load_table(spark, SF_SMOKE, "events")
    n_sampled = ev.where(f"user_id % {SESSIONIZE_USER_MOD} = 0").count()
    assert sum(r["n_events"] for r in sessions) == n_sampled
    by_user: dict[int, list] = {}
    for r in sessions:
        by_user.setdefault(r["user_id"], []).append(r)
    for user, rows in by_user.items():
        seqs = sorted(r["session_seq"] for r in rows)
        assert seqs == list(range(1, len(rows) + 1)), f"user {user} seqs not dense"
        for r in rows:
            assert r["duration_s"] >= 0
            # a session of n events spans at most (n-1) gaps of <= GAP each
            assert r["duration_s"] <= (r["n_events"] - 1) * SESSIONIZE_GAP_S
        # consecutive sessions are separated by MORE than the gap
        rows_sorted = sorted(rows, key=lambda r: r["session_seq"])
        for a, b in zip(rows_sorted, rows_sorted[1:]):
            assert b["session_start_ep"] - a["session_end_ep"] > SESSIONIZE_GAP_S


def test_tfidf_top_terms_ranked_and_bounded(spark):
    rows = REGISTRY["tfidf_top_terms"].fn(spark, SF_SMOKE).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert by_doc, "no documents scored"
    for doc, terms in by_doc.items():
        assert 1 <= len(terms) <= TFIDF_TOP_K
        ranked = sorted(terms, key=lambda r: r["rk"])
        assert [r["rk"] for r in ranked] == list(range(1, len(terms) + 1))
        # scores non-increasing with rank; smooth idf keeps them positive
        for a, b in zip(ranked, ranked[1:]):
            assert a["score"] >= b["score"]
        assert all(r["score"] > 0 for r in terms)


def test_minhash_estimate_error_within_bounds(spark):
    """The agreement fraction and exact Jaccard both live in [0,1], so
    every per-pair error does too; mean <= max; and the audit must cover
    exactly the LSH candidate pairs."""
    row = minhash_estimate_error_audit(spark, SF_SMOKE).collect()[0]
    n_pairs = REGISTRY["dedup_minhash_lsh"].fn(spark, SF_SMOKE).count()
    assert row["n_pairs"] == n_pairs
    assert 0.0 <= row["mean_abs_err"] <= row["max_abs_err"] <= 1.0


def test_robust_outliers_match_duckdb_native_aggregates(spark):
    """The distributed-rank median/MAD must equal DuckDB's NATIVE median()
    and mad() aggregates exactly (both are exact algorithms on the same
    integer-cents data), and the outlier count must equal a direct
    recount under the same rule."""
    got = robust_price_outliers(spark, SF_SMOKE).collect()[0]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/orders.parquet')"
    )
    med, mad, n = con.execute(
        "SELECT CAST(median(CAST(o_totalprice*100 AS BIGINT)) AS DOUBLE) / 100.0,"
        "       CAST(mad(CAST(o_totalprice*100 AS BIGINT)) AS DOUBLE) / 100.0,"
        "       COUNT(*) FROM orders"
    ).fetchone()
    assert got["n_orders"] == n
    assert abs(got["median_price"] - med) < 1e-6
    assert abs(got["mad_price"] - mad) < 1e-6
    n_out = con.execute(
        f"SELECT COUNT(*) FROM orders WHERE abs(o_totalprice - {med}) > {OUTLIER_K} * {mad}"
    ).fetchone()[0]
    assert got["n_outliers"] == n_out


def test_sessionize_matches_bruteforce_on_synthetic_users(spark):
    """Brute-force reference: random-ish (deterministic seed) event times
    per user, sessionized in plain Python, must equal the SQL islands
    form run over the same rows."""
    import random

    from pyspark.sql import Row

    from sales_telegram_bot_data_pipeline_spark.functions.dialect import SPARK as D
    from sales_telegram_bot_data_pipeline_spark.operators.temporal import _sessionize_sql

    rng = random.Random(42)
    rows = []
    eid = 0
    base = 1_700_000_000
    for user in (0, 7, 14):  # pass the user_id % 7 sample filter
        t = base
        for _ in range(40):
            # gaps cluster under the threshold with occasional long silences
            t += rng.choice([5, 60, 600, 1700, 1801, 7200])
            rows.append(Row(event_id=eid, user_id=user, ep=t))
            eid += 1
    # brute-force sessionization
    want = {}
    for user in (0, 7, 14):
        evs = sorted(r.ep for r in rows if r.user_id == user)
        seq = 0
        sessions = []
        for i, ep in enumerate(evs):
            if i == 0 or ep - evs[i - 1] > 1800:
                seq += 1
                sessions.append([ep, ep, 0])
            sessions[-1][1] = ep
            sessions[-1][2] += 1
        for s_i, (a, b, n) in enumerate(sessions, start=1):
            want[(user, s_i)] = (a, b, b - a, n)

    df = spark.createDataFrame(rows).selectExpr(
        "event_id", "user_id", "CAST(timestamp_seconds(ep) AS TIMESTAMP_NTZ) AS ts"
    )
    df.createOrReplaceTempView("sales_telegram_bot_data_pipeline_sess_prop")
    got_rows = spark.sql(
        _sessionize_sql(D, "sales_telegram_bot_data_pipeline_sess_prop")
    ).collect()
    got = {
        (r["user_id"], r["session_seq"]): (
            r["session_start_ep"], r["session_end_ep"], r["duration_s"], r["n_events"]
        )
        for r in got_rows
    }
    assert got == want


def test_robust_median_mad_match_numpy_on_orders(spark):
    """numpy reference for the distributed median/MAD (in addition to the
    DuckDB native-aggregate cross-check): exact equality on integer
    cents."""
    import numpy as np

    got = robust_price_outliers(spark, SF_SMOKE).collect()[0]
    v = np.array(
        [
            int(r[0])
            for r in load_table(spark, SF_SMOKE, "orders")
            .selectExpr("CAST(o_totalprice * 100 AS BIGINT)")
            .collect()
        ],
        dtype="int64",
    )
    med = np.median(v)
    mad = np.median(np.abs(v - med))
    assert abs(got["median_price"] - med / 100.0) < 1e-9
    assert abs(got["mad_price"] - mad / 100.0) < 1e-9


def test_split_drift_flags_injected_skew_and_passes_hash_split(spark):
    """The KS audit must (a) stay quiet on the real hash split (the split
    is distribution-neutral by construction) and (b) fire on an injected
    length/split correlation: docs whose hash routes to test get 100x the
    length."""
    from sales_telegram_bot_data_pipeline_spark.functions.dialect import SPARK as D
    from sales_telegram_bot_data_pipeline_spark.operators.curation import (
        VAL_PCT,
        _split_drift_sql,
    )

    quiet = REGISTRY["split_distribution_drift"].fn(spark, SF_SMOKE).collect()[0]
    assert quiet["drift_flag"] is False
    assert quiet["ks_distance"] <= quiet["ks_critical"]

    # injected skew: recompute each doc_id's hash bucket driver-side and
    # give test-routed docs a length from a disjoint range
    ids = spark.createDataFrame([(i,) for i in range(3000)], "doc_id long")
    h = D.md5_prefix_int(D.strcast("doc_id"))
    skewed = ids.selectExpr(
        "doc_id",
        f"CASE WHEN ({h}) % 100 >= {VAL_PCT} THEN 10000 + doc_id % 50 "
        f"     ELSE 100 + doc_id % 50 END AS n_chars",
    )
    skewed.createOrReplaceTempView("sales_telegram_bot_data_pipeline_drift_skew")
    loud = spark.sql(
        _split_drift_sql(D, "sales_telegram_bot_data_pipeline_drift_skew")
    ).collect()[0]
    assert loud["drift_flag"] is True
    assert loud["ks_distance"] > 0.9  # disjoint supports: CDF gap ~ 1
    assert loud["n_train"] > 0 and loud["n_test"] > 0


def test_split_drift_degrades_on_empty_split(spark):
    """A corpus whose docs ALL hash-route to train has an empty test split;
    the audit must degrade (no statistic -> drift_flag FALSE), not raise —
    Spark's ANSI mode turns the naive CDF /0 into a query error."""
    from sales_telegram_bot_data_pipeline_spark.functions.dialect import SPARK as D
    from sales_telegram_bot_data_pipeline_spark.operators.curation import (
        TRAIN_PCT,
        _split_drift_sql,
    )

    h = D.md5_prefix_int(D.strcast("doc_id"))
    only_train = (
        spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
        .selectExpr("doc_id", "100 + doc_id % 50 AS n_chars")
        .where(f"({h}) % 100 < {TRAIN_PCT}")
    )
    only_train.createOrReplaceTempView("sales_telegram_bot_data_pipeline_drift_onesided")
    row = spark.sql(
        _split_drift_sql(D, "sales_telegram_bot_data_pipeline_drift_onesided")
    ).collect()[0]
    assert row["n_test"] == 0 and row["n_train"] > 0
    assert row["drift_flag"] is False
    assert row["ks_critical"] is None  # no statistic exists for n_te = 0
