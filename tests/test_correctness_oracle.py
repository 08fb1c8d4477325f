"""Replicates the driver's DuckDB-oracle gate at sf0.001 for every registered
query (fast); the full sf0.01 sweep runs via ``python -m
sales_telegram_bot_data_pipeline_spark.oracle``.  Any failure here would fail the driver's
CORRECTNESS check too.
"""

from __future__ import annotations

import pytest

import sales_telegram_bot_data_pipeline_spark.queries as q
from sales_telegram_bot_data_pipeline_spark.oracle import compare_query, duckdb_connection

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def con():
    c = duckdb_connection(SF_SMOKE)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(q.REGISTRY))
def test_query_matches_oracle(spark, con, name):
    r = compare_query(spark, con, name, SF_SMOKE)
    assert r.ok, r.detail


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema) > 0


def test_registry_contract():
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 18


def test_driver_window_is_all_oracle():
    """The driver's CORRECTNESS gate checks the first 50 queries() entries:
    every one must be oracle-backed (no rows-only row burning a checked
    slot) and rows-only queries must sort last."""
    import __spark_entry__ as entry_mod
    from sales_telegram_bot_data_pipeline_spark.queries import _DRIVER_WINDOW

    names = list(entry_mod.queries())
    oracles = set(entry_mod.oracle_sql())
    assert len(_DRIVER_WINDOW) == 50
    assert names[:50] == _DRIVER_WINDOW
    assert all(n in oracles for n in names[:50])
    tail_oracle_flags = [n in oracles for n in names[50:]]
    # oracle-backed extras first, rows-only strictly last
    assert tail_oracle_flags == sorted(tail_oracle_flags, reverse=True)


def test_rotation_candidates_are_registered_outside_the_window():
    """The next rotation's candidates must be real oracle-backed queries
    that are not already in the driver window."""
    from sales_telegram_bot_data_pipeline_spark.queries import (
        _DRIVER_WINDOW,
        _ROTATION_CANDIDATES,
    )

    assert len(set(_ROTATION_CANDIDATES)) == len(_ROTATION_CANDIDATES)
    for name in _ROTATION_CANDIDATES:
        assert name in q.REGISTRY, name
        assert q.REGISTRY[name].oracle is not None, name
        assert name not in _DRIVER_WINDOW, name


def test_operators_md_counts_match_registry():
    """OPERATORS.md's headline registry counts must track the code (went
    stale in round 3's capstone commit)."""
    import pathlib
    import re

    text = (pathlib.Path(__file__).resolve().parent.parent / "OPERATORS.md").read_text()
    m = re.search(r"\((\d+) oracle-backed against\s+DuckDB, (\d+) rows-only", text)
    assert m, "OPERATORS.md count sentence not found"
    n_oracle = sum(1 for v in q.REGISTRY.values() if v.oracle is not None)
    assert int(m.group(1)) == n_oracle
    assert int(m.group(2)) == len(q.REGISTRY) - n_oracle


@pytest.mark.parametrize(
    "name", sorted(n for n in q.REGISTRY if q.REGISTRY[n].oracle is not None)
)
def test_oracle_declares_no_int128(con, name):
    """DuckDB-only sweep (no Spark, cheap): an uncast integer SUM comes back
    HUGEINT, which the driver's typed hash can never match against Spark's
    BIGINT — three round-3 driver reds shared exactly this cause.  Pin every
    oracle's declared result types to classes Spark can emit."""
    from sales_telegram_bot_data_pipeline_spark.oracle import _type_class

    rel = con.sql(q.REGISTRY[name].oracle)
    offenders = {c: str(t) for c, t in zip(rel.columns, rel.types) if _type_class(t) == "int128"}
    assert not offenders, f"int128-typed oracle columns (driver hash can never match): {offenders}"


def test_type_guard_trips_on_seeded_hugeint_drift(spark):
    """Negative self-test of the round-3 postmortem fix: a query whose
    values match but whose DuckDB oracle emits an uncast integer SUM
    (HUGEINT) while Spark emits BIGINT must FAIL the local replica — this
    is exactly the drift class that sailed through 187 green tests and
    broke three driver rows in round 3."""
    from sales_telegram_bot_data_pipeline_spark.oracle import compare_query
    from sales_telegram_bot_data_pipeline_spark.registry import REGISTRY, Query

    name = "__selftest_hugeint_drift"

    def fn(sp, sf_dir):
        from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table

        load_table(sp, sf_dir, "documents").createOrReplaceTempView("__st_docs")
        # Spark SUM(int) -> BIGINT
        return sp.sql("SELECT SUM(n_chars) AS total FROM __st_docs")

    # DuckDB SUM(int) -> HUGEINT (uncast on purpose)
    REGISTRY[name] = Query(name=name, fn=fn, oracle="SELECT SUM(n_chars) AS total FROM documents")
    try:
        con = duckdb_connection(SF_SMOKE)
        r = compare_query(spark, con, name, SF_SMOKE)
        assert not r.ok, "type guard failed to trip on BIGINT-vs-HUGEINT drift"
        assert "int" in r.detail.lower() or "type" in r.detail.lower(), r.detail
    finally:
        del REGISTRY[name]


def test_registry_md_is_fresh():
    """REGISTRY.md (the generated query index) must match the live
    registry — regenerate with
    `python -m sales_telegram_bot_data_pipeline_spark.registry_report`."""
    import pathlib

    from sales_telegram_bot_data_pipeline_spark.registry_report import render

    path = pathlib.Path(__file__).resolve().parent.parent / "REGISTRY.md"
    assert path.read_text() == render()


def test_registry_md_derives_from_committed_artifacts():
    """The rotation-debt numbers in REGISTRY.md derive from the
    CORRECTNESS_r*.json files on disk; every artifact the committed
    report was generated from must be git-tracked, or a fresh clone
    regenerates a DIFFERENT report than the one committed (ADVICE r10)."""
    import pathlib
    import subprocess

    root = pathlib.Path(__file__).resolve().parent.parent
    on_disk = {p.name for p in root.glob("CORRECTNESS_r*.json")}
    tracked = set(
        subprocess.run(
            ["git", "ls-files", "CORRECTNESS_r*.json"],
            cwd=root,
            capture_output=True,
            text=True,
            check=True,
        ).stdout.split()
    )
    missing = sorted(on_disk - tracked)
    assert not missing, (
        f"untracked driver artifacts feed REGISTRY.md: {missing} — "
        "commit them in the same change that regenerates the report"
    )


def test_operators_md_bench_block_is_fresh():
    """The closing bench numbers in OPERATORS.md are a GENERATED block —
    they must match BENCH_DETAIL.json exactly; regenerate with
    `python -m sales_telegram_bot_data_pipeline_spark.bench_summary`.
    (Stale hand-written bench prose was flagged by three verdicts.)"""
    import pathlib

    from sales_telegram_bot_data_pipeline_spark.bench_summary import BEGIN, END, render_block

    path = pathlib.Path(__file__).resolve().parent.parent / "OPERATORS.md"
    text = path.read_text()
    assert BEGIN in text and END in text, "sentinel markers missing"
    block = text.split(BEGIN, 1)[1].split(END, 1)[0].strip("\n")
    rendered = render_block()

    def _drop_cmp(s: str) -> str:
        # the cross-round comparison line is git-history-derived; in a
        # shallow clone / sdist export it is absent from the fresh render
        # — tolerate its presence-or-absence, not its content drift
        # (ADVICE r12)
        return "\n".join(
            ln for ln in s.splitlines()
            if not ln.startswith("Vs previous committed artifact")
        )

    if "Vs previous committed artifact" not in rendered:
        block, rendered = _drop_cmp(block), _drop_cmp(rendered)
    assert block == rendered, (
        "OPERATORS.md bench block is stale — rerun "
        "python -m sales_telegram_bot_data_pipeline_spark.bench_summary"
    )


def test_operators_md_no_totals_outside_block():
    """No bench RUN TOTAL may appear in OPERATORS.md outside the generated
    sentinel block (VERDICT r11 task 4: hand-written delta prose quoting
    totals contradicted the generated block directly below it).  Per-query
    numbers are fine; 'X s / N queries'-shaped totals and 'totaled X'
    phrasings are not."""
    import pathlib
    import re

    from sales_telegram_bot_data_pipeline_spark.bench_summary import BEGIN, END

    path = pathlib.Path(__file__).resolve().parent.parent / "OPERATORS.md"
    text = path.read_text()
    head, rest = text.split(BEGIN, 1)
    _, tail = rest.split(END, 1)
    outside = head + tail
    pat = re.compile(r"\d+\.\d+ ?s */ *\d+|totaled \d")
    hits = [
        line.strip()
        for line in outside.splitlines()
        if pat.search(line)
    ]
    assert not hits, (
        f"run totals outside the generated bench block: {hits} — move the "
        "number into BENCH_DETAIL.json (the block regenerates from it)"
    )


def test_local_sweep_recorded_at_final_code():
    """VERDICT r11 task 5: sweep artifacts must be recorded on final code
    (the committed r11 sf0.1 sweep predated the spearman-fuse commit).
    Mechanism: the oracle replica stamps `code_tree` (md5 of the package's
    .py files) + `git_head` + `git_dirty` into every LOCAL_CORRECTNESS
    artifact it writes.  Always-on: the newest stamped sf0.1 sweep must
    not have run on a dirty package tree.  With SPARK_GRAFT_CLOSE_CHECK=1
    (the closing-verification pass), additionally assert the stamp equals
    the CURRENT package tree — i.e. no operator-touching change landed
    after the sweep.  Strictness is env-gated because mid-round operator
    work legitimately postdates last round's sweep."""
    import json
    import os
    import pathlib
    import re

    from sales_telegram_bot_data_pipeline_spark.oracle import code_tree_hash

    root = pathlib.Path(__file__).resolve().parent.parent
    stamped = []
    for p in root.glob("LOCAL_CORRECTNESS_r*_sf01.json"):
        d = json.loads(p.read_text())
        if "code_tree" in d:
            rnum = int(re.search(r"_r(\d+)_", p.name).group(1))
            stamped.append((rnum, p.name, d))
    if not stamped:
        import pytest

        pytest.skip("no stamped sf0.1 sweep artifact yet (pre-round-12)")
    rnum, name, d = max(stamped)
    assert not d.get("git_dirty"), (
        f"{name} was swept on a DIRTY package tree (git_head "
        f"{d.get('git_head', '')[:12]}) — re-run the sweep after committing"
    )
    if os.environ.get("SPARK_GRAFT_CLOSE_CHECK"):
        assert d["code_tree"] == code_tree_hash(), (
            f"{name} (git_head {d.get('git_head', '')[:12]}) was swept on a "
            "DIFFERENT package tree than the current one — operator code "
            "changed after the closing sweep; freeze ops and re-sweep"
        )
