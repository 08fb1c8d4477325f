"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import datagen  # noqa: E402
import flyer  # noqa: E402
import qmix  # noqa: E402
import run  # noqa: E402
from stats import Ledger, checked_item, digest, tail  # noqa: E402
from tracing import Span, Tracer, install, layer_self_time, self_times, span_summary  # noqa: E402


# -- same seed, same inputs -------------------------------------------------
def test_same_seed_gives_identical_tables():
    a, b = datagen.tables(0.001, 5), datagen.tables(0.001, 5)
    assert a.keys() == b.keys()
    for name in a:
        assert a[name].equals(b[name]), name


def test_other_seed_gives_other_rows_of_the_same_shape():
    a, b = datagen.tables(0.001, 5), datagen.tables(0.001, 6)
    for name in a:
        assert a[name].schema == b[name].schema
        assert a[name].num_rows == b[name].num_rows
    assert not a["lineitem"].equals(b["lineitem"])


def test_flyer_batches_are_seeded_and_fresh(tmp_path):
    b1 = flyer.make_batch(3, 4, str(tmp_path / "x"))
    b2 = flyer.make_batch(3, 4, str(tmp_path / "y"))
    assert (b1.keys, b1.meta, b1.today) == (b2.keys, b2.meta, b2.today)
    assert (tmp_path / "x" / "batch_0004" / "part.parquet").read_bytes() == (
        tmp_path / "y" / "batch_0004" / "part.parquet"
    ).read_bytes()
    nxt = flyer.make_batch(3, 5, str(tmp_path / "x"))
    warm = flyer.make_batch(3, 4, str(tmp_path / "x"), warm_up=True)
    assert not set(nxt.keys) & set(b1.keys)
    assert not set(warm.keys) & set(b1.keys)
    assert nxt.today > b1.today  # the revalidation date advances batch by batch


def test_query_sample_is_seeded_and_stratified():
    names = [f"q{i:02d}" for i in range(40)]
    cost = {n: 1.0 + i / 10 for i, n in enumerate(names)}
    s1, s2 = qmix.sample(names, 8, 11, 1, cost), qmix.sample(names, 8, 11, 1, cost)
    assert s1 == s2
    assert qmix.sample(names, 8, 12, 1, cost) != s1
    # one pick from each fifth-of-the-list stratum, whatever the order
    strata = sorted(int(n[1:]) // 5 for n in s1)
    assert strata == list(range(8))


def test_frozen_lists_are_disjoint_and_sampled_from():
    lists = qmix.load_lists()
    eager, exec_bound = lists["query_eager_build"], lists["query_exec_bound"]
    assert eager and exec_bound
    assert not set(eager) & set(exec_bound)
    assert not set(lists["excluded"]) & (set(eager) | set(exec_bound))
    for name, salt in (("query_eager_build", 1), ("query_exec_bound", 2)):
        cost = lists[f"{name}_warm_s"]
        for seed in range(3):
            picks = qmix.sample(lists[name], run.SAMPLE_SIZE[name], seed, salt, cost=cost)
            assert picks == qmix.sample(lists[name], run.SAMPLE_SIZE[name], seed, salt, cost=cost)
            assert len(picks) == run.SAMPLE_SIZE[name] and set(picks) <= set(lists[name])


# -- the tail-percentile rule -----------------------------------------------
def test_tail_has_ten_samples_beyond_it():
    values = [float(i) for i in range(1, 101)]  # 1..100
    v, pct, n = tail(values)
    assert (v, pct, n) == (90.0, 90.0, 100)
    assert sum(x > v for x in values) == 10


def test_tail_is_order_independent_and_moves_with_sample_count():
    values = [float(i) for i in range(40, 0, -1)]
    v, pct, n = tail(values)
    assert (v, pct, n) == (30.0, 75.0, 40)
    v, pct, n = tail(values[:20])  # 40..21
    assert (v, pct, n) == (30.0, 50.0, 20)


def test_tail_below_twenty_samples_falls_back_to_the_median():
    # fewer than 2 x 10 samples: every percentile with ten beyond it lies
    # below the median, so the median is reported and labelled p50
    assert tail([3.0, 1.0, 2.0]) == (2.0, 50.0, 3)
    assert tail([float(i) for i in range(19)]) == (9.0, 50.0, 19)
    assert tail([4.0, 8.0]) == (6.0, 50.0, 2)
    with pytest.raises(ValueError):
        tail([])


# -- self time from nested spans -------------------------------------------
def _clock(times):
    it = iter(times)
    return lambda: next(it)


def test_self_time_subtracts_children():
    spans = [
        Span("bench.item", 0.0, 10.0),
        Span("operators.build", 1.0, 7.0, parent=0),
        Span("session.materialize_once", 2.0, 4.0, parent=1),
        Span("sources.load_table", 5.0, 6.0, parent=1),
        Span("exec.collect", 7.0, 9.5, parent=0),
    ]
    assert self_times(spans) == [1.5, 3.0, 2.0, 1.0, 2.5]
    assert layer_self_time(spans) == {
        "bench": 1.5, "operators": 3.0, "session": 2.0, "sources": 1.0, "exec": 2.5,
    }
    assert span_summary(spans + [Span("exec.collect", 10.0, 11.0)])["exec.collect"] == [2, 3.5, 3.5]


def test_tracer_records_parents_and_items():
    t = Tracer(clock=_clock(range(100)))
    t.item = "p0i0"
    with t.span("bench.item"):
        with t.span("operators.build"):
            pass
        with t.span("exec.collect"):
            pass
    names = [(s.name, s.parent, s.item) for s in t.spans]
    assert names == [
        ("bench.item", None, "p0i0"),
        ("operators.build", 0, "p0i0"),
        ("exec.collect", 0, "p0i0"),
    ]
    assert sum(self_times(t.spans)) == pytest.approx(t.spans[0].duration)


def test_overlapping_children_are_not_counted_twice():
    spans = [Span("a.x", 0.0, 10.0), Span("b.y", 1.0, 5.0, parent=0), Span("c.z", 3.0, 6.0, parent=0)]
    assert self_times(spans)[0] == 5.0


def test_install_wraps_every_binding_and_restores(monkeypatch):
    import types

    pkg = types.ModuleType("pbfake")
    core = types.ModuleType("pbfake.core")
    user = types.ModuleType("pbfake.user")

    def helper(x):
        return x + 1

    core.helper = helper
    user.helper = helper  # ``from .core import helper``
    user.alias = helper
    for m in (pkg, core, user):
        monkeypatch.setitem(sys.modules, m.__name__, m)
    t = Tracer()
    undo = install([("pbfake.core", "helper", lambda fn: t.wrap(fn, "session.helper"))], "pbfake")
    assert user.helper(1) == 2 and user.alias(2) == 3 and core.helper(0) == 1
    assert [s.name for s in t.spans] == ["session.helper"] * 3
    undo()
    assert core.helper is helper and user.helper is helper and user.alias is helper


# -- failures: wrong outputs and conf changes -------------------------------
def test_digest_is_order_insensitive_and_type_tagged():
    cols = ["b", "a"]
    d1 = digest(cols, [(1, "x"), (2, "y")])
    assert d1 == digest(["a", "b"][::-1], [(2, "y"), (1, "x")])
    assert digest(cols, [(1.0, "x"), (2, "y")]) != d1  # DOUBLE 1.0 is not BIGINT 1
    assert digest(cols, [(1, "x")]) != d1


def test_failed_ratio_counts_wrong_outputs_and_conf_changes():
    conf = {"spark.sql.adaptive.enabled": "true", "spark.sql.shuffle.partitions": "32", "md5": "a"}
    ref = digest(["x"], [(1,)])

    def fingerprint():
        return dict(conf)

    def check(out):
        return [] if digest(["x"], out) == ref else ["wrong result"]

    def flip_aqe():
        conf["spark.sql.adaptive.enabled"] = "false"  # a fixed_plan that never restored
        return [(1,)]

    def boom():
        raise RuntimeError("query failed")

    ledger = Ledger()
    for name, run in [("ok", lambda: [(1,)]), ("wrong", lambda: [(2,)]),
                      ("conf", flip_aqe), ("raised", boom), ("ok2", lambda: [(1,)])]:
        lat, errors = checked_item(run, check, fingerprint, clock=_clock(range(100)))
        assert lat == 1
        ledger.record(name, errors)
    assert ledger.attempted == 5 and ledger.failed == 3
    assert ledger.failed_ratio == 0.6
    assert [f[0] for f in ledger.failures] == ["wrong", "conf", "raised"]
    assert "spark.sql.adaptive.enabled" in ledger.failures[1][1]
    assert "query failed" in ledger.failures[2][1]


# -- the stub-model replica agrees with the page layout ----------------------
def test_expected_pages_follow_the_page_rule():
    pages = flyer.expected_pages([3, 4, 5], ("A", "B"))
    assert [p["image_id"] for p in pages] == [
        "pages/valid/part_3_page_1.png",
        "pages/valid/part_4_page_1.png", "pages/valid/part_4_page_2.png",
        "pages/valid/part_5_page_1.png", "pages/valid/part_5_page_2.png", "pages/valid/part_5_page_3.png",
    ]
    assert [p["shop_name"] for p in pages][:2] == ["B", "A"]


# -- no process outlives a run ------------------------------------------------
_ORPHANS = """
import os, subprocess, sys, time
sys.path.insert(0, sys.argv[1])
import run
run.become_subreaper()
# each shell exits at once and leaves its background sleep orphaned
short = subprocess.run(["sh", "-c", "sleep 0.5 >/dev/null 2>&1 & echo $!"], capture_output=True, text=True)
stuck = subprocess.run(["sh", "-c", "sleep 60 >/dev/null 2>&1 & echo $!"], capture_output=True, text=True)
t0 = time.monotonic()
run.reap_children(timeout=2.0)
waited = time.monotonic() - t0
print(int(short.stdout), int(stuck.stdout), waited)
"""


def test_reap_children_waits_for_orphans_and_kills_the_stuck():
    import os
    import subprocess

    out = subprocess.run([sys.executable, "-c", _ORPHANS, str(HERE)],
                         capture_output=True, text=True, check=True, timeout=30)
    short, stuck, waited = out.stdout.split()
    assert not os.path.exists(f"/proc/{short}") and not os.path.exists(f"/proc/{stuck}")
    assert 2.0 <= float(waited) < 10.0  # waited for both, killed the second at the deadline
