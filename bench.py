"""Benchmark runner: executes EVERY registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints a
compact FINAL JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"n_queries": N, "sf": ..., "detail": "BENCH_DETAIL.json"}.  The full
per-query map goes to BENCH_DETAIL.json (the driver's tail capture once
truncated a long stdout line — round-4 postmortem).

Coverage: the whole registry, not a curated headline set (round-5 verdict
task 1: 72 registered queries had no bench row, so a perf regression there
was invisible).  Every query is collected (fully materialized) so measured
time includes the whole plan, not just lazy construction.

Sampling, sized to fit the driver's ~580 s budget at 161 queries (a
serial warm-up-everything + min-of-3-everything sweep measured 9m40s and
timed out):

- A PARALLEL warm-up pass (4 collect threads — the Spark scheduler
  interleaves the jobs, and whole-stage-codegen compilation is JVM-side
  parallel work the single-query sweep leaves idle) absorbs per-plan-shape
  compile cost before any timing: measured, detected_data_pipeline's first
  sf0.1 run is 9.6 s vs 3.0 s steady state.  Untimed, so job interleaving
  cannot pollute any number.  The warm-up also PRE-BUILDS every
  materialize-once session view (session.session_view: shingles, shingle-df,
  LSH pairs, detection feed, ...) because it executes every query once —
  so no TIMED row ever absorbs a view build and per-row timings are
  order-independent (ADVICE r10); `--quiet-head` gets the same guarantee
  from its serial warm-up loop.  PLANS.md's `stored` column shows which
  window rows read such views (they measure read cost only).
- The timed phase is two-pass, coverage-first.  PASS 1 takes ONE steady
  sample of every query, slowest-first (any fixed-samples-per-query
  policy starves the tail: at 229 queries, 2-samples-each left 141
  queries on contention-inflated warm-up fallbacks before the hard
  deadline — round-6 postmortem).  PASS 2 re-samples: EVERY query whose
  pass-1 sample exceeds FLAG_SEC is MANDATORY min-of-2 and gated only by
  the HARD deadline (round-7 postmortem: the soft gate let the final
  checked-in sweep ship 50 single contention-inflated samples >2 s —
  anything the OPERATORS.md flag list calls slow must carry min-of-2
  evidence); whatever budget remains under SOFT then refines the rest
  slowest-first; min of the samples, plus a variance-triggered third
  only when the two samples disagree by more than SPREAD_THRESHOLD.
  BENCH_DETAIL.json records per-query n_samples and the fallback name
  list so consumers can weigh rows.
- `bench.py --quiet-head N` (round-7 verdict item 8): after a full
  sweep, re-measure ONLY the top-N slowest rows min-of-2 in a quiet
  session and merge them back into BENCH_DETAIL.json — contention-free
  evidence for the head without repaying the whole sweep.
- Deadline guards: PASS 2's optional tail stops at SOFT (default 440 s;
  the mandatory flag set runs to HARD); PASS 1 falls
  back to the warm-up time (real execution, contention-inflated upper
  bound, never a re-run) past HARD (default 510 s) — a catastrophic-host
  backstop that normally never fires, since pass 1 costs roughly the
  steady-state registry total (~280 s at sf0.1, 234 queries).
- Python gc runs between timings so py4j reference-release backlogs aren't
  attributed to an innocent query.

Override the benched set with $SPARK_GRAFT_BENCH_QUERIES (comma-separated),
force a fixed per-query sample count with $SPARK_GRAFT_BENCH_PASSES, and
tune the guards with $SPARK_GRAFT_BENCH_SOFT_DEADLINE /
$SPARK_GRAFT_BENCH_HARD_DEADLINE / $SPARK_GRAFT_BENCH_WARM_PAR.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from sales_telegram_bot_data_pipeline_spark import queries as q
from sales_telegram_bot_data_pipeline_spark.session import get_spark

SPREAD_THRESHOLD = 0.25  # min-relative spread of 2 samples that earns a third
FLAG_SEC = 2.0  # OPERATORS.md slow-flag line; every row above it needs >=2 samples


def _sync_operators_md(detail_path: str, full_registry: bool) -> None:
    """Keep the generated bench block in OPERATORS.md in sync with the
    detail artifact this run just wrote, so ANY full bench run (the
    driver's per-round refresh included) maintains the
    test_operators_md_bench_block_is_fresh invariant automatically.
    Skipped for subset runs / redirected detail paths — their totals
    would misrepresent the registry."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent
    detail = pathlib.Path(detail_path).resolve()
    # compare resolved paths, not the raw string: a bench run from a
    # non-root CWD writes its artifact to CWD and must not resync
    # OPERATORS.md from a stale repo-root copy (ADVICE r11)
    if not full_registry or detail != root / "BENCH_DETAIL.json":
        return
    try:
        from sales_telegram_bot_data_pipeline_spark.bench_summary import rewrite

        md = root / "OPERATORS.md"
        if rewrite(md, detail_path=detail):
            print("[bench] OPERATORS.md bench block resynced", file=sys.stderr)
    except Exception as exc:  # never fail the bench over a doc rewrite
        print(f"[bench] OPERATORS.md resync skipped: {exc}", file=sys.stderr)


def _protocol_fields(times: dict, samples: dict, fallback: list) -> dict:
    """deadline_hit + unfinished-phase list for the JSON artifact (VERDICT
    r11 item 7): a deadline-compromised artifact is machine-distinguishable
    from a steady one without cross-referencing fallback/n_samples."""
    flag_single = sorted(
        n for n in times if times[n] > FLAG_SEC and samples.get(n, 1) < 2
    )
    unfinished = []
    if fallback:
        unfinished.append("pass1_steady_coverage")
    if flag_single:
        unfinished.append("pass2_mandatory_min2")
    return {
        "deadline_hit": bool(unfinished),
        "protocol_unfinished": unfinished,
        "flagged_single_sample": flag_single,
    }


def quiet_head(n_head: int) -> int:
    """Re-measure ONLY the top-N slowest rows of an existing
    BENCH_DETAIL.json, min-of-2 each, in an otherwise-quiet session (no
    286-query sweep contention), and merge the refreshed numbers back into
    the detail file + reprint the two stdout JSON lines.  The standing
    answer to round-7's finding that full-sweep samples overstate the
    steady state by ~10-20%: after `python bench.py`, run
    `python bench.py --quiet-head 50` for contention-free head evidence."""
    detail_path = os.environ.get("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    with open(detail_path) as fh:
        out = json.load(fh)
    head = [
        n for n, _ in sorted(out["queries"].items(), key=lambda kv: -kv[1])
        if n in q.REGISTRY
    ][:n_head]
    spark = get_spark(app_name="sales_telegram_bot_data_pipeline_spark-bench-quiet")
    for name in head:  # serial warm-up: quiet is the point
        q.REGISTRY[name].fn(spark, sf_dir).collect()
    for name in head:
        gc.collect()
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            q.REGISTRY[name].fn(spark, sf_dir).collect()
            runs.append(time.perf_counter() - t0)
        out["queries"][name] = round(min(runs), 3)
        out["n_samples"][name] = max(out["n_samples"].get(name, 0), 2)
        if name in out.get("fallback", []):
            out["fallback"].remove(name)
    out["value"] = round(sum(out["queries"].values()), 3)
    out["quiet_head"] = head
    out.update(_protocol_fields(
        out["queries"], out.get("n_samples", {}), out.get("fallback", [])
    ))
    with open(detail_path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(out))
    print(json.dumps({
        "metric": out["metric"], "value": out["value"], "unit": "sec",
        "n_queries": len(out["queries"]), "sf": out["sf"],
        "detail": detail_path,
        "deadline_hit": out["deadline_hit"],
        "n_protocol_unfinished": len(out["protocol_unfinished"]),
    }))
    _sync_operators_md(detail_path, full_registry=len(out["queries"]) == len(q.REGISTRY))
    spark.stop()
    return 0


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    soft_deadline = float(os.environ.get("SPARK_GRAFT_BENCH_SOFT_DEADLINE", "440"))
    # 545 (was 510): the driver allots ~580 s and the post-timed tail
    # (detail write + spark.stop) costs ~3 s; at 292 queries the old 510
    # left the last ~12 mandatory >FLAG_SEC min-of-2 refinements unrun
    hard_deadline = float(os.environ.get("SPARK_GRAFT_BENCH_HARD_DEADLINE", "545"))
    forced_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "0"))
    # 12 warm threads (was 8): the warm-up is untimed and the host has 32
    # cores, so more interleaving just shortens the uncounted phase and
    # leaves more wall budget for the mandatory >FLAG_SEC min-of-2 pass
    warm_par = int(os.environ.get("SPARK_GRAFT_BENCH_WARM_PAR", "12"))
    t_start = time.perf_counter()
    spark = get_spark(app_name="sales_telegram_bot_data_pipeline_spark-bench")
    # full registry in driver-facing order (oracle-backed first, rows-only
    # last — same order __spark_entry__.queries() exposes)
    names = list(q.queries())
    extra = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if extra:
        names = [n for n in extra.split(",") if n in q.REGISTRY]

    warm_t: dict[str, float] = {}
    warm_failed: set[str] = set()

    def _warm(name: str) -> None:
        t0 = time.perf_counter()
        try:
            q.REGISTRY[name].fn(spark, sf_dir).collect()
        except Exception:
            # the timed phase surfaces real failures serially — but ONLY if
            # this query still gets a timed run, so remember the failure:
            # the hard-deadline fallback must never report a crashed
            # query's tiny exception-elapsed time as a green benchmark row
            warm_failed.add(name)
        warm_t[name] = time.perf_counter() - t0

    with ThreadPoolExecutor(max_workers=max(1, warm_par)) as pool:
        list(pool.map(_warm, names))
    print(
        f"[bench] warmup done at {time.perf_counter() - t_start:.1f}s "
        f"({len(names)} queries, par={warm_par})",
        file=sys.stderr,
    )

    # Slowest-first (warm-up times are contention-inflated but fine for
    # ORDERING): deadline clamps then degrade only the cheap tail.
    names = sorted(names, key=lambda n: -warm_t.get(n, 0.0))

    run_counter = [0]

    def _timed_run(name: str) -> float:
        # gc every few runs, not every run: a full collect over the py4j
        # object graph costs ~100-200 ms and 234 of them ate pass-2's
        # refinement budget; every-8th still drains release backlogs
        run_counter[0] += 1
        if run_counter[0] % 8 == 1:
            gc.collect()
        t0 = time.perf_counter()
        q.REGISTRY[name].fn(spark, sf_dir).collect()
        return time.perf_counter() - t0

    times: dict[str, float] = {}
    samples: dict[str, int] = {}  # steady timed samples behind each number
    fallback_names: list[str] = []  # warm-time rows (contention-inflated)
    n_refined = 0
    if forced_passes:
        for name in names:
            times[name] = round(min(_timed_run(name) for _ in range(forced_passes)), 3)
            samples[name] = forced_passes
    else:
        # PASS 1 — one steady sample for EVERY query, slowest-first.  Full
        # real-measurement coverage is the invariant: at 229 queries a
        # 2-samples-each default left 141 queries on contention-inflated
        # warm-up fallbacks before the hard deadline (round-6 postmortem).
        for name in names:
            if (
                time.perf_counter() - t_start > hard_deadline
                and name not in warm_failed
            ):
                # catastrophic-host backstop only: the warm-up run (real
                # SUCCESSFUL execution, contention-inflated upper bound)
                # stands; a warm-failed query always runs timed so its
                # exception surfaces instead of a bogus sub-second row
                times[name] = round(warm_t.get(name, 0.0), 3)
                samples[name] = 0
                fallback_names.append(name)
            else:
                times[name] = round(_timed_run(name), 3)
                samples[name] = 1
        # PASS 2 — re-sample.  The >FLAG_SEC set is MANDATORY and gated
        # only by the HARD deadline (round-7 postmortem: the soft gate let
        # the final checked-in sweep ship 50 single contention-inflated
        # samples >2 s, violating the round-6 min-of-2 mandate — every
        # number the OPERATORS.md flag list reports as slow must carry
        # min-of-2 evidence; the mandatory set is bounded, ~50 queries x
        # a few seconds).  Whatever budget remains under the SOFT deadline
        # then refines the rest slowest-first.  Min of the samples; a
        # third tiebreak only when the two disagree by >SPREAD_THRESHOLD.
        by_slowest = sorted(times, key=lambda n: -times[n])
        flagged = [n for n in by_slowest if times[n] > FLAG_SEC]
        rest = [n for n in by_slowest if times[n] <= FLAG_SEC]
        for name in flagged + rest:
            mandatory = name in flagged
            deadline = hard_deadline if mandatory else soft_deadline
            if time.perf_counter() - t_start > deadline:
                break  # soft<hard and flagged sort first: nothing left fits
            n_refined += 1
            second = _timed_run(name)
            samples[name] += 1
            best = min(times[name], second)
            if (
                abs(second - times[name]) / max(best, 1e-9) > SPREAD_THRESHOLD
                and time.perf_counter() - t_start < deadline
            ):
                best = min(best, _timed_run(name))
                samples[name] += 1
            times[name] = round(best, 3)
            if name in fallback_names:
                fallback_names.remove(name)  # upgraded to a steady sample

    print(
        f"[bench] timed phase done at {time.perf_counter() - t_start:.1f}s; "
        f"{len(fallback_names)} warm-time fallbacks; "
        f"{n_refined} pass-2 refinements; "
        f"{sum(1 for n in times if times[n] > FLAG_SEC and samples[n] < 2)} "
        f">FLAG_SEC rows below min-of-2",
        file=sys.stderr,
    )
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_query_wall_clock_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        # per-query provenance so downstream consumers can weigh each number:
        # n_samples = steady timed runs behind the reported min (0 = warm-time
        # fallback row, contention-inflated upper bound — also listed in
        # `fallback` so they're excludable without cross-referencing)
        "n_samples": samples,
        "fallback": sorted(fallback_names),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    out.update(_protocol_fields(times, samples, fallback_names))
    # The driver captures only the TAIL of stdout; with per-query entries
    # the full map once overflowed the capture and the head of the line
    # (metric/value) was cut off, leaving the driver with parsed:null
    # (round 4).  So: write the full per-query map to a file artifact, and
    # make the FINAL stdout line a compact total-only JSON whose last bytes
    # always carry the headline number.
    detail_path = os.environ.get("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")
    try:
        with open(detail_path, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError:
        pass  # bench result still goes to stdout below
    print(json.dumps(out))  # full line first: head may be lost to tail capture
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "n_queries": len(times),
        "sf": out["sf"],
        "detail": detail_path,
        # VERDICT r11 item 7: the FINAL captured line says whether the
        # sampling protocol finished, so a deadline-compromised total is
        # self-explaining without reading the detail artifact
        "deadline_hit": out["deadline_hit"],
        "n_protocol_unfinished": len(out["protocol_unfinished"]),
    }
    print(json.dumps(compact))  # LAST line is short: always survives capture
    _sync_operators_md(detail_path, full_registry=len(times) == len(q.REGISTRY))
    spark.stop()
    return 0


if __name__ == "__main__":
    if len(sys.argv) >= 2 and sys.argv[1] == "--quiet-head":
        sys.exit(quiet_head(int(sys.argv[2]) if len(sys.argv) > 2 else 50))
    sys.exit(main())
