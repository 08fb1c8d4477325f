"""Measure the frozen registry queries on generated tables, as the
benchmark runs them, and update ``workloads.json``.

For each seed the tables are generated at the benchmark's scale and the
queries of ``classified.json`` are shuffled into groups of the benchmark's
sample size.  Each group runs in a fresh process with a fresh Spark
session, in the benchmark's rhythm: one cold pass over the group, then
two warm passes (build plus ``collect()``).  A query's cost is its median
warm item time over the seeds, so it carries the same fresh-JVM overheads
the benchmark's timed items pay.  Every answer is compared with the
DuckDB oracle (oracle-backed queries) or with the cold answer (rows-only
queries).

The queries in ``EXCLUDED`` are skipped; each entry names the defect that
keeps it out.  Any other query that raises or answers wrongly on any seed
makes the script exit 1 without writing anything, so a new defect is
reported instead of silently leaving the benchmark.  Otherwise each
calibrated workload's entries in ``workloads.json`` are replaced: its
queries ordered by cost, the costs, and the seeds (``calibration_seeds``);
the entries of workloads not named in ``--lists`` are kept as they are.

Usage, from the repository root:

    python3 perfbench/calibrate.py --seeds 1 2 --lists query_eager_build
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
LISTS = ("query_eager_build", "query_exec_bound")
EXCLUDED = {
    "price_histogram_equiwidth": (
        "wrong answer on generated seed-1 tables: 250470.26 where DuckDB answers "
        "250470.27 (a rounding defect of the query)"
    ),
}


def run_group(data_dir: str, names: list[str]) -> dict[str, dict]:
    """One cold and two warm passes over ``names`` in a new session; per
    query its three item times and answers.  Runs in its own process."""
    from harness import _stop_jvm
    from stats import digest

    from sales_telegram_bot_data_pipeline_spark.queries import queries
    from sales_telegram_bot_data_pipeline_spark.session import get_spark

    fns = queries()
    spark = get_spark(app_name="perfbench-calibrate", cpus=len(os.sched_getaffinity(0)))
    out = {n: {"s": [], "answers": []} for n in names}
    try:
        for _ in range(3):
            for name in names:
                try:
                    t0 = time.perf_counter()
                    df = fns[name](spark, data_dir)
                    rows = [tuple(r) for r in df.collect()]
                    out[name]["s"].append(time.perf_counter() - t0)
                    out[name]["answers"].append(digest(list(df.columns), rows))
                except Exception as e:  # reported by the caller; the group goes on
                    out[name]["answers"].append(f"{type(e).__name__}: {str(e)[:200]}")
    finally:
        spark.stop()
        _stop_jvm()
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--lists", nargs="+", choices=LISTS, default=list(LISTS))
    ap.add_argument("--out", default=str(HERE / "workloads.json"))
    args = ap.parse_args(argv)

    sys.path[:0] = [str(ROOT), str(HERE)]
    import datagen
    import qmix
    import run

    work = Path(tempfile.mkdtemp(prefix="perfbench-calibrate-"))
    run.prepare_env(work / "env")
    classified = json.loads((HERE / "classified.json").read_text())
    lists = {wl: [n for n in classified[wl] if n not in EXCLUDED] for wl in args.lists}
    warm: dict[str, list[float]] = {n: [] for members in lists.values() for n in members}
    errors: list[str] = []
    # a fresh interpreter, and so a fresh JVM, for every group
    pool = multiprocessing.get_context("spawn").Pool(1, maxtasksperchild=1)
    try:
        for seed in args.seeds:
            data_dir = str(work / f"seed{seed}")
            datagen.write_tables(data_dir, run.DATA_SF, seed)
            for wl, members in lists.items():
                ref = qmix.oracle_digests(members, data_dir)
                order = [members[i] for i in np.random.default_rng([seed, 99]).permutation(len(members))]
                k = run.SAMPLE_SIZE[wl]
                for g in range(0, len(order), k):
                    group = order[g : g + k]
                    for name, got in pool.apply(run_group, (data_dir, group)).items():
                        want = ref.get(name, got["answers"][0])
                        bad = [a for a in got["answers"] if a != want]
                        if bad or len(got["s"]) != 3:
                            errors.append(f"seed {seed} {name}: {bad[0] if bad else got} != {want}")
                        else:
                            warm[name].append(statistics.median(got["s"][1:]))
                        print(f"seed {seed} {name}: {got['s']} {bad[:1]}", file=sys.stderr, flush=True)
    finally:
        pool.close()
        pool.join()
        shutil.rmtree(work, ignore_errors=True)
    if errors:
        print("wrong answers (fix the query, or add it to EXCLUDED with the reason):", file=sys.stderr)
        for e in errors:
            print("  " + e, file=sys.stderr)
        return 1

    out_path = Path(args.out)
    out = json.loads(out_path.read_text()) if out_path.exists() else {"calibration_seeds": {}}
    out["sf"] = run.DATA_SF
    out["excluded"] = dict(EXCLUDED)
    for wl, members in lists.items():
        cost = {n: round(statistics.median(warm[n]), 3) for n in members}
        out["calibration_seeds"][wl] = args.seeds
        out[wl] = sorted(members, key=lambda n: cost[n])
        out[f"{wl}_warm_s"] = {n: cost[n] for n in out[wl]}
    out_path.write_text(json.dumps(out, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
