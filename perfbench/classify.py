"""Freeze the membership of the two registry query workloads.

Every registry query is built twice in one session on a reference dataset
(the TPC-H-ish sf0.1 tables): a cold call that fills the catalog cache,
stored session views and broadcasts, then a warm call under its own job
group.  A query whose warm ``fn(spark, sf_dir)`` call launches at least one
Spark job goes to ``query_eager_build``; every other query goes to
``query_exec_bound``.  The lists are written once and read by ``run.py``, so
a later change that removes a query's build jobs cannot move the query from
one workload to the other.

Usage, from the repository root:

    python3 perfbench/classify.py <sf_dir> [--out perfbench/classified.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("--out", default=str(HERE / "classified.json"))
    ap.add_argument("--cpus", type=int, default=os.cpu_count() or 4)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    from sales_telegram_bot_data_pipeline_spark import queries as q
    from sales_telegram_bot_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="perfbench-classify", cpus=args.cpus)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    names = list(q.queries())
    rows: dict[str, dict] = {}
    try:
        for name in names:  # cold: fills the catalog, session views, broadcasts
            q.REGISTRY[name].fn(spark, args.sf_dir)
        for i, name in enumerate(names):
            group = f"classify-{i}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            q.REGISTRY[name].fn(spark, args.sf_dir)
            dt = time.perf_counter() - t0
            sc.setJobGroup("classify-idle", "")
            jobs = list(tracker.getJobIdsForGroup(group))
            rows[name] = {"build_jobs": len(jobs), "build_s": round(dt, 3)}
            print(f"{name}: {len(jobs)} jobs {dt:.2f}s", file=sys.stderr, flush=True)
    finally:
        spark.stop()
    eager = [n for n in names if rows[n]["build_jobs"] > 0]
    exec_bound = [n for n in names if rows[n]["build_jobs"] == 0]
    out = {
        "sf_dir": os.path.basename(os.path.normpath(args.sf_dir)),
        "cpus": args.cpus,
        "query_eager_build": eager,
        "query_exec_bound": exec_bound,
        "warm_build": rows,
    }
    Path(args.out).write_text(json.dumps(out, indent=1) + "\n")
    print(f"eager={len(eager)} exec_bound={len(exec_bound)}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
