"""Run one benchmark workload for one seed and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ``flyer_pipeline``, ``query_eager_build``, ``query_exec_bound``
(see README.md).  One process, one Spark session (``local[nproc]``, or
``local[nproc/2]`` for the flyer pipeline, whose tasks each keep a Python
worker busy too), one closed-loop client: the next item starts when the
previous one has been checked.  The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``; the line before it,
prefixed ``perfbench-detail``, holds what the metrics were computed from.
With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run first measures untraced passes, then installs the tracing wrappers
and measures traced passes, and reports the per-layer metrics.

Everything the run writes goes under ``.perfbench_run/`` in the checkout
and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "sales_telegram_bot_data_pipeline_spark"
WORKLOADS = ("flyer_pipeline", "query_eager_build", "query_exec_bound")
# Scale of the generated tables and queries per pass of the query
# workloads; README.md ("Scale and sizes") gives the measurements behind both.
DATA_SF = 0.01
SAMPLE_SIZE = {"query_eager_build": 5, "query_exec_bound": 8}
DRIVER_MEM = "2g"


def process_start_epoch() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def become_subreaper() -> None:
    """Make every orphaned descendant (the JVM's Python worker daemon, for
    one) this process's child, so that ``reap_children`` can wait for it."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, out = os.getpid(), []
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == me:
                out.append(int(p))
    return out


def reap_children(timeout: float = 20.0) -> None:
    """Wait until every child and adopted descendant has ended; after
    ``timeout`` seconds kill what is left, then wait for that too."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            for pid in _children():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def prepare_env(run_dir: Path) -> None:
    """Keep every file Spark, its Python workers and the engine write
    inside ``run_dir``."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TZ"] = "UTC"
    time.tzset()
    # Python workers unpickle the engine's closures by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={run_dir / 'warehouse'} "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="perfbench runner")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_proc = process_start_epoch()
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    become_subreaper()
    # a TERM ends the run through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run_dir = ROOT / ".perfbench_run" / str(os.getpid())
    prepare_env(run_dir)
    sys.path[:0] = [str(ROOT), str(HERE)]
    from harness import Bench

    bench = None
    try:
        bench = Bench(args, run_dir, t_proc, SAMPLE_SIZE, DATA_SF)
        result, detail = bench.run()
    finally:
        try:
            if bench is not None:
                bench.close()
        finally:
            reap_children()
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                (ROOT / ".perfbench_run").rmdir()
            except OSError:
                pass
    print("perfbench-detail " + json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
