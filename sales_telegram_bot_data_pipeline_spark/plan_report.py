"""Plan scorecard generator: executes every driver-window query at a small
scale factor, extracts the physical-plan facts that matter at 100 TB, and
writes PLANS.md — a reviewable inventory of scans / shuffles / broadcasts /
Python stages / codegen per query.

Run: python -m sales_telegram_bot_data_pipeline_spark.plan_report [sf_dir] [out_md]

Each query's plan is recorded from its second call in the session, after
an untimed warm-up pass over the whole window: that is the call bench.py
times, and a first call can plan differently (stored session views and
cached relations built by earlier queries change what later calls read).

The counts come from the EXECUTED (AQE-final) formatted plan.  Node ids are
counted from the details section (``(N) OperatorName``), so a subtree shared
by multiple parents (exchange/subtree reuse) counts ONCE — these are
operator counts, not tree-print counts.
"""

from __future__ import annotations

import re
import sys


def plan_facts(plan: str) -> dict:
    # char class includes ._ so catalog-qualified scans ('Scan parquet
    # spark_catalog.default.t') are not silently dropped from the counts
    ops = re.findall(
        r"^\(\d+\) ([A-Za-z][A-Za-z0-9 ._]*?)(?: \[codegen id : \d+\])?$", plan, re.M
    )
    names = [o.strip() for o in ops]

    def n(*keys: str) -> int:
        return sum(1 for o in names if any(o.startswith(k) for k in keys))

    # pushdown is a PER-SCAN fact: a healthy plan can have one filtered fact
    # scan next to an unfiltered dim scan — report filtered/total scans
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)

    return {
        "scans": n("Scan "),
        "exchanges": n("Exchange"),
        "broadcasts": n("BroadcastExchange"),
        "bhj": n("BroadcastHashJoin"),
        "smj": n("SortMergeJoin"),
        "shj": n("ShuffledHashJoin"),
        "bnlj": n("BroadcastNestedLoopJoin"),
        "cartesian": n("CartesianProduct"),
        "aggs": n("HashAggregate", "ObjectHashAggregate", "SortAggregate"),
        "windows": n("Window"),
        "generates": n("Generate"),
        "python": n("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas", "MapInArrow"),
        "codegen_spans": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "pushed_scans": sum(1 for p in pushed if p.strip()),
        "total_scans_with_pushdown_slot": len(pushed),
        # localCheckpointed session views (session.session_view's
        # materialize-once relations) surface as ExistingRDD scans: rows
        # with stored>0 read a pre-built relation whose build cost was
        # paid once per session — bench.py's untimed warm-up pass runs
        # every query (hence builds every view) before any timed run, so
        # no timed row absorbs a build, but cross-round deltas for these
        # rows compare read-cost only (ADVICE r10, machine-checked here)
        "stored_views": n("Scan ExistingRDD"),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_md = sys.argv[2] if len(sys.argv) > 2 else "PLANS.md"

    from .queries import _DRIVER_WINDOW, REGISTRY
    from .session import get_spark

    spark = get_spark(app_name="sales_telegram_bot_data_pipeline-plan-report", cpus=8)
    for name in _DRIVER_WINDOW:  # warm-up pass, as in bench.py
        REGISTRY[name].fn(spark, sf_dir).collect()
    rows = []
    for name in _DRIVER_WINDOW:
        df = REGISTRY[name].fn(spark, sf_dir)
        df.collect()  # finalize AQE so the plan is the executed one
        plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        rows.append((name, plan_facts(plan)))

    with open(out_md, "w") as fh:
        fh.write(
            "# PLANS — executed-plan scorecard (driver window)\n\n"
            f"Generated by `python -m sales_telegram_bot_data_pipeline_spark.plan_report {sf_dir}`.\n"
            "Each plan is from the query's second, warm call in the session "
            "(after a warm-up pass over the whole window — the call bench.py "
            "times).  Counts are distinct physical OPERATORS in the AQE-final plan "
            "(shared subtrees count once).  Review heuristics: `cartesian` "
            "must be 0 everywhere; `bnlj` only on one-row scalar builds; "
            "`python` only on operators whose semantics require it; scans "
            "should be minimal (materialize-once discipline); `pushed` is "
            "scans-with-nonempty-PushedFilters / scans-with-a-pushdown-slot "
            "(an unfiltered dim scan beside a filtered fact scan is "
            "healthy); `stored` counts ExistingRDD scans — reads of "
            "materialize-once session views whose build cost is paid "
            "once per session in bench.py's UNTIMED warm-up pass, so "
            "bench rows with stored>0 measure read cost only (their "
            "cross-round deltas are not like-for-like with the "
            "pre-stored-view rounds).\n\n"
            "| query | scans | exchanges | bcast | BHJ | SMJ | BNLJ | cart | aggs | windows | gen | python | codegen | pushed | stored |\n"
            "|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|\n"
        )
        for name, f in rows:
            pushed = (
                f"{f['pushed_scans']}/{f['total_scans_with_pushdown_slot']}"
                if f["total_scans_with_pushdown_slot"]
                else "-"
            )
            fh.write(
                f"| {name} | {f['scans']} | {f['exchanges']} | {f['broadcasts']} | "
                f"{f['bhj']} | {f['smj']} | {f['bnlj']} | {f['cartesian']} | {f['aggs']} | "
                f"{f['windows']} | {f['generates']} | {f['python']} | {f['codegen_spans']} | "
                f"{pushed} | {f['stored_views']} |\n"
            )
        total_cart = sum(f["cartesian"] for _, f in rows)
        total_py = sum(f["python"] for _, f in rows)
        fh.write(
            f"\n**Totals:** {len(rows)} queries, cartesian products: {total_cart}, "
            f"Python-stage operators: {total_py}.\n"
        )
    print(f"wrote {out_md}: {len(rows)} queries")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
