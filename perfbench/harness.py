"""Set-up, timed loop, checks and metrics of one benchmark run."""

from __future__ import annotations

import functools
import json
import os
import subprocess
import sys
import time
from contextlib import nullcontext

import flyer
import qmix
import sparkstats
import tracing
from stats import Ledger, checked_item, digest, median, tail

PACKAGE = "sales_telegram_bot_data_pipeline_spark"
TRACED_MIN_PASSES = 2  # per half of a traced run


class QueryWorkload:
    """A seed-drawn sample of one frozen registry query list."""

    # passes an untimed run makes at least; total_s is their wall time
    min_passes = 2
    slots_per_cpu = 1.0  # tasks are JVM threads only

    def __init__(self, bench, name: str, sample_size: int, sf: float):
        self.bench, self.sf = bench, sf
        lists = qmix.load_lists()
        salt = 1 if name == "query_eager_build" else 2
        self.names = qmix.sample(
            lists[name], sample_size, bench.args.seed, salt, cost=lists[f"{name}_warm_s"]
        )
        self.data_dir = str(bench.run_dir / "data")
        self.ref: dict[str, tuple[int, str]] = {}

    def prepare_inputs(self) -> None:
        """Tables and DuckDB reference answers, made in a child process so
        that their memory is not part of this process's peak RSS."""
        out = str(self.bench.run_dir / "reference.json")
        subprocess.run(
            [sys.executable, qmix.__file__, self.data_dir, str(self.sf),
             str(self.bench.args.seed), out, *self.names],
            check=True, stdin=subprocess.DEVNULL, stdout=sys.stderr,
        )
        with open(out) as f:
            self.ref = {k: tuple(v) for k, v in json.load(f).items()}

    def prepare_reference(self) -> None:
        """Nothing left to do: the reference answers come with the inputs."""

    def warm_up(self) -> list[str]:
        errors = []
        for name in self.names:
            try:
                got = digest(*self.run_item(name, f"warmup-{name}"))
            except Exception as e:  # reported; the timed items of this query fail too
                errors.append(f"{name}: warm-up raised {type(e).__name__}: {str(e)[:300]}")
                continue
            want = self.ref.setdefault(name, got)  # rows-only: the warm-up answer is the reference
            if got != want:
                errors.append(f"{name}: warm-up result {got} != reference {want}")
        return errors

    def pass_items(self, p: int) -> list:
        return list(self.names)

    def label(self, name: str) -> str:
        return name

    def run_item(self, name: str, item_id: str):
        from sales_telegram_bot_data_pipeline_spark.queries import REGISTRY

        sc, span = self.bench.spark.sparkContext, self.bench.span
        fn = REGISTRY[name].fn
        sc.setJobGroup(f"{item_id}:build", name)
        with span("operators.build"):
            df = fn(self.bench.spark, self.data_dir)
        sc.setJobGroup(f"{item_id}:exec", name)
        with span("exec.collect"):
            rows = [tuple(r) for r in df.collect()]
        sc.setJobGroup("perfbench-idle", "")
        return list(df.columns), rows

    def check(self, name: str, out) -> list[str]:
        got = digest(*out)
        return [] if got == self.ref[name] else [f"{name}: result {got} != reference {self.ref[name]}"]

    def groups(self, item_id: str) -> dict[str, list[str]]:
        return {"build": [f"{item_id}:build"], "exec": [f"{item_id}:exec"]}


class FlyerWorkload:
    """New flyer batches through detection, extraction and revalidation,
    one batch per pass."""

    # three, so that the median batch is never the first one, which still
    # runs colder code than the rest
    min_passes = 3
    # every task pairs a JVM task thread with a busy Python worker process,
    # so one slot per two CPUs keeps the CPUs busy without oversubscribing
    # them (README.md, "Scale and sizes")
    slots_per_cpu = 0.5

    def __init__(self, bench):
        self.bench = bench
        self.input_dir = str(bench.run_dir / "flyers")
        self.stats: dict = {}

    def prepare_inputs(self) -> None:
        os.makedirs(self.input_dir, exist_ok=True)

    def prepare_reference(self) -> None:
        import duckdb

        from sales_telegram_bot_data_pipeline_spark.functions.dialect import DUCKDB
        from sales_telegram_bot_data_pipeline_spark.functions.prices import SHOPS, dispatcher_value_sql
        from sales_telegram_bot_data_pipeline_spark.operators.inference import ITEM_NAME_VOCAB

        self.con = duckdb.connect()
        self.shops, self.vocab = SHOPS, ITEM_NAME_VOCAB
        self.dispatcher_sql = dispatcher_value_sql(DUCKDB, "shop_name", "ocr_text", "class_name")
        self.pipeline = flyer.FlyerPipeline(
            self.bench.spark, str(self.bench.run_dir / "sinks"), self.bench.span, self.bench.observe
        )

    def warm_up(self) -> list[str]:
        b = flyer.make_batch(self.bench.args.seed, 0, self.input_dir, warm_up=True)
        try:
            return self.check(b, self.run_item(b, "warmup"))
        except Exception as e:  # reported; the timed batches fail the same way
            return [f"warm-up batch raised {type(e).__name__}: {str(e)[:300]}"]

    def pass_items(self, p: int) -> list:
        return [flyer.make_batch(self.bench.args.seed, p, self.input_dir)]

    def label(self, batch) -> str:
        return os.path.basename(batch.dir)

    def run_item(self, batch, item_id: str):
        self.stats = {}
        return self.pipeline.run(batch, item_id)

    def check(self, batch, out) -> list[str]:
        errors, self.stats = flyer.check_batch(
            batch, out, self.con, self.shops, self.vocab, self.dispatcher_sql
        )
        return errors

    def groups(self, item_id: str) -> dict[str, list[str]]:
        return {"build": [], "exec": [f"{item_id}:{s}" for s in ("detect", "extract", "revalidate")]}

    def close(self) -> None:
        self.con.close()


class Bench:
    def __init__(self, args, run_dir, t_proc: float, sample_size: dict, sf: float):
        self.args, self.run_dir, self.t_proc = args, run_dir, t_proc
        self.spark = None
        self.tracer: tracing.Tracer | None = None
        self.listener = None
        self._uninstall = None
        self.ledger = Ledger()
        self.own_s = 0.0  # the benchmark's own set-up work, not the program's
        self._item_plan: dict = {}
        self._seen_tables: dict = {}
        self._next_pass = 0
        if args.workload == "flyer_pipeline":
            self.workload = FlyerWorkload(self)
        else:
            self.workload = QueryWorkload(self, args.workload, sample_size[args.workload], sf)

    # -- tracing hooks -----------------------------------------------------
    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def observe(self, df) -> None:
        """Add the plan metrics of a DataFrame executed outside a SQL action."""
        if self.tracer is not None:
            sparkstats.add_into(self._item_plan, sparkstats.plan_metrics(df))

    def _own(self, fn):
        t0 = time.perf_counter()
        out = fn()
        self.own_s += time.perf_counter() - t0
        return out

    # -- run -----------------------------------------------------------------
    def run(self) -> tuple[dict, dict]:
        w, args = self.workload, self.args
        self._own(w.prepare_inputs)
        t0 = time.perf_counter()
        from sales_telegram_bot_data_pipeline_spark import queries  # noqa: F401  (registers every query)
        from sales_telegram_bot_data_pipeline_spark.session import get_spark

        if args.trace:  # a catalog hit is the same DataFrame as an earlier call returned
            self._uninstall = tracing.install(
                [(f"{PACKAGE}.sources.tables", "load_table", self._table_recorder)], PACKAGE
            )

        cpus = len(os.sched_getaffinity(0))
        slots = max(1, int(cpus * w.slots_per_cpu))
        self.spark = get_spark(app_name="perfbench", cpus=slots)
        session_s = time.perf_counter() - t0
        self._own(w.prepare_reference)
        t1 = time.perf_counter()
        warm_errors = w.warm_up()
        warm_s = time.perf_counter() - t1
        conf0 = sparkstats.conf_fingerprint(self.spark)
        setup_s = time.time() - self.t_proc - self.own_s

        cpu0, steal0 = sparkstats.jvm_cpu_s(self.spark), sparkstats.host_cpu()
        if args.trace:
            plain = self._timed(args.seconds / 2, TRACED_MIN_PASSES)
            self._start_tracing()
            traced = self._timed(args.seconds / 2, TRACED_MIN_PASSES)
        else:
            plain, traced = self._timed(args.seconds, w.min_passes), None
        timed_cpu_s = sparkstats.jvm_cpu_s(self.spark) - cpu0
        steal1 = sparkstats.host_cpu()
        steal_share = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        conf1 = sparkstats.conf_fingerprint(self.spark)
        rss_jvm, rss_py = sparkstats.peak_rss_mb(self.spark)

        tail_v, tail_pct, n = tail(plain["latencies"])
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cpus": cpus, "task_slots": slots, "items": w.names if isinstance(w, QueryWorkload) else None,
            "setup": {"session_s": session_s, "warm_up_s": warm_s, "own_s": self.own_s},
            "timed_jvm_cpu_s": timed_cpu_s, "timed_cpu_steal_share": steal_share,
            "passes_s": plain["passes"],
            "item_p50_s": median(plain["latencies"]),
            "item_tail_s": tail_v, "item_tail_percentile": tail_pct, "item_samples": n,
            "items_s": list(zip(plain["labels"], plain["latencies"])),
            "item_max_s": max(plain["latencies"]),
            "peak_rss_mb": {"jvm": rss_jvm, "python": rss_py},
            "conf_before": conf0, "conf_after": conf1,
            "failed_ratio": self.ledger.failed_ratio, "failures": self.ledger.failures[:20],
            "warm_up_errors": warm_errors,
        }
        if args.trace:
            metrics = self._per_layer(plain, traced)
            metrics["memory.peak_rss_mb"] = (rss_jvm + rss_py, "MiB")
            detail["listener_errors"] = self.listener.errors
            detail["spans"] = tracing.span_summary(self.tracer.spans)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "total_s": (sum(plain["passes"][: w.min_passes]), "s"),
                "ok_ratio": (1.0 - self.ledger.failed_ratio, "ratio"),
            }
        result = {
            "correct": self.ledger.failed == 0 and not warm_errors,
            "attempted": self.ledger.attempted,
            "failed": self.ledger.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return result, detail

    def _timed(self, seconds: float, min_passes: int) -> dict:
        """Whole passes until ``seconds`` have gone by, and at least
        ``min_passes``."""
        w = self.workload
        passes, latencies, labels, records = [], [], [], []
        start = time.perf_counter()
        p = self._next_pass
        while True:
            t0 = time.perf_counter()
            for i, spec in enumerate(w.pass_items(p)):
                lat, rec = self._item(spec, f"p{p}i{i}")
                latencies.append(lat)
                labels.append(w.label(spec))
                records.append(rec)
            passes.append(time.perf_counter() - t0)
            p += 1
            if len(passes) >= min_passes and time.perf_counter() - start >= seconds:
                break
        self._next_pass = p
        return {"passes": passes, "latencies": latencies, "labels": labels, "records": records}

    def _item(self, spec, item_id: str):
        w, spark = self.workload, self.spark
        if self.tracer is not None:
            sparkstats.drain_listeners(spark)
            self.listener.take()
            self._item_plan = {}
            self.tracer.item = item_id

        def run():
            with self.span("bench.item"):
                return w.run_item(spec, item_id)

        lat, errors = checked_item(
            run, lambda out: w.check(spec, out), lambda: sparkstats.conf_fingerprint(spark)
        )
        self.ledger.record(item_id, errors)
        rec = None
        if self.tracer is not None:
            rec = self._item_record(item_id, lat)
        return lat, rec

    # -- traced run ----------------------------------------------------------
    def _table_recorder(self, fn):
        @functools.wraps(fn)
        def recorded(*args, **kwargs):
            out = fn(*args, **kwargs)
            self._table_hit(args, kwargs, out)
            return out

        return recorded

    def _table_hit(self, args, kwargs, out) -> bool:
        named = [kwargs.get(k) for k in ("spark", "sf_dir", "name")]
        spark, sf_dir, name = (list(args) + named[len(args):])[:3]
        key = (id(spark), os.path.abspath(sf_dir), name)
        hit = self._seen_tables.get(key) is out
        self._seen_tables[key] = out
        return hit

    def _start_tracing(self) -> None:
        self._uninstall()
        self.tracer = tracing.Tracer()
        self.listener = sparkstats.PlanListener(self.spark)
        self._uninstall = tracing.install(self._targets(), PACKAGE)

    def _targets(self) -> list:
        t = self.tracer
        p = PACKAGE

        def plain(name):
            return lambda fn: t.wrap(fn, name)

        def with_plan(name):
            def on_exit(span, args, kwargs, out):
                self.observe(args[0])

            return lambda fn: t.wrap(fn, name, on_exit)

        def built_flag(name, pos, kw):
            # flag the span when the call runs its builder, i.e. misses its cache
            def make(fn):
                @functools.wraps(fn)
                def traced(*args, **kwargs):
                    with t.span(name) as s:
                        s.attrs["built"] = False
                        args = list(args)
                        orig = args[pos] if len(args) > pos else kwargs[kw]

                        def builder(*a, **k):
                            s.attrs["built"] = True
                            return orig(*a, **k)

                        if len(args) > pos:
                            args[pos] = builder
                        else:
                            kwargs[kw] = builder
                        return fn(*args, **kwargs)

                return traced

            return make

        def load_table(fn):
            def on_exit(span, args, kwargs, out):
                span.attrs["hit"] = self._table_hit(args, kwargs, out)

            return t.wrap(fn, "sources.load_table", on_exit)

        return [
            (f"{p}.session", "materialize_once", plain("session.materialize_once")),
            (f"{p}.session", "fixed_plan", lambda fn: t.wrap_context(fn, "session.fixed_plan")),
            (f"{p}.operators.dedup", "session_view", built_flag("session.view", 3, "build")),
            (f"{p}.functions.broadcast_cache", "broadcast_once", built_flag("session.broadcast", 3, "builder")),
            (f"{p}.sources.tables", "load_table", load_table),
            (f"{p}.operators.inference", "synthesize_pages", plain("operators.synthesize_pages")),
            (f"{p}.operators.inference", "stub_detect", plain("operators.stub_detect")),
            (f"{p}.operators.inference", "pad_clamp", plain("operators.pad_clamp")),
            (f"{p}.operators.inference", "group_detections", plain("operators.group_detections")),
            (f"{p}.operators.segmentation", "segment_column", plain("operators.segment_column")),
            (f"{p}.functions.prices", "price_value_col", plain("operators.price_value_col")),
            (f"{p}.sinks.kv", "write_kv_upsert", with_plan("sinks.kv")),
            (f"{p}.sinks.webhook", "send_notifications", with_plan("sinks.webhook")),
            (f"{p}.sinks.dataset", "write_dataset", plain("sinks.dataset")),
            (f"{p}.streaming.revalidate", "run_revalidation_batch", plain("streaming.revalidate")),
        ]

    def _item_record(self, item_id: str, lat: float) -> dict:
        spark = self.spark
        sparkstats.drain_listeners(spark)
        plan = dict(self._item_plan)
        for ev in self.listener.take():
            sparkstats.add_into(plan, ev)
        groups = self.workload.groups(item_id)
        job = {}
        for kind, names in groups.items():
            job[kind] = {}
            for g in names:
                sparkstats.add_into(job[kind], sparkstats.job_group_stats(spark, g))
        stats = dict(self.workload.stats) if isinstance(self.workload, FlyerWorkload) else {}
        return {"item": item_id, "latency": lat, "plan": plan, "jobs": job, "flyer": stats}

    def _per_layer(self, plain: dict, traced: dict) -> dict:
        recs = traced["records"]
        n = len(recs)
        spans = self.tracer.spans
        by_name: dict[str, list] = {}
        for s in spans:
            by_name.setdefault(s.name, []).append(s)

        def per_item(x: float) -> float:
            return x / n

        def dur(name: str) -> float:
            return sum(s.duration for s in by_name.get(name, ()))

        def calls(name: str) -> int:
            return len(by_name.get(name, ()))

        def ratio(a: float, b: float) -> float:
            return a / b if b else 0.0

        def total(section: str, kind: str, key: str) -> float:
            return sum(r[section].get(kind, {}).get(key, 0) for r in recs) if kind else sum(
                r[section].get(key, 0) for r in recs
            )

        top_ops = [s for s in spans if s.layer == "operators" and (
            s.parent is None or spans[s.parent].layer != "operators")]
        views = by_name.get("session.view", [])
        bcs = by_name.get("session.broadcast", [])
        loads = by_name.get("sources.load_table", [])
        fl = [r["flyer"] for r in recs if r["flyer"]]

        def fsum(key: str) -> float:
            return sum(f.get(key, 0) for f in fl)

        m = {
            "operators.build_s": (per_item(sum(s.duration for s in top_ops)), "s/item"),
            "operators.build_jobs": (per_item(total("jobs", "build", "jobs")), "count/item"),
            "operators.build_stages": (per_item(total("jobs", "build", "stages")), "count/item"),
            "session.materialize_once.calls": (per_item(calls("session.materialize_once")), "count/item"),
            "session.materialize_once.s": (per_item(dur("session.materialize_once")), "s/item"),
            "session.fixed_plan.s": (per_item(dur("session.fixed_plan")), "s/item"),
            "session.view.builds": (per_item(sum(s.attrs.get("built", False) for s in views)), "count/item"),
            "session.view.hit_ratio": (ratio(sum(not s.attrs.get("built") for s in views), len(views)), "ratio"),
            "session.broadcast.builds": (per_item(sum(s.attrs.get("built", False) for s in bcs)), "count/item"),
            "sources.load_table.calls": (per_item(len(loads)), "count/item"),
            "sources.load_table.hit_ratio": (ratio(sum(s.attrs.get("hit", False) for s in loads), len(loads)), "ratio"),
            "sources.load_table.s": (per_item(dur("sources.load_table")), "s/item"),
            "plan.analysis_ms": (per_item(total("plan", None, "analysis_ms")), "ms/item"),
            "plan.optimization_ms": (per_item(total("plan", None, "optimization_ms")), "ms/item"),
            "plan.planning_ms": (per_item(total("plan", None, "planning_ms")), "ms/item"),
            "exec.collect_s": (per_item(dur("exec.collect")), "s/item"),
            "exec.jobs": (per_item(total("jobs", "exec", "jobs")), "count/item"),
            "exec.stages": (per_item(total("jobs", "exec", "stages")), "count/item"),
            "exec.tasks": (per_item(total("jobs", "exec", "tasks")), "count/item"),
            "exec.executor_run_s": (per_item(total("jobs", "exec", "executor_run_ms") / 1e3), "s/item"),
            "exec.executor_cpu_s": (per_item(total("jobs", "exec", "executor_cpu_ns") / 1e9), "s/item"),
            "exec.input_bytes": (per_item(total("jobs", "exec", "input_bytes")), "bytes/item"),
            "exec.shuffle_read_bytes": (per_item(total("jobs", "exec", "shuffle_read_bytes")), "bytes/item"),
            "exec.shuffle_write_bytes": (per_item(total("jobs", "exec", "shuffle_write_bytes")), "bytes/item"),
            "exec.spill_bytes": (per_item(total("jobs", "exec", "memory_spill_bytes")
                                          + total("jobs", "exec", "disk_spill_bytes")), "bytes/item"),
            "udf.python_boot_s": (per_item(total("plan", None, "pythonBootTime") / 1e3), "s/item"),
            "udf.python_run_s": (per_item(total("plan", None, "pythonTotalTime") / 1e3), "s/item"),
            "udf.bytes_sent": (per_item(total("plan", None, "pythonDataSent")), "bytes/item"),
            "udf.bytes_received": (per_item(total("plan", None, "pythonDataReceived")), "bytes/item"),
            "udf.rows_received": (per_item(total("plan", None, "pythonNumRowsReceived")), "count/item"),
            "segmentation.distinct_ratio": (ratio(fsum("distinct_names"), fsum("records")), "ratio"),
            "flyer.detect_s": (per_item(dur("flyer.detect")), "s/item"),
            "flyer.extract_s": (per_item(dur("flyer.extract")), "s/item"),
            "flyer.revalidate_s": (per_item(dur("flyer.revalidate")), "s/item"),
            "sinks.kv.s": (per_item(dur("sinks.kv")), "s/item"),
            "sinks.kv.rows": (per_item(fsum("kv_rows")), "count/item"),
            "sinks.kv.bytes_per_row": (ratio(fsum("kv_bytes"), fsum("kv_rows")), "bytes/row"),
            "sinks.webhook.s": (per_item(dur("sinks.webhook")), "s/item"),
            "sinks.webhook.chunks": (per_item(fsum("webhook_chunks")), "count/item"),
            "sinks.dataset.s": (per_item(dur("sinks.dataset")), "s/item"),
            "inference.detections": (per_item(fsum("detections")), "count/item"),
            "inference.dead_letters": (per_item(fsum("dead_letters")), "count/item"),
            "streaming.revalidate.flip_ratio": (ratio(fsum("details_flipped"), fsum("detail_rows")), "ratio"),
            "item.latency_s": (per_item(sum(r["latency"] for r in recs)), "s/item"),
            "trace.overhead_s": (median(traced["passes"]) - median(plain["passes"]), "s/pass"),
        }
        self_t = tracing.layer_self_time(spans)
        for layer in ("bench", "flyer", "session", "sources", "operators", "exec", "sinks", "streaming"):
            m[f"self.{layer}_s"] = (per_item(self_t.get(layer, 0.0)), "s/item")
        return m

    def close(self) -> None:
        if self._uninstall is not None:
            self._uninstall()
        if self.listener is not None:
            try:
                self.listener.close()
            except Exception:  # the session may already be gone
                pass
        if isinstance(self.workload, FlyerWorkload) and hasattr(self.workload, "con"):
            self.workload.close()
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            _stop_jvm()  # also when the session failed to start after its JVM did


def _stop_jvm(timeout: float = 30.0) -> None:
    """End the JVM this process launched (its Python workers go with it)
    and wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the launcher exits when its stdin closes
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
