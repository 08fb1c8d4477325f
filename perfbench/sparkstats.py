"""Read what Spark itself records about the work of one benchmark item.

- ``conf_fingerprint``: the session conf a query may not leave changed.
- ``memory.peak_rss_mb``: the JVM's ``VmHWM`` plus this Python process's ``ru_maxrss``.
- ``job_group_stats``: jobs, stages, tasks and task metrics of the jobs run
  under one job group, from the application status store.
- ``PlanListener``: a ``QueryExecutionListener`` (served through the py4j
  callback server) that keeps the Catalyst phase times and the Python-UDF
  SQL metrics of every SQL action; ``plan_metrics`` reads the same numbers
  from a DataFrame whose action Spark does not report (``foreachPartition``).
"""

from __future__ import annotations

import hashlib
import os
import resource
import threading

# SQL metric keys of the Python evaluation nodes (ArrowEvalPython,
# MapInPandas, ...), summed over every node of the final plan.
UDF_METRICS = (
    "pythonBootTime",
    "pythonTotalTime",
    "pythonDataSent",
    "pythonDataReceived",
    "pythonNumRowsReceived",
)
PHASES = ("analysis", "optimization", "planning")
STAGE_FIELDS = {
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}
WATCHED_CONFS = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")


def conf_fingerprint(spark) -> dict:
    """The two confs ``fixed_plan`` flips plus an md5 of the whole conf."""
    conf = spark.conf.getAll
    blob = "\n".join(f"{k}={v}" for k, v in sorted(conf.items()))
    out = {k: conf.get(k, spark.conf.get(k, None)) for k in WATCHED_CONFS}
    out["md5"] = hashlib.md5(blob.encode()).hexdigest()
    return out


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory of the JVM and of this Python process, in MiB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return jvm_kb / 1024.0, py_kb / 1024.0


def jvm_cpu_s(spark) -> float:
    """CPU seconds the JVM has used so far (user plus system)."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def host_cpu() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def drain_listeners(spark) -> None:
    """Wait until every queued Spark listener event has been delivered."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def job_group_stats(spark, group: str) -> dict:
    """Jobs, stages, tasks and summed task metrics of ``group``'s jobs.
    Call ``drain_listeners`` first so the status store is complete."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = sc._gateway.jvm
    no_status = jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    out = {"jobs": 0, "stages": 0, "tasks": 0, **{k: 0 for k in STAGE_FIELDS}}
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        stage_ids = store.job(job_id).stageIds().iterator()
        while stage_ids.hasNext():
            attempts = store.stageData(stage_ids.next(), False, no_status, False, no_quantiles)
            it = attempts.iterator()
            while it.hasNext():
                sd = it.next()
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                for key, getter in STAGE_FIELDS.items():
                    out[key] += getattr(sd, getter)()
    return out


def _walk(plan, sums: dict) -> None:
    stack = [plan]
    while stack:
        node = stack.pop()
        metrics = node.metrics()
        for key in UDF_METRICS:
            m = metrics.get(key)
            if m.isDefined():
                sums[key] = sums.get(key, 0) + m.get().value()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            stack.append(node.plan())
        else:
            children = node.children().iterator()
            while children.hasNext():
                stack.append(children.next())


def qe_metrics(qe) -> dict:
    """Catalyst phase milliseconds and Python-UDF metrics of one execution."""
    out: dict = {}
    phases = qe.tracker().phases().iterator()
    while phases.hasNext():
        kv = phases.next()
        if kv._1() in PHASES:
            out[f"{kv._1()}_ms"] = kv._2().durationMs()
    _walk(qe.executedPlan(), out)
    return out


def plan_metrics(df) -> dict:
    """``qe_metrics`` of a DataFrame's own query execution."""
    return qe_metrics(df._jdf.queryExecution())


class PlanListener:
    """Collects ``qe_metrics`` of every successful SQL action."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._lock = threading.Lock()
        self._events: list[dict] = []
        self.errors = 0
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._manager = spark._jsparkSession.listenerManager()
        self._manager.register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        try:
            ev = qe_metrics(qe)
        except Exception:  # a plan the walk cannot read: count it, keep the run going
            with self._lock:
                self.errors += 1
            return
        with self._lock:
            self._events.append(ev)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java interface)
        pass

    def take(self) -> list[dict]:
        with self._lock:
            out, self._events = self._events, []
        return out

    def close(self) -> None:
        self._manager.unregister(self)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def add_into(total: dict, part: dict) -> dict:
    for k, v in part.items():
        total[k] = total.get(k, 0) + v
    return total
