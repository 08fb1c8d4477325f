"""SparkSession construction with scale-oriented defaults, and the
session-scoped relations queries share: stored session views
(``session_view``) and per-call checkpoints (``materialize_once``), named
by the same sf-keyed scheme as ``sources.tables.table_view``.

The driver passes its own session to ``queries()`` callables, so nothing in
the engine may *depend* on these configs (all expressions are written
ANSI-mode-safe with try_cast / try_divide etc.).  This builder is what tests
and bench.py use locally.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

from .sources.tables import _view_name

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "sales_telegram_bot_data_pipeline_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a local session tuned like a well-configured cluster job.

    AQE on (runtime re-plan, skew-join splitting, partition coalescing),
    Arrow on (vectorized pandas_udf transfer), broadcast threshold left at
    default 10 MB so small dims broadcast automatically.

    shuffle.partitions defaults to the core count (>= 32): MEASURED on the
    four heaviest sf0.1 queries (capstone, connected components, q1,
    semantic dedup) — 32 partitions 10.9 s vs 11.8 s at 8 (undersplit:
    idle cores) and 13.0 s at 128 (oversplit: per-task overhead; AQE
    coalescing recovers some but not the scheduling cost).  On a cluster
    the same rule holds per-executor-core, with
    spark.sql.adaptive.coalescePartitions sizing the small stages down.

    Python workers start from ``worker_daemon`` (PySpark's daemon with zip
    archives re-read only when they change): PySpark invalidates import
    caches before every task, which on Python <= 3.12 re-reads pyspark.zip
    and the Spark core jar.  Measured on a 4-vCPU VM (Python 3.11.7,
    ``local[2]``): that call took 109.5 ms of worker CPU per task, 0.1 ms
    with the daemon, and a 1-task job's launch-to-Python median went from
    201-223 ms to 44-48 ms.  Workers import the daemon module by name, so
    the session puts the directory holding the package on the workers'
    ``PYTHONPATH``: without it, a session started outside that directory
    could start no Python worker at all, for an engine closure or a
    lambda alike.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    return builder.getOrCreate()


# Stored-view POLICY, pinned (VERDICT r12 task 5): every stored session
# view must designate the registry query that keeps its BUILD cost
# live-measured on the bench — converting a bench row to stored reads is a
# deliberate, reviewable edit to this map, exactly like a BNLJ allowlist
# entry.  ``session_view`` refuses unknown tags at runtime and
# tests/test_plan_hygiene.py pins the key set, the twin names, and the
# call-site tags.
SESSION_VIEW_LIVE_TWINS = {
    "shingles": "dedup_ngram_jaccard",          # shingle explode, live
    "shdf": "dedup_jaccard_stopshingle",        # df table rebuilt inline
    "lshp": "dedup_minhash_lsh",                # strict pair generation
    "cc_labels": "dedup_connected_components",  # CC fixpoint, live
    "detfeed": "nested_detections_table",       # detection synthesis
    "det2feed": "nested_detections_table",      # model2 twin of the same
    "loosep": "dedup_minhash_lsh",              # loose banding = same primitive
    "ssjac": "dedup_jaccard_stopshingle",       # stop-shingle pair join
    "ndpairs": "embedding_cosine_neardup",      # banded vector pair join
    "tune_sig": "dedup_minhash_lsh",            # band-tune minhash signatures
    "wide": "detected_data_native",             # wide detected_data relation
}


def session_view(spark: SparkSession, sf_dir: str, tag: str, build) -> str:
    """Materialize a relation ONCE per (session, sf) as a localCheckpointed
    temp view and return its name — the stored-production-artifact
    discipline: relations a real pipeline writes once (the detected_data
    table, minhash signatures, cluster assignments, candidate-pair
    tables) and every downstream consumer reads.  ``build()`` must return
    a DataFrame.  Unknown tags are refused: declare the live-measured
    twin in ``SESSION_VIEW_LIVE_TWINS`` first."""
    if tag not in SESSION_VIEW_LIVE_TWINS:
        raise ValueError(
            f"undeclared stored-view tag {tag!r}: add it (and its "
            "live-measured twin query) to SESSION_VIEW_LIVE_TWINS"
        )
    name = _view_name(tag, sf_dir)
    # catalog probe, not a try/except spark.table(): a failed table()
    # resolution is a failed QueryExecution that every registered
    # ExecutionListener (e.g. Observation's) re-walks and error-logs
    if spark.catalog.tableExists(name):
        return name
    build().localCheckpoint().createOrReplaceTempView(name)
    return name


def materialize_once(spark: SparkSession, sql_text: str, tag: str, key: str) -> str:
    """Per-CALL localCheckpoint of a subquery, returned as a temp-view
    name (r13, guide §3.3).  Spark INLINES every multi-referenced CTE
    (InlineCTE has no materialization path), so a query whose CTE chain
    references a base relation k times re-executes — and re-SCANS — the
    whole subtree k times; executed plans measured up to 38 parquet scans
    for one statement.  Checkpointing the shared relation once per call
    truncates every reference to a leaf.  NOT a stored session view: the
    name is call-scoped and rebuilt on every invocation, so bench rows
    keep paying the build (no cross-run reuse; the stored-view policy and
    its allowlist are unaffected).

    ``key`` is the sf_dir: correctness never RELIES on the name (the
    checkpoint binds eagerly, per call), but interleaved multi-sf
    sessions must not watch one dataset's materialization appear under
    the other's name.

    Scale note (VERDICT r13 item 7): ``localCheckpoint`` stores on
    executors WITHOUT replication and truncates lineage, so a lost
    executor fails the query instead of recomputing.  Every call site in
    this repo materializes a BOUNDED relation (parameter grids, per-group
    aggregates, banded pair sets — orders of magnitude below the
    corpus)."""
    name = _view_name(f"mat_{tag}", key)
    spark.sql(sql_text).localCheckpoint().createOrReplaceTempView(name)
    return name


@contextmanager
def fixed_plan(spark: SparkSession, partitions: int = 8):
    """Static small plans for iterative loops and multi-materialization
    audit bodies (VERDICT r12 tasks 2/3).

    AQE materializes EVERY exchange as its own Spark job; a fixpoint loop
    or an audit that localCheckpoints four intermediates turns into 30-50
    jobs of ~0.1-0.3 s scheduler overhead each, dwarfing the actual work
    when the shuffled relations are bounded (parameter grids, per-query
    top-k sets, near-dup subsets).  Inside this gate, plans are fixed at
    planning time and shuffles are right-sized via ``partitions`` — the
    same discipline as ``scalars_extra.RANK_PARTITIONS``.  Join-side
    choices AQE would have made at runtime must be made statically by the
    caller (broadcast hints on constant-bounded sides, or an observed
    count as in the CC loop).  Corpus-scale scans should stay OUTSIDE the
    gate; deployments size ``partitions`` up with the gated relations'
    cardinality.  Restores both confs on exit."""
    aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    shp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.shuffle.partitions", shp)
