"""How relations get their names in Spark SQL: ``sources.tables.table_view``
for base tables, ``session.session_view`` for stored session views and
``session.materialize_once`` for per-call checkpoints, all named by one
private function keyed on the dataset directory.  A relation that lives
for one statement gets no name at all: it goes to ``spark.sql`` as a
DataFrame keyword (``spark.sql(text, cum=cum)``), which binds it under a
fresh unique name for that statement only."""

from __future__ import annotations

import ast
import inspect
import logging
import pathlib
import re
import subprocess
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

from sales_telegram_bot_data_pipeline_spark import queries as q
from sales_telegram_bot_data_pipeline_spark.sources.tables import TABLE_NAMES, load_table, table_view

from conftest import SF_ORACLE, SF_SMOKE

PKG = pathlib.Path(q.__file__).resolve().parent


def test_table_view_names_each_dataset_apart(spark):
    """Two scale factors in one session get two names, and each name
    reads its own dataset (a single global name would hand the second
    registration's rows to a statement built for the first)."""
    def stats(rel: str) -> tuple:
        # both datasets hold 500 documents; their text differs
        return tuple(spark.sql(f"SELECT COUNT(*), SUM(length(text)) FROM {rel}").first())

    small = table_view(spark, SF_SMOKE, "documents")
    large = table_view(spark, SF_ORACLE, "documents")
    assert small != large
    want_small = stats(f"parquet.`{SF_SMOKE}/documents.parquet`")
    want_large = stats(f"parquet.`{SF_ORACLE}/documents.parquet`")
    assert want_small != want_large
    assert stats(small) == want_small
    assert stats(large) == want_large
    # the name is stable per dataset and registers on every call
    spark.catalog.dropTempView(small)
    assert table_view(spark, SF_SMOKE, "documents") == small
    assert stats(small) == want_small


def _calls(name: str):
    """(path relative to the package, enclosing top-level function, call
    node) for every call of ``name`` in the package, as a plain name or an
    attribute."""
    for p in sorted(PKG.rglob("*.py")):
        for top in ast.parse(p.read_text()).body:
            for node in ast.walk(top):
                fn = getattr(node, "func", None)
                if isinstance(node, ast.Call) and name in (
                    getattr(fn, "id", None), getattr(fn, "attr", None)
                ):
                    yield str(p.relative_to(PKG)), getattr(top, "name", None), node


def test_relation_names_have_one_source():
    """Only the three naming entry points register a temp view, each is
    defined exactly once, and every other relation reaches SQL through
    them or as a ``spark.sql`` DataFrame keyword."""
    registrations = sorted((path, fn) for path, fn, _ in _calls("createOrReplaceTempView"))
    assert registrations == [
        ("session.py", "materialize_once"),
        ("session.py", "session_view"),
        ("sources/tables.py", "table_view"),
    ], registrations
    src = "\n".join(p.read_text() for p in PKG.rglob("*.py"))
    for fn in ("table_view", "session_view", "_view_name", "materialize_once"):
        assert len(re.findall(rf"^def {fn}\(", src, re.M)) == 1, fn
    for gone in ("_doc_view", "_emb_view", "_materialized_shingles"):
        assert not re.search(rf"\b{gone}\b", src), gone
    from sales_telegram_bot_data_pipeline_spark import session
    from sales_telegram_bot_data_pipeline_spark.operators import dedup

    params = inspect.signature(session.materialize_once).parameters
    assert list(params) == ["spark", "sql_text", "tag", "key"]
    assert params["key"].default is inspect.Parameter.empty
    # the benchmark's tracer wraps session_view where dedup binds it
    assert dedup.session_view is session.session_view


def _renders_oracle_over_table_views(fn: ast.FunctionDef) -> bool:
    """True when ``fn`` is decorated ``@register(..., oracle=b(DUCKDB,
    "t1", ...))`` and its body only returns ``spark.sql(b(SPARK, ...))``
    over ``table_view``s of the same tables — what ``register_sql`` does."""
    def tv_table(node, bound):
        if isinstance(node, ast.Name):
            return bound.get(node.id)
        if (isinstance(node, ast.Call) and getattr(node.func, "id", None) == "table_view"
                and len(node.args) == 3 and isinstance(node.args[2], ast.Constant)):
            return node.args[2].value
        return None

    for dec in fn.decorator_list:
        if isinstance(dec, ast.Call) and getattr(dec.func, "id", None) == "register":
            oracle = next((k.value for k in dec.keywords if k.arg == "oracle"), None)
            break
    else:
        return False
    if not (isinstance(oracle, ast.Call) and isinstance(oracle.func, ast.Name) and oracle.args
            and getattr(oracle.args[0], "id", None) == "DUCKDB"
            and all(isinstance(a, ast.Constant) for a in oracle.args[1:])):
        return False
    body = [s for s in fn.body if not isinstance(s, ast.ImportFrom)]
    if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        body = body[1:]
    bound = {}
    for st in body[:-1]:
        if not (isinstance(st, ast.Assign) and len(st.targets) == 1
                and isinstance(st.targets[0], ast.Name) and tv_table(st.value, {})):
            return False
        bound[st.targets[0].id] = tv_table(st.value, {})
    ret = body[-1] if body else None
    call = getattr(ret, "value", None) if isinstance(ret, ast.Return) else None
    if not (isinstance(call, ast.Call) and getattr(call.func, "attr", None) == "sql"
            and len(call.args) == 1 and not call.keywords):
        return False
    build = call.args[0]
    return (
        isinstance(build, ast.Call) and getattr(build.func, "id", None) == oracle.func.id
        and not build.keywords and bool(build.args)
        and getattr(build.args[0], "id", None) == "SPARK"
        and [tv_table(a, bound) for a in build.args[1:]] == [a.value for a in oracle.args[1:]]
    )


def _root_builder(node) -> str | None:
    """The template a rendering expression starts from: ``b`` in
    ``b(...)``, ``B`` in ``B.format(...)`` and ``b`` in
    ``b(...).format(...)``."""
    while isinstance(node, ast.Call):
        node = node.func
        if isinstance(node, ast.Attribute) and node.attr == "format":
            node = node.value
    return getattr(node, "id", None)


def _renders_oracle_over_materialized_heads(fn: ast.FunctionDef) -> bool:
    """True when ``fn`` is an ``@register`` query whose body only renders
    text: ``table_view``s of base tables, ``materialize_once`` of heads
    rendered over those views, and one returned ``spark.sql`` of its
    oracle's own builder over the views and heads, with no DataFrame
    keyword — what ``register_sql(..., heads=...)`` does.  A head that
    reads another head, appends text to a rendered builder (a Spark-only
    clause the oracle does not have) or reaches ``spark`` through any
    other call is a different query shape and does not count."""
    dec = next((d for d in fn.decorator_list if isinstance(d, ast.Call)
                and getattr(d.func, "id", None) == "register"), None)
    oracle = next((k.value for k in dec.keywords if k.arg == "oracle"), None) if dec else None
    if oracle is None or _root_builder(oracle) is None:
        return False
    body = [s for s in fn.body if not isinstance(s, ast.ImportFrom)]
    if not body or not isinstance(body[-1], ast.Return) or not all(
        isinstance(st, ast.Assign) and len(st.targets) == 1 and isinstance(st.targets[0], ast.Name)
        for st in body[:-1]
    ):
        return False
    ret = body[-1].value
    if not (isinstance(ret, ast.Call) and isinstance(ret.func, ast.Attribute)
            and ret.func.attr == "sql" and getattr(ret.func.value, "id", None) == "spark"
            and len(ret.args) == 1 and not ret.keywords
            and _root_builder(ret.args[0]) == _root_builder(oracle)):
        return False
    nodes = [n for st in body for n in ast.walk(st)]
    calls = [n for n in nodes if isinstance(n, ast.Call)
             and getattr(n.func, "id", None) in ("table_view", "materialize_once")]
    heads = [c for c in calls if c.func.id == "materialize_once"]
    head_names = {st.targets[0].id for st in body[:-1] if "materialize_once(" in ast.unparse(st.value)}
    spark_args = sum(isinstance(a, ast.Name) and a.id == "spark" for c in calls for a in c.args)
    spark_names = sum(isinstance(n, ast.Name) and n.id == "spark" for n in nodes)
    return bool(heads) and spark_names == spark_args + 1 and not any(
        isinstance(h.args[1], ast.BinOp)
        or {n.id for n in ast.walk(h.args[1]) if isinstance(n, ast.Name)} & head_names
        for h in heads
    )


# hand-written materialized-head queries still under @register: same
# shape as the register_sql heads, left for the move of the dedup and
# similarity families (ROADMAP item 6), where several of their builders'
# relation overrides also serve stored-view and checkpoint feeds
_HAND_WRITTEN_HEADS_OK = {
    "operators/dedup.py:apss_cosine_join",
    "operators/dedup.py:dedup_duplicate_spans",
    "operators/dedup.py:dedup_incremental_lsh",
    "operators/dedup.py:dedup_ngram_jaccard",
    "operators/dedup.py:winnowing_doc_matches",
    "operators/similarity.py:bitext_margin_mining",
    "operators/similarity.py:knn_cosine_pq",
}


def test_oracle_templates_register_through_register_sql():
    """A query whose Spark side is its oracle's own template over this
    session's table views, with or without checkpointed heads, registers
    through ``registry.register_sql``; a hand-written ``@register`` twin
    of that call must not come back."""
    found = {
        f"{p.relative_to(PKG)}:{node.name}"
        for p in PKG.rglob("*.py")
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.FunctionDef) and (
            _renders_oracle_over_table_views(node) or _renders_oracle_over_materialized_heads(node)
        )
    }
    extra = sorted(found - _HAND_WRITTEN_HEADS_OK)
    assert not extra, "hand-written @register twins:\n" + "\n".join(extra)
    stale = sorted(_HAND_WRITTEN_HEADS_OK - found)
    assert not stale, f"allowlist entries that no longer match: {stale}"


# @register queries allowed to plan exactly like their own oracle text
_ORACLE_PLAN_TWINS_OK = {
    "revalidation_changed_set": "oracle-checks the library function "
    "streaming.revalidate.changed_validity, which the DAG #2 batch "
    "(run_revalidation_batch) also calls",
}


def test_no_oracle_plan_twins(spark, registry_plans):
    """Spark's DataFrame API and SQL are two front ends to one optimizer.
    An ``@register`` query whose schema, optimized plan and pre-AQE
    physical plan are all ``sameResult`` with its own oracle text run
    through ``spark.sql`` is the same query written twice, and registers
    through ``register_sql`` instead.  Oracles Spark cannot analyze
    (DuckDB-only syntax or functions) are skipped."""
    from pyspark.errors import AnalysisException, ParseException
    from pyspark.logger import PySparkLogger

    oracle_session = spark.newSession()
    for t in TABLE_NAMES:
        load_table(oracle_session, SF_SMOKE, t).createOrReplaceTempView(t)
    # PySpark logs every caught parse or analysis error, with its Java
    # stack trace, through this Python logger; here those errors are
    # expected, so the records are only noise
    context_log = PySparkLogger.getLogger("SQLQueryContextLogger")
    level = context_log.level
    context_log.setLevel(logging.CRITICAL + 1)
    twins = []
    try:
        for name, (schema, _, qe) in registry_plans.items():
            query = q.REGISTRY[name]
            if query.oracle is None or query.fn.__qualname__.startswith("register_sql."):
                continue
            try:
                oracle = oracle_session.sql(query.oracle)
            except (AnalysisException, ParseException):
                continue
            oqe = oracle._jdf.queryExecution()
            if (oracle.schema == schema
                    and oqe.optimizedPlan().sameResult(qe.optimizedPlan())
                    and oqe.sparkPlan().sameResult(qe.sparkPlan())):
                twins.append(name)
    finally:
        context_log.setLevel(level)
    unexpected = sorted(set(twins) - set(_ORACLE_PLAN_TWINS_OK))
    assert not unexpected, f"@register queries that plan as their oracle: {unexpected}"
    stale = sorted(set(_ORACLE_PLAN_TWINS_OK) - set(twins))
    assert not stale, f"allowlist entries that no longer plan as their oracle: {stale}"


def test_materialize_once_tags_are_unique():
    """A ``materialize_once`` name is keyed on the tag and the dataset,
    not on the call, so two call sites sharing a literal tag would read
    each other's relation when run at the same time on one dataset."""
    sites = {}
    for path, _, call in _calls("materialize_once"):
        if path == "registry.py":
            continue  # register_sql's call takes each tag from a heads= key
        tag = call.args[2] if len(call.args) > 2 else next(
            k.value for k in call.keywords if k.arg == "tag"
        )
        assert isinstance(tag, ast.Constant), f"{path}:{call.lineno} tag is not a literal"
        sites.setdefault(tag.value, []).append(f"{path}:{call.lineno}")
    for path, _, call in _calls("register_sql"):
        heads = next((k.value for k in call.keywords if k.arg == "heads"), None)
        if heads is None:
            continue
        assert isinstance(heads, ast.Dict), f"{path}:{call.lineno} heads is not a dict literal"
        for tag in heads.keys:
            assert isinstance(tag, ast.Constant), f"{path}:{call.lineno} head tag is not a literal"
            sites.setdefault(tag.value, []).append(f"{path}:{call.lineno}")
    assert sites
    shared = {tag: where for tag, where in sites.items() if len(where) > 1}
    assert not shared, shared


def test_queries_import_fails_loudly_on_a_broken_module():
    """A module that cannot import must break ``queries`` instead of
    silently dropping its registry entries from bench and correctness."""
    code = (
        "import sys\n"
        "sys.modules['sales_telegram_bot_data_pipeline_spark.operators.round10f'] = None\n"
        "import sales_telegram_bot_data_pipeline_spark.queries\n"
    )
    root = PKG.parent
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, timeout=120
    )
    assert out.returncode != 0, "queries imported with round10f missing"
    assert "ImportError" in out.stderr or "ModuleNotFoundError" in out.stderr


def test_concurrent_datasets_get_their_own_answers(spark):
    """Two threads on one session run the same query on two datasets at
    the same moment; each must get its own dataset's serial answer.  A
    per-call relation registered under a fixed global name lets one
    thread's statement read the other thread's rows."""
    fns = q.queries()
    sfs = (SF_SMOKE, SF_ORACLE)
    wrong = {}
    for name in ("conformal_coverage_audit", "kaplan_meier_repurchase"):
        fn = fns[name]
        want = {sf: sorted(fn(spark, sf).collect()) for sf in sfs}
        assert want[SF_SMOKE] != want[SF_ORACLE], name
        start = threading.Barrier(len(sfs), timeout=120)

        def run(sf):
            start.wait()
            return sorted(fn(spark, sf).collect())

        with ThreadPoolExecutor(len(sfs)) as pool:
            rounds = [dict(zip(sfs, pool.map(run, sfs))) for _ in range(8)]
        wrong[name] = sum(got != want for got in rounds)
    assert not any(wrong.values()), f"rounds of 8 that read the other dataset: {wrong}"
