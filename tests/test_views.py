"""How relations get their names in Spark SQL: ``sources.tables.table_view``
for base tables, ``session.session_view`` for stored session views and
``session.materialize_once`` for per-call checkpoints, all named by one
private function keyed on the dataset directory."""

from __future__ import annotations

import inspect
import pathlib
import re
import subprocess
import sys

from sales_telegram_bot_data_pipeline_spark import queries as q
from sales_telegram_bot_data_pipeline_spark.sources.tables import table_view

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


def test_relation_names_have_one_source():
    """No module registers a base table under a hand-picked name, and the
    three naming entry points are each defined exactly once."""
    inline = re.compile(r"load_table\([^()]*\)\s*\.createOrReplaceTempView\(")
    offenders = [
        str(p.relative_to(PKG))
        for p in PKG.rglob("*.py")
        if p.name != "tables.py" and inline.search(p.read_text())
    ]
    assert not offenders, f"register base tables through table_view: {offenders}"
    src = "\n".join(p.read_text() for p in PKG.rglob("*.py"))
    for fn in ("table_view", "session_view", "_view_name", "materialize_once"):
        assert len(re.findall(rf"^def {fn}\(", src, re.M)) == 1, fn
    for gone in ("_doc_view", "_emb_view"):
        assert not re.search(rf"\b{gone}\b", src), gone
    from sales_telegram_bot_data_pipeline_spark import session
    from sales_telegram_bot_data_pipeline_spark.operators import dedup

    params = inspect.signature(session.materialize_once).parameters
    assert list(params) == ["spark", "sql_text", "tag", "key"]
    assert params["key"].default is inspect.Parameter.empty
    # the benchmark's tracer wraps session_view where dedup binds it
    assert dedup.session_view is session.session_view


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
