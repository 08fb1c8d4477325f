from __future__ import annotations

import pytest

from sales_telegram_bot_data_pipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="sales_telegram_bot_data_pipeline_spark-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


@pytest.fixture(scope="session")
def registry_plans(spark) -> dict:
    """(final schema, pre-collect formatted plan, JVM QueryExecution) of
    every registered query, built once at SF_SMOKE for the registry-wide
    sweeps.  Plan-only: the window partition spec, the join strategy and
    the projection types are all fixed before execution, and formatting
    the plan here plans the query in the session state it was built in."""
    from sales_telegram_bot_data_pipeline_spark import queries as q

    built = {}
    for name in sorted(q.REGISTRY):
        df = q.REGISTRY[name].fn(spark, SF_SMOKE)
        built[name] = (df.schema, formatted_plan(df), df._jdf.queryExecution())
    return built
