"""price_histogram_equiwidth bucket bounds: exact DECIMAL, so Spark and
DuckDB round a bound that lands on a half cent the same way."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import duckdb

from sales_telegram_bot_data_pipeline_spark.functions.dialect import DUCKDB, SPARK
from sales_telegram_bot_data_pipeline_spark.operators.scalars_extra import _histogram_sql


def test_histogram_bounds_round_half_cents_like_duckdb(spark):
    """price_histogram_equiwidth on orders whose bucket-10 bound is the
    half cent 129489.835: the double expression evaluates to
    129489.83499999999, which the engines rounded differently.  The
    DECIMAL bound rounds half up to 129489.84 in both."""
    prices = [67110.04, 129000.00, 130000.00, 191869.63]
    spark.createDataFrame([(p,) for p in prices], "o_totalprice double").createOrReplaceTempView(
        "sales_telegram_bot_data_pipeline_hist_half_cent"
    )
    got = [
        tuple(r)
        for r in spark.sql(
            _histogram_sql(SPARK, "sales_telegram_bot_data_pipeline_hist_half_cent")
        ).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE orders (o_totalprice DOUBLE)")
    con.executemany("INSERT INTO orders VALUES (?)", [(p,) for p in prices])
    want = con.execute(_histogram_sql(DUCKDB, "orders")).fetchall()
    assert got == [tuple(r) for r in want]

    mn, mx = Decimal("67110.04"), Decimal("191869.63")
    bound = (mn + 10 * (mx - mn) / 20).quantize(Decimal("0.01"), ROUND_HALF_UP)
    assert bound == Decimal("129489.84")
    by_bucket = {r[0]: r for r in got}
    assert by_bucket[9][2] == by_bucket[10][1] == float(bound)
