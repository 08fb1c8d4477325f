"""Parquet table sources for the driver's TPC-H-ish testdata.

The reference reads blobs + key-value items (S3 / DynamoDB,
reference: dags/utils/s3_dynamodb_utils.py:14-32); this engine's canonical
source is columnar parquet scanned declaratively so Catalyst gets predicate
pushdown + column pruning for free.  At cluster scale the same call reads
``s3a://bucket/path`` unchanged.
"""

from __future__ import annotations

import hashlib
import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Session-scoped catalog cache: resolving a parquet table re-reads footers
# and rebuilds the file index on EVERY spark.read call (~130 ms/table
# measured) — a real engine resolves tables through a catalog that caches
# schema + file listing per session (Hive metastore / Delta snapshot
# semantics).  The cached object is only the analyzed base RELATION (an
# immutable DataFrame); the scan still reads files at execution, so
# predicate pushdown / column pruning are untouched.  Testdata is
# read-only by contract; `clear_table_cache()` exists for anything that
# rewrites a table path mid-session.
# Keyed WEAKLY on the SparkSession object itself (round-12 advisory):
# id(spark) can be recycled by CPython after a sibling session is
# collected, which would hand back a DataFrame bound to a dead session;
# a WeakKeyDictionary cannot alias across sessions and evicts dead
# sessions' entries automatically.
_CATALOG: "weakref.WeakKeyDictionary[SparkSession, dict[tuple, DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def clear_table_cache() -> None:
    _CATALOG.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Plain ``spark.read.parquet`` keeps the scan a
    FileSourceScanExec with PushedFilters/ReadSchema intact.

    ``events.parquet`` has shipped with two physical types for ``ts`` across
    testdata generations: TIMESTAMP(NANOS) (which the Spark reader only
    accepts as a long via ``nanosAsLong``) and plain TIMESTAMP(MICROS).  The
    loader adapts to whichever is on disk: a long column is divided down to
    microseconds (truncating — matches DuckDB's read of the same file) and a
    native timestamp column is passed through untouched.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    per_session = _CATALOG.setdefault(spark, {})
    key = (os.path.abspath(sf_dir), name)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = spark.read.parquet(path)
    per_session[key] = df
    return df


def _view_name(kind: str, sf_dir: str) -> str:
    """The one SQL name scheme for per-dataset relations: the relation
    kind, the dataset directory's basename, and an md5 of its FULL path
    (two datasets whose dirs share a basename must not share a name)."""
    path = sf_dir.rstrip("/")
    base = os.path.basename(path).replace(".", "_").replace("-", "_")
    digest = hashlib.md5(path.encode()).hexdigest()[:8]
    return f"sales_telegram_bot_data_pipeline_{kind}_{base}_{digest}"


def table_view(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Expose one base table to SQL and return its view name.  The
    session-cached ``load_table`` DataFrame is (re)registered on every
    call under its sf-keyed name, so a statement binds the dataset it
    was built for even when sessions interleave scale factors."""
    view = _view_name(name, sf_dir)
    load_table(spark, sf_dir, name).createOrReplaceTempView(view)
    return view


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}
