"""Incremental validity revalidation — reference DAG #2
(ops 46-47, 50-51; README.md:66-98) as an incremental Spark job.

Shape: ``Trigger.AvailableNow``-style batch kicked by cron AND by upstream
completion (the reference's dual trigger, README.md:68); each run

1. recomputes ``valid := valid_from <= today <= valid_to`` over the metadata
   table and diffs against the stored flag → changed-set (op 46);
2. cascades the flip to detail rows via an equi-join — only flipped parents'
   rows are touched ("to reduce unnecessary processing", op 47);
3. upserts both through the idempotent KV sink (re-runs converge — put_item
   semantics, op 5);
4. fans out notifications for newly-valid parents through the chunked
   webhook sink (op 50).

At 100 TB: the changed-set is tiny relative to the table (validity flips are
rare) → broadcast it into the cascade join; the sinks are per-partition
batched and return their row counts, so no extra count job runs and
nothing round-trips the driver but those counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sinks.kv import write_kv_upsert
from ..sinks.webhook import send_notifications
from ..sources.tables import load_table


def changed_validity(meta: DataFrame, today: str) -> DataFrame:
    """op 46: rows whose recomputed validity differs from the stored flag."""
    t = F.lit(today).cast("timestamp")
    now_valid = (t >= F.col("valid_from")) & (t <= F.col("valid_to"))
    return (
        meta.withColumn("now_valid", now_valid)
        .where(F.col("now_valid") != F.col("stored_valid"))
    )


def cascade_to_details(changed: DataFrame, details: DataFrame, on: tuple[str, str]) -> DataFrame:
    """op 47: flip detail rows of changed parents only (broadcast the small
    changed-set)."""
    left, right = on
    return details.join(
        F.broadcast(changed.select(F.col(left), "now_valid")),
        on=details[right] == changed[left],
    ).drop(left)


def run_revalidation_batch(
    spark: SparkSession,
    meta: DataFrame,
    details: DataFrame,
    today: str,
    kv_path: str,
    webhook_log: str | None = None,
) -> dict[str, int]:
    """One incremental run; returns row counts for observability, as the
    sinks report them: one job per sink plus the changed-set broadcast,
    and nothing cached."""
    changed = changed_validity(meta, today)
    flipped_details = cascade_to_details(changed, details, on=("meta_key", "detail_fk"))
    out = {
        "changed": write_kv_upsert(changed.select("meta_key", "now_valid"), ["meta_key"], kv_path),
        "details_flipped": write_kv_upsert(
            flipped_details.select("detail_key", "detail_fk", "now_valid"), ["detail_key"], kv_path
        ),
        "notified": 0,
    }
    if webhook_log is not None:
        out["notified"] = send_notifications(
            changed.where(F.col("now_valid")).select(F.col("meta_key").alias("user_ref"), "now_valid"),
            user_col="user_ref",
            payload_cols=["user_ref", "now_valid"],
            log_path=webhook_log,
        )
    return out


@register(
    "revalidation_changed_set",
    oracle="""
WITH meta AS (
  SELECT o_orderkey AS meta_key,
         o_orderdate AS valid_from,
         o_orderdate + INTERVAL 90 DAY AS valid_to,
         (o_orderkey % 3 = 0) AS stored_valid
  FROM orders
)
SELECT meta_key, stored_valid,
       (TIMESTAMP '1997-06-01' BETWEEN valid_from AND valid_to) AS now_valid
FROM meta
WHERE stored_valid <> (TIMESTAMP '1997-06-01' BETWEEN valid_from AND valid_to)
ORDER BY meta_key
""",
    doc="Reference op 46 as the engine's incremental-revalidation operator "
    "(metadata derived from orders; library form also drives the KV/webhook "
    "sinks — see streaming/revalidate.py).",
    tags=("streaming", "incremental"),
)
def revalidation_changed_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    meta = orders.select(
        F.col("o_orderkey").alias("meta_key"),
        F.col("o_orderdate").alias("valid_from"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("valid_to"),
        (F.col("o_orderkey") % 3 == 0).alias("stored_valid"),
    )
    return (
        changed_validity(meta, "1997-06-01")
        .select("meta_key", "stored_valid", "now_valid")
        .orderBy("meta_key")
    )
