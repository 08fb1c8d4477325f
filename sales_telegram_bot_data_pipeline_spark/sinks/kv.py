"""Idempotent key-value sink (reference op 5: DynamoDB put_item,
s3_dynamodb_utils.py:27-32).

The reference writes item-at-a-time; the engine writes per partition in
batches in one Spark job whose result is the number of rows written,
preserving put_item's last-write-wins upsert semantics so retries and
re-runs converge (the same idempotency property the reference relies on).

``InMemoryKVStore`` is the test double standing in for a DynamoDB
``batch_writer()``; swap ``put_batch`` for a boto3 batch write on a cluster.
Batches default to 25 items — DynamoDB's BatchWriteItem limit.
"""

from __future__ import annotations

import json
import os
import tempfile
import threading

from pyspark.sql import DataFrame

BATCH_SIZE = 25


def stringify_reference_compat(df: DataFrame, cols: list[str]) -> DataFrame:
    """Reference ops 14/42 as an opt-in sink adapter: the reference calls
    ``str(processed_item_price)`` when building its DynamoDB item
    (data_pipeline.py:134-138), which turns a failed parse (None) into the
    LITERAL string "None" and numbers into their Python repr.  The engine
    keeps columns TYPED end-to-end (NULL stays NULL, doubles stay doubles)
    so downstream predicates work; a consumer that needs byte-compatible
    records applies this adapter at the sink boundary.

    Spark's double->string cast matches Python ``str()`` for the magnitudes
    prices take (no exponent switch below 1e16 in either), so "260.6" /
    "None" come out identical to the reference's serialization."""
    from pyspark.sql import functions as F

    out = df
    for c in cols:
        out = out.withColumn(
            c, F.coalesce(F.col(c).cast("string"), F.lit("None"))
        )
    return out


class InMemoryKVStore:
    """Process-local, file-backed KV store usable from executor tasks in
    local mode (executors share the filesystem).  Last write wins per key."""

    def __init__(self, path: str | None = None):
        self.path = path or os.path.join(tempfile.gettempdir(), f"sales_telegram_bot_data_pipeline_kv_{os.getpid()}.jsonl")
        self._lock = threading.Lock()

    def put_batch(self, items: list[tuple[str, dict]]) -> None:
        with self._lock, open(self.path, "a") as f:
            for key, value in items:
                f.write(json.dumps({"k": key, "v": value}) + "\n")

    def snapshot(self) -> dict[str, dict]:
        """Replay the log — last write per key wins (put_item semantics)."""
        out: dict[str, dict] = {}
        if not os.path.exists(self.path):
            return out
        with open(self.path) as f:
            for line in f:
                rec = json.loads(line)
                out[rec["k"]] = rec["v"]
        return out

    def clear(self) -> None:
        if os.path.exists(self.path):
            os.remove(self.path)


def write_kv_upsert(df: DataFrame, key_cols: list[str], store_path: str) -> int:
    """Per-partition batch writer: rows → (composite key, row dict),
    flushed every BATCH_SIZE; returns the number of rows written, summed
    from the partitions by the write job itself.  Idempotent: re-running
    converges to the same store state."""

    def _write_partition(rows):
        store = InMemoryKVStore(store_path)
        buf: list[tuple[str, dict]] = []
        n = 0
        for row in rows:
            d = row.asDict(recursive=True)
            key = "|".join(str(d[k]) for k in key_cols)
            buf.append((key, d))
            n += 1
            if len(buf) >= BATCH_SIZE:
                store.put_batch(buf)
                buf = []
        if buf:
            store.put_batch(buf)
        yield n

    return df.rdd.mapPartitions(_write_partition).sum()
