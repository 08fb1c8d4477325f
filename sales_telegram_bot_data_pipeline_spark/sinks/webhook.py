"""Webhook fan-out sink (reference op 50: Telegram notifications "in
batches/groups to optimize", README.md:84-90).

Per-partition chunked sends + an idempotency key per message →
at-least-once delivery that downstream can dedupe.  The transport is
injectable; the default test transport appends to a local JSONL file (no
network in this container).  Swap ``transport`` for an HTTP POST on a
cluster.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame

CHUNK_SIZE = 10


class WebhookBatcher:
    def __init__(self, log_path: str, chunk_size: int = CHUNK_SIZE):
        self.log_path = log_path
        self.chunk_size = chunk_size

    def send_chunk(self, chunk: list[dict]) -> None:
        """Test transport: record the would-be POST body."""
        with open(self.log_path, "a") as f:
            f.write(json.dumps({"batch": chunk}) + "\n")

    def sent_batches(self) -> list[list[dict]]:
        try:
            with open(self.log_path) as f:
                return [json.loads(line)["batch"] for line in f]
        except FileNotFoundError:
            return []


def send_notifications(df: DataFrame, user_col: str, payload_cols: list[str], log_path: str) -> int:
    """Chunked per-partition fan-out with deterministic idempotency keys;
    returns the number of messages sent, summed from the partitions by the
    send job itself."""

    def _send_partition(rows):
        batcher = WebhookBatcher(log_path)
        chunk: list[dict] = []
        n = 0
        for row in rows:
            d = row.asDict(recursive=True)
            msg = {k: d[k] for k in payload_cols}
            digest = hashlib.md5(json.dumps(msg, sort_keys=True, default=str).encode()).hexdigest()[:12]
            msg["idempotency_key"] = f"{d[user_col]}:{digest}"
            chunk.append(msg)
            n += 1
            if len(chunk) >= CHUNK_SIZE:
                batcher.send_chunk(chunk)
                chunk = []
        if chunk:
            batcher.send_chunk(chunk)
        yield n

    return df.rdd.mapPartitions(_send_partition).sum()
