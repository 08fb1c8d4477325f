"""The ``flyer_pipeline`` workload: the reference's DAG #1 and DAG #2 on
fresh input, composed from the engine's public functions.

One item is one batch of flyers.  Each batch gets a new, seed-chosen slice
of part keys (its own ``part.parquet``), so nothing the session stored for
an earlier batch can be reused.  Stages:

1. ``detect``: pages → ``stub_detect(model1)`` → ``pad_clamp`` →
   ``group_detections`` → ``write_dataset`` (partitioned by shop);
2. ``extract``: ``stub_detect(model2, OCR)`` → ``price_value_col`` →
   ``segment_column`` over the distinct item names → ``write_kv_upsert``;
3. ``revalidate``: ``run_revalidation_batch`` on the batch's flyer validity
   windows at a seed-chosen date that advances batch by batch, which
   upserts the changed flags, cascades them to the stage-2 items and fans
   out webhook notifications for flyers that became valid.

``check_batch`` compares every sink against the generated input: the stub
model is deterministic, so the detections it must return are recomputed
here from the page metadata; prices are re-derived in DuckDB with the
engine's own dispatcher SQL in the DuckDB dialect, and the changed set of
the revalidation in DuckDB as well.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import re
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

from datagen import part_table

FLYERS_PER_BATCH = 32  # batch latency is flat from 4 to 64 flyers (README.md, "Scale and sizes")
KEY_SPACE = 10_000_000
BASE_DATE = dt.date(2024, 3, 1)
PAGE_MOD = 3
MODEL2_CLASSES = ("item_name", "item_price", "item_member_price", "item_initial_price")
_PK = re.compile(r"part_(\d+)_page_")


@dataclass
class Batch:
    index: int
    dir: str
    keys: list[int]
    meta: list[tuple]  # (meta_key, valid_from, valid_to, stored_valid), dates as ISO text
    today: str


def make_batch(seed: int, index: int, root: str, warm_up: bool = False) -> Batch:
    """Write batch ``index``'s source table; the same seed gives the same
    batch.  The warm-up batch draws its own keys."""
    rng = np.random.default_rng([seed, index, 18 if warm_up else 17])
    keys = np.sort(rng.choice(KEY_SPACE, FLYERS_PER_BATCH, replace=False))
    d = os.path.join(root, f"{'warm' if warm_up else 'batch'}_{index:04d}")
    os.makedirs(d, exist_ok=True)
    pq.write_table(part_table(keys, rng), os.path.join(d, "part.parquet"))
    today = BASE_DATE + dt.timedelta(days=int(seed % 29) + 2 * index)
    meta = []
    for k in keys:
        start = today + dt.timedelta(days=int(rng.integers(-12, 8)))
        end = start + dt.timedelta(days=int(rng.integers(3, 15)))
        yesterday = today - dt.timedelta(days=2)
        stored = bool(start <= yesterday <= end) != bool(rng.random() < 0.1)
        meta.append((int(k), start.isoformat(), end.isoformat(), stored))
    return Batch(index, d, [int(k) for k in keys], meta, today.isoformat())


# ---------------------------------------------------------------------------
# what the stub model returns for the batch's pages
# ---------------------------------------------------------------------------
def _h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def expected_pages(keys: list[int], shops: tuple[str, ...]) -> list[dict]:
    pages = []
    for pk in keys:
        for i in range(1, 2 + pk % PAGE_MOD):
            pages.append({
                "image_id": f"pages/valid/part_{pk}_page_{i}.png",
                "shop_name": shops[pk % len(shops)],
                "width": 640 + pk % 640,
                "height": 480 + pk % 480,
            })
    return pages


def _ocr(seed: int, cls: str, vocab: list[str]) -> str:
    if cls == "item_name":
        return " ".join(vocab[(seed >> k) % len(vocab)] for k in (0, 5, 9))
    n, whole, cents = seed % 5, 5 + seed % 495, seed % 100
    if n == 0:
        return f"{whole}.{cents:02d}"
    if n == 1:
        return f"{whole}{cents:02d}"
    if n == 2:
        return f"{whole},{cents:02d}"
    if n == 3:
        return f"{whole}.{cents:02d} {whole + 5}.90"
    return f"{whole} {90 if seed % 2 else 99}"


def expected_detections(pages: list[dict], model: str, vocab: list[str]) -> list[dict]:
    classes = ("shop_item",) if model == "model1" else MODEL2_CLASSES
    rows = []
    for p in pages:
        det_idx = 0
        for cls in classes:
            for k in range(_h(f"{p['image_id']}|{model}|{cls}") % 3):
                s2 = _h(f"{p['image_id']}|{cls}|{k}")
                rows.append({
                    "image_id": p["image_id"], "shop_name": p["shop_name"],
                    "det_idx": det_idx, "class_name": cls,
                    "ocr_text": _ocr(s2, cls, vocab) if model == "model2" else None,
                })
                det_idx += 1
    return rows


# ---------------------------------------------------------------------------
# one batch through the engine
# ---------------------------------------------------------------------------
class FlyerPipeline:
    """Runs batches on one session.  ``span(name)`` brackets each stage;
    ``observe(df)`` receives a DataFrame whose plan ran outside a SQL action."""

    def __init__(self, spark, run_dir: str, span, observe):
        from pyspark.sql import functions as F

        from sales_telegram_bot_data_pipeline_spark.functions import broadcast_cache, prices
        from sales_telegram_bot_data_pipeline_spark.operators import inference, segmentation
        from sales_telegram_bot_data_pipeline_spark.sinks import dataset, kv
        from sales_telegram_bot_data_pipeline_spark.streaming import revalidate

        # modules, not functions: calls resolve through the module namespace,
        # where the traced run installs its wrappers
        self.spark, self.run_dir, self.span, self.observe, self.F = spark, run_dir, span, observe, F
        self.inference, self.segmentation, self.prices = inference, segmentation, prices
        self.broadcast_cache, self.dataset, self.kv, self.revalidate = (
            broadcast_cache, dataset, kv, revalidate
        )

    def paths(self, b: Batch) -> dict[str, str]:
        out = os.path.join(self.run_dir, "out_" + os.path.basename(b.dir))
        return {
            "dataset": os.path.join(out, "detections"),
            "kv_items": os.path.join(out, "kv_items.jsonl"),
            "kv_valid": os.path.join(out, "kv_valid.jsonl"),
            "webhook": os.path.join(out, "webhook.jsonl"),
        }

    def run(self, b: Batch, group: str) -> dict:
        F, spark, sc = self.F, self.spark, self.spark.sparkContext
        inf, seg_mod = self.inference, self.segmentation
        paths = self.paths(b)
        os.makedirs(os.path.dirname(paths["kv_items"]), exist_ok=True)

        sc.setJobGroup(f"{group}:detect", "flyer detect")
        with self.span("flyer.detect"):
            pages = inf.synthesize_pages(spark, b.dir)
            det1 = inf.pad_clamp(inf.stub_detect(pages, model="model1").where(F.col("error").isNull()))
            grouped = inf.group_detections(det1).join(
                pages.select("image_id", "shop_name"), "image_id"
            )
            self.dataset.write_dataset(grouped, paths["dataset"], partition_by=("shop_name",), n_shards=1)

        sc.setJobGroup(f"{group}:extract", "flyer extract")
        with self.span("flyer.extract"):
            det2 = inf.stub_detect(pages, model="model2", include_ocr=True)
            priced_plan = det2.withColumn(
                "price", self.prices.price_value_col("shop_name", "ocr_text", "class_name")
            )
            # checkpointed lazily: the names branch and the record branch
            # both read it, and the model-2 pass must run once
            priced = priced_plan.localCheckpoint(eager=False)
            names = (
                priced.where(F.col("class_name") == "item_name")
                .select(F.col("ocr_text").alias("name")).distinct()
            )
            trie = self.broadcast_cache.broadcast_once(
                spark, "item_trie", (),
                lambda: seg_mod.build_vocab_trie(inf.ITEM_NAME_VOCAB),
            )
            seg = seg_mod.segment_column(spark, names, "name", "seg_name", [], trie_bc=trie)
            items = priced.join(F.broadcast(seg), priced["ocr_text"] == seg["name"], "left").select(
                "image_id", "det_idx", "shop_name", "class_name", "ocr_text", "price",
                "seg_name", "error",
            )
            self.kv.write_kv_upsert(items, ["image_id", "det_idx"], paths["kv_items"])
            self.observe(priced_plan)  # the model-2 pass ran under the checkpoint

        sc.setJobGroup(f"{group}:revalidate", "flyer revalidate")
        with self.span("flyer.revalidate"):
            item_keys = self.kv.InMemoryKVStore(paths["kv_items"]).snapshot()
            details = [(k, int(_PK.search(k).group(1))) for k in item_keys]
            meta = spark.createDataFrame(
                b.meta, "meta_key long, valid_from string, valid_to string, stored_valid boolean"
            ).select(
                "meta_key",
                F.col("valid_from").cast("timestamp").alias("valid_from"),
                F.col("valid_to").cast("timestamp").alias("valid_to"),
                "stored_valid",
            )
            details_df = spark.createDataFrame(details, "detail_key string, detail_fk long")
            counts = self.revalidate.run_revalidation_batch(
                spark, meta, details_df, b.today, paths["kv_valid"], paths["webhook"]
            )
        sc.setJobGroup(f"{group}:idle", "")
        return {"counts": counts, "detail_rows": len(details), "paths": paths}


# ---------------------------------------------------------------------------
# checks against the generated input
# ---------------------------------------------------------------------------
def check_batch(b: Batch, result: dict, con, shops, vocab, dispatcher_sql: str) -> tuple[list[str], dict]:
    """Errors found in the batch's sinks, and the counts the trace reports."""
    from sales_telegram_bot_data_pipeline_spark.sinks.kv import InMemoryKVStore
    from sales_telegram_bot_data_pipeline_spark.sinks.webhook import WebhookBatcher

    errors: list[str] = []
    paths = result["paths"]
    pages = expected_pages(b.keys, shops)

    # stage 1: one dataset row per page with a model-1 detection
    det1 = expected_detections(pages, "model1", vocab)
    want1: dict[str, int] = {}
    for r in det1:
        want1[r["image_id"]] = want1.get(r["image_id"], 0) + 1
    got1 = pq.read_table(paths["dataset"]).to_pylist() if want1 else []
    got1_counts = {
        r["image_id"]: sum(len(v) for v in dict(r["detections"]).values()) for r in got1
    }
    if got1_counts != want1:
        errors.append(f"dataset: {len(got1_counts)} images, want {len(want1)}")
    shop_of = {p["image_id"]: p["shop_name"] for p in pages}
    if any(shop_of.get(r["image_id"]) != r["shop_name"] for r in got1):
        errors.append("dataset: image written under the wrong shop partition")

    # stage 2: one KV record per model-2 detection, prices as DuckDB parses them
    det2 = expected_detections(pages, "model2", vocab)
    items = InMemoryKVStore(paths["kv_items"]).snapshot()
    want_keys = {f"{r['image_id']}|{r['det_idx']}" for r in det2}
    if set(items) != want_keys:
        errors.append(f"kv items: {len(items)} keys, want {len(want_keys)}")
    want_price = _duckdb_prices(con, det2, dispatcher_sql)
    names = {r["ocr_text"] for r in det2 if r["class_name"] == "item_name"}
    dead = 0
    for r in det2:
        got = items.get(f"{r['image_id']}|{r['det_idx']}")
        if got is None:
            continue
        dead += got.get("error") is not None
        if got["ocr_text"] != r["ocr_text"] or got["class_name"] != r["class_name"]:
            errors.append(f"kv item {r['image_id']}|{r['det_idx']}: wrong detection")
            break
        if not _same_price(got["price"], want_price[(r["image_id"], r["det_idx"])]):
            errors.append(f"kv item {r['image_id']}|{r['det_idx']}: price {got['price']}")
            break
        if r["class_name"] == "item_name" and (
            got["seg_name"] is None or got["seg_name"].replace(" ", "") != r["ocr_text"].replace(" ", "")
        ):
            errors.append(f"kv item {r['image_id']}|{r['det_idx']}: segmentation {got['seg_name']!r}")
            break

    # stage 3: changed flags, cascaded items, one notification per newly valid flyer
    changed = dict(_duckdb_changed(con, b.meta, b.today))
    valid = InMemoryKVStore(paths["kv_valid"]).snapshot()
    got_meta = {int(k): v["now_valid"] for k, v in valid.items() if "meta_key" in v}
    if got_meta != changed:
        errors.append(f"revalidation: {len(got_meta)} flyers flipped, want {len(changed)}")
    flipped = {k for k in items if int(_PK.search(k).group(1)) in changed}
    got_flipped = {k for k, v in valid.items() if "detail_key" in v}
    if got_flipped != flipped:
        errors.append(f"revalidation: {len(got_flipped)} items flipped, want {len(flipped)}")
    msgs = [m for chunk in WebhookBatcher(paths["webhook"]).sent_batches() for m in chunk]
    ids = [m["idempotency_key"] for m in msgs]
    if len(set(ids)) != len(ids):
        errors.append("webhook: duplicate idempotency keys")
    if sorted(m["user_ref"] for m in msgs) != sorted(k for k, v in changed.items() if v):
        errors.append(f"webhook: {len(msgs)} notifications, want {sum(changed.values())}")
    counts = result["counts"]
    if (counts["changed"], counts["details_flipped"]) != (len(changed), len(flipped)):
        errors.append(f"revalidation counts {counts}")

    stats = {
        "detections": sum(got1_counts.values()) + len(items),
        "dead_letters": dead,
        "kv_rows": len(items) + len(valid),
        "kv_bytes": os.path.getsize(paths["kv_items"]) + _size(paths["kv_valid"]),
        "webhook_chunks": len(WebhookBatcher(paths["webhook"]).sent_batches()),
        "distinct_names": len(names),
        "records": len(items),
        "details_flipped": counts["details_flipped"],
        "detail_rows": result["detail_rows"],
    }
    return errors, stats


def _size(path: str) -> int:
    return os.path.getsize(path) if os.path.exists(path) else 0


def _same_price(got, want) -> bool:
    if got is None or want is None:
        return got is None and want is None
    return abs(float(got) - float(want)) <= 1e-9 * max(1.0, abs(float(want)))


def _duckdb_prices(con, det2: list[dict], dispatcher_sql: str) -> dict:
    import pandas as pd

    df = pd.DataFrame(det2, columns=["image_id", "shop_name", "det_idx", "class_name", "ocr_text"])
    con.register("perfbench_det2", df)
    try:
        rows = con.execute(
            f"SELECT image_id, det_idx, {dispatcher_sql} AS price FROM perfbench_det2"
        ).fetchall()
    finally:
        con.unregister("perfbench_det2")
    return {(r[0], r[1]): r[2] for r in rows}


def _duckdb_changed(con, meta: list[tuple], today: str) -> list[tuple]:
    import pandas as pd

    df = pd.DataFrame(meta, columns=["meta_key", "valid_from", "valid_to", "stored_valid"])
    # typed timestamps: DuckDB 1.0 mis-compares CAST(<varchar column> AS
    # TIMESTAMP) with a timestamp constant
    df["valid_from"] = pd.to_datetime(df["valid_from"])
    df["valid_to"] = pd.to_datetime(df["valid_to"])
    con.register("perfbench_meta", df)
    try:
        return con.execute(
            f"""SELECT meta_key, now_valid FROM (
                  SELECT meta_key, stored_valid,
                         (TIMESTAMP '{today}' BETWEEN valid_from AND valid_to) AS now_valid
                  FROM perfbench_meta)
                WHERE now_valid <> stored_valid"""
        ).fetchall()
    finally:
        con.unregister("perfbench_meta")
