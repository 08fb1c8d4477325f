"""Streaming correctness via batch parity (SURVEY.md §5.4): the same window
expressions run (a) as a real Structured Streaming job over a file-source
stream of the events table, and (b) in batch; results must match exactly.
Also exercises the incremental revalidation job end-to-end through the
idempotent KV sink and webhook batcher (ops 5, 46-47, 50).
"""

from __future__ import annotations

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from sales_telegram_bot_data_pipeline_spark.sinks.kv import InMemoryKVStore, write_kv_upsert
from sales_telegram_bot_data_pipeline_spark.sinks.webhook import WebhookBatcher
from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table
from sales_telegram_bot_data_pipeline_spark.streaming.revalidate import run_revalidation_batch
from sales_telegram_bot_data_pipeline_spark.streaming.windows import (
    attribution_join_stream,
    dedup_stream,
    read_events_stream,
    run_to_completion,
    session_sums,
    tumbling_counts,
)

from conftest import SF_SMOKE

TMP = os.path.join(os.path.dirname(__file__), ".tmp")


@pytest.fixture()
def scratch():
    path = os.path.join(TMP, uuid.uuid4().hex)
    os.makedirs(path, exist_ok=True)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _events_as_stream_source(spark, scratch: str, n_files: int = 4) -> str:
    """Split events into n parquet files of CONTIGUOUS time ranges so the
    file source replays them as in-order micro-batches — arrival never lags
    the watermark, so streaming state converges to the batch answer (late
    arrivals beyond the watermark are legitimately dropped by streaming and
    are covered by the watermark_tail_stats batch query instead)."""
    from pyspark.sql.window import Window

    src = os.path.join(scratch, "events_src")
    ev = load_table(spark, SF_SMOKE, "events")
    n = ev.count()
    ev.withColumn("rn", F.row_number().over(Window.orderBy("ts"))) \
      .withColumn("bucket", (F.col("rn") * n_files / (n + 1)).cast("int")) \
      .drop("rn") \
      .repartition("bucket").write.partitionBy("bucket").parquet(src)
    # file source needs files directly under the path with a fixed schema →
    # flatten the partition dirs
    flat = os.path.join(scratch, "flat")
    os.makedirs(flat, exist_ok=True)
    i = 0
    base = 1_700_000_000
    for root, _dirs, files in sorted(os.walk(src)):  # bucket=0,1,2,… in time order
        for f in sorted(files):
            if f.endswith(".parquet"):
                dst = os.path.join(flat, f"{i:03d}.parquet")
                shutil.copy(os.path.join(root, f), dst)
                # FileStreamSource orders micro-batches by modification time;
                # copies can tie within a millisecond → pin strictly
                # increasing mtimes so arrival order is deterministic
                os.utime(dst, (base + i, base + i))
                i += 1
    return flat


def test_tumbling_stream_matches_batch(spark, scratch):
    flat = _events_as_stream_source(spark, scratch)
    # streaming pass (complete mode; watermark can't drop rows then)
    stream = read_events_stream(spark, flat)
    got = run_to_completion(tumbling_counts(stream), f"tumb_{uuid.uuid4().hex[:8]}")
    # batch pass over the SAME files
    batch = spark.read.parquet(flat)
    want = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_session_stream_matches_batch(spark, scratch):
    flat = _events_as_stream_source(spark, scratch)
    stream = read_events_stream(spark, flat)
    got = run_to_completion(session_sums(stream), f"sess_{uuid.uuid4().hex[:8]}")
    batch = spark.read.parquet(flat)
    want = (
        batch.groupBy(F.session_window("ts", "15 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "n_events")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_dedup_stream_matches_batch(spark, scratch):
    """Within-watermark duplicates are suppressed exactly once: a source
    where every event appears twice (same file -> same micro-batch window)
    streams through dedup_stream and must equal batch dropDuplicates."""
    flat = _events_as_stream_source(spark, scratch)
    dup_dir = os.path.join(scratch, "dup")
    os.makedirs(dup_dir, exist_ok=True)
    base = 1_800_000_000
    for i, f in enumerate(sorted(os.listdir(flat))):
        src_file = os.path.join(flat, f)
        one = spark.read.parquet(src_file)
        dst = os.path.join(dup_dir, f)
        one.unionAll(one).coalesce(1).write.parquet(dst + ".d")
        part = [p for p in os.listdir(dst + ".d") if p.endswith(".parquet")][0]
        shutil.move(os.path.join(dst + ".d", part), dst)
        shutil.rmtree(dst + ".d")
        os.utime(dst, (base + i, base + i))

    stream = read_events_stream(spark, dup_dir)
    got = run_to_completion(
        dedup_stream(stream, ["event_id"]),
        f"dedup_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    want = spark.read.parquet(dup_dir).dropDuplicates(["event_id"])
    assert got.count() == want.count()
    assert sorted(r["event_id"] for r in got.collect()) == sorted(
        r["event_id"] for r in want.collect()
    )


def test_attribution_stream_matches_batch(spark, scratch):
    """Stream-stream interval join parity: two filtered sides of the same
    watermarked file-source stream, inner-joined with an event-time bound,
    must emit exactly the batch operator's pairs (append mode — each match
    exactly once, state expired past watermark+horizon)."""
    from sales_telegram_bot_data_pipeline_spark.operators.temporal import (
        attribution_interval_join,
    )

    flat = _events_as_stream_source(spark, scratch)
    stream = read_events_stream(spark, flat)
    got = run_to_completion(
        attribution_join_stream(
            stream.where(F.col("event_type") == "view"),
            stream.where(F.col("event_type") == "purchase"),
        ),
        f"attr_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    want = attribution_interval_join(spark, SF_SMOKE)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_kv_sink_idempotent(spark, scratch):
    kv_path = os.path.join(scratch, "kv.jsonl")
    df = spark.createDataFrame([(1, "a"), (2, "b"), (1, "a")], "k int, v string")
    assert write_kv_upsert(df, ["k"], kv_path) == 3
    first = InMemoryKVStore(kv_path).snapshot()
    assert write_kv_upsert(df, ["k"], kv_path) == 3  # re-run: must converge, not duplicate
    second = InMemoryKVStore(kv_path).snapshot()
    assert first == second
    assert set(first) == {"1", "2"}
    assert first["1"] == {"k": 1, "v": "a"}


def test_kv_sink_writes_map_columns_as_dicts(spark, scratch):
    """The stored payload is ``Row.asDict(recursive=True)``: a map column,
    and a map inside a struct, are written as JSON objects."""
    kv_path = os.path.join(scratch, "kv.jsonl")
    df = spark.createDataFrame(
        [(1, {"a": 1}, (2, {"b": 3}))],
        "k int, m map<string, int>, s struct<x: int, n: map<string, int>>",
    )
    assert write_kv_upsert(df, ["k"], kv_path) == 1
    assert InMemoryKVStore(kv_path).snapshot() == {
        "1": {"k": 1, "m": {"a": 1}, "s": {"x": 2, "n": {"b": 3}}}
    }


def test_blob_sink_idempotent(spark, scratch):
    from sales_telegram_bot_data_pipeline_spark.sinks.blob import LocalBlobStore, write_blobs

    root = os.path.join(scratch, "blobstore")
    df = spark.createDataFrame(
        [
            ("pages/valid/a.png", bytearray(b"\x89PNG-a")),
            ("item_detected/valid/b.png", bytearray(b"\x89PNG-b")),
            ("pages/valid/a.png", bytearray(b"\x89PNG-a")),  # dup key, same bytes
            (None, bytearray(b"orphan")),                    # null key skipped
            ("pages/valid/empty.png", None),                 # null content skipped
        ],
        "blob_key string, content binary",
    ).repartition(4)
    write_blobs(df, "blob_key", "content", root)
    store = LocalBlobStore(root)
    first = {k: store.get(k) for k in store.keys()}
    assert set(first) == {"pages/valid/a.png", "item_detected/valid/b.png"}
    assert first["pages/valid/a.png"] == b"\x89PNG-a"
    write_blobs(df, "blob_key", "content", root)  # re-run: converges, no extras
    assert {k: store.get(k) for k in store.keys()} == first
    # a temp leaked by a hard-killed task must never appear as a phantom key
    staging = os.path.join(root, LocalBlobStore.STAGING)
    os.makedirs(staging, exist_ok=True)
    with open(os.path.join(staging, "tmpleaked"), "wb") as f:
        f.write(b"half-written")
    assert set(store.keys()) == set(first)


def test_revalidation_job_end_to_end(spark, scratch):
    kv_path = os.path.join(scratch, "kv.jsonl")
    hook = os.path.join(scratch, "webhook.jsonl")
    meta = spark.createDataFrame(
        [
            # (key, from, to, stored) around today=1997-06-01
            (1, "1997-05-01", "1997-07-01", False),  # actually valid → flips
            (2, "1997-01-01", "1997-02-01", True),   # expired → flips
            (3, "1997-05-01", "1997-07-01", True),   # correct → untouched
        ],
        "meta_key int, valid_from string, valid_to string, stored_valid boolean",
    ).select(
        "meta_key",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
        "stored_valid",
    )
    details = spark.createDataFrame(
        [(10, 1), (11, 1), (20, 2), (30, 3)], "detail_key int, detail_fk int"
    )
    stats = run_revalidation_batch(spark, meta, details, "1997-06-01", kv_path, hook)
    assert stats == {"changed": 2, "details_flipped": 3, "notified": 1}
    snap = InMemoryKVStore(kv_path).snapshot()
    assert snap["1"]["now_valid"] is True and snap["2"]["now_valid"] is False
    assert snap["10"]["now_valid"] is True and snap["20"]["now_valid"] is False
    assert "30" not in snap  # untouched parent's details not rewritten
    batches = WebhookBatcher(hook).sent_batches()
    sent = [m for b in batches for m in b]
    assert len(sent) == 1 and sent[0]["user_ref"] == 1 and "idempotency_key" in sent[0]
    # re-run converges (idempotent sinks)
    stats2 = run_revalidation_batch(spark, meta, details, "1997-06-01", kv_path, hook)
    assert InMemoryKVStore(kv_path).snapshot() == snap
    assert stats2["changed"] == 2


def test_revalidation_batch_job_count(spark, scratch):
    """On test_revalidation_job_end_to_end's input a run launches one job
    per sink (two KV upserts, one webhook send) and one for the broadcast
    changed-set: the counts come from the sinks, and nothing is cached or
    counted on the side (that form ran 11 jobs)."""
    meta = spark.createDataFrame(
        [
            (1, "1997-05-01", "1997-07-01", False),
            (2, "1997-01-01", "1997-02-01", True),
            (3, "1997-05-01", "1997-07-01", True),
        ],
        "meta_key int, valid_from string, valid_to string, stored_valid boolean",
    ).select(
        "meta_key",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
        "stored_valid",
    )
    details = spark.createDataFrame(
        [(10, 1), (11, 1), (20, 2), (30, 3)], "detail_key int, detail_fk int"
    )
    sc = spark.sparkContext
    group = f"revalidation-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "revalidation job count")
    try:
        stats = run_revalidation_batch(
            spark, meta, details, "1997-06-01",
            os.path.join(scratch, "kv.jsonl"), os.path.join(scratch, "webhook.jsonl"),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert stats == {"changed": 2, "details_flipped": 3, "notified": 1}
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 4, f"{len(jobs)} jobs"


def test_multimodal_features_shape(spark):
    from sales_telegram_bot_data_pipeline_spark.sources.binary import multimodal_features

    df = multimodal_features(spark, SF_SMOKE)
    rows = df.limit(5).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["byte_len"] > 0
        assert len(r["features"]) == 8
        assert all(0.0 <= f <= 1.0 for f in r["features"])
    # determinism: same content → same features
    again = multimodal_features(spark, SF_SMOKE).limit(5).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_stringify_reference_compat_matches_python_str(spark):
    """Ops 14/42 sink adapter: typed NULL -> literal "None", numbers ->
    their Python str() repr — byte-compatible with the reference's
    str(processed_*) DynamoDB serialization (data_pipeline.py:134-138)."""
    from sales_telegram_bot_data_pipeline_spark.sinks.kv import stringify_reference_compat

    df = spark.createDataFrame(
        [(1, 260.6, "x"), (2, None, None), (3, 79.0, "y"), (4, 0.35, "z")],
        "id int, price double, name string",
    )
    out = {
        r["id"]: (r["price"], r["name"])
        for r in stringify_reference_compat(df, ["price", "name"]).collect()
    }
    assert out == {
        1: (str(260.6), "x"),
        2: (str(None), str(None)),
        3: (str(79.0), "y"),
        4: (str(0.35), "z"),
    }
    # schema is string after the adapter (DynamoDB item shape)
    sdf = stringify_reference_compat(df, ["price"])
    assert dict(sdf.dtypes)["price"] == "string"


def test_dataset_sink_dynamic_overwrite(spark, scratch):
    """Partitioned export: full write then a one-partition refresh — the
    refreshed partition is replaced, the untouched partition survives, and
    a full re-run converges to the same row set (idempotent)."""
    import os

    from sales_telegram_bot_data_pipeline_spark.sinks.dataset import write_dataset

    root = os.path.join(scratch, "corpus")
    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "lang", "n_chars",
        F.when(F.col("doc_id") % 2 == 0, "train").otherwise("val").alias("split_name"),
    )
    write_dataset(docs, root, partition_by=("split_name",), n_shards=2)
    first = spark.read.parquet(root)
    n_train = first.where("split_name = 'train'").count()
    n_val = first.where("split_name = 'val'").count()
    assert n_train > 0 and n_val > 0
    # refresh ONLY the val split with a filtered subset
    refreshed = docs.where("split_name = 'val' AND doc_id < 50")
    write_dataset(refreshed, root, partition_by=("split_name",), n_shards=2)
    again = spark.read.parquet(root)
    assert again.where("split_name = 'train'").count() == n_train, (
        "dynamic overwrite must not touch absent partitions"
    )
    assert again.where("split_name = 'val'").count() == refreshed.count()
    # full re-run converges
    write_dataset(docs, root, partition_by=("split_name",), n_shards=2)
    final = spark.read.parquet(root)
    assert sorted(r["doc_id"] for r in final.collect()) == sorted(
        r["doc_id"] for r in docs.collect()
    )
    # bounded file count: n_shards parquet files per partition dir
    for split in ("train", "val"):
        files = [
            f for f in os.listdir(os.path.join(root, f"split_name={split}"))
            if f.endswith(".parquet")
        ]
        assert len(files) <= 2, f"{split}: {len(files)} files, expected <= n_shards"


def test_stream_checkpoint_resume_exactly_once(spark, scratch):
    """Source-offset checkpointing: a file-sink query drains the source
    with Trigger.AvailableNow, stops, new files arrive, and a SECOND run
    with the SAME checkpoint resumes from the recorded offsets — every
    input row lands in the sink exactly once across the two runs."""
    flat = _events_as_stream_source(spark, scratch)
    files = sorted(os.listdir(flat))
    first_half = os.path.join(scratch, "src")
    os.makedirs(first_half, exist_ok=True)
    for i, f in enumerate(files[:2]):
        shutil.copy(os.path.join(flat, f), os.path.join(first_half, f))
        os.utime(os.path.join(first_half, f), (1_900_000_000 + i,) * 2)

    out = os.path.join(scratch, "sink")
    ckpt = os.path.join(scratch, "ckpt")

    def run_once():
        q = (
            read_events_stream(spark, first_half)
            .select("event_id", "user_id", "event_type")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n_first = spark.read.parquet(out).count()
    assert n_first == spark.read.parquet(first_half).count()
    # late files arrive; the resumed query must process ONLY these
    for i, f in enumerate(files[2:]):
        shutil.copy(os.path.join(flat, f), os.path.join(first_half, f))
        os.utime(os.path.join(first_half, f), (1_900_000_100 + i,) * 2)
    run_once()
    got = spark.read.parquet(out)
    want = spark.read.parquet(first_half)
    assert got.count() == want.count(), "resume must be exactly-once, no reprocessing"
    assert sorted(r["event_id"] for r in got.collect()) == sorted(
        r["event_id"] for r in want.collect()
    )


def test_registered_streaming_query_matches_batch_twin(spark):
    """The REGISTERED streaming query (rows-only registry entry) must equal
    the oracle-checked batch twin on the same events table."""
    from sales_telegram_bot_data_pipeline_spark.queries import REGISTRY

    got = REGISTRY["streaming_tumbling_counts"].fn(spark, SF_SMOKE)
    want = REGISTRY["tumbling_window_stats"].fn(spark, SF_SMOKE)
    g = sorted(map(tuple, got.select("window_start", "event_type", "n_events").collect()))
    w = sorted(map(tuple, want.select("window_start", "event_type", "n_events").collect()))
    assert g == w and len(g) > 0


def test_lsh_admission_stream_matches_batch(spark, scratch):
    """Stream-static join parity: the new-batch docs' band rows streamed
    through lsh_admission_stream against the STATIC corpus band index must
    equal the batch dedup_incremental_lsh admission decisions (for docs
    that have band rows — docs too short to shingle never reach the stream
    and are admitted trivially by the batch query)."""
    from sales_telegram_bot_data_pipeline_spark.functions.dialect import SPARK as SPARK_D
    from sales_telegram_bot_data_pipeline_spark.operators.dedup import INC_MOD, _bands_rel_sql
    from sales_telegram_bot_data_pipeline_spark.queries import REGISTRY
    from sales_telegram_bot_data_pipeline_spark.sources.tables import table_view
    from sales_telegram_bot_data_pipeline_spark.streaming.windows import (
        lsh_admission_stream,
        run_to_completion,
    )

    view = table_view(spark, SF_SMOKE, "documents")
    bands = spark.sql(_bands_rel_sql(SPARK_D, view)).localCheckpoint()
    index_df = bands.where(F.col("doc_id") % INC_MOD != 0)
    batch_bands = bands.where(F.col("doc_id") % INC_MOD == 0)

    src = os.path.join(scratch, "bands_src")
    # several files so the stream replays as multiple micro-batches
    batch_bands.repartition(3).write.parquet(src)
    stream = spark.readStream.schema(batch_bands.schema).parquet(src)

    got = {
        (r.doc_id, r.n_index_dups, r.admit)
        for r in run_to_completion(
            lsh_admission_stream(spark, stream, index_df),
            f"sales_telegram_bot_data_pipeline_lsh_adm_{uuid.uuid4().hex[:8]}",
        ).collect()
    }
    streamed_docs = {r.doc_id for r in batch_bands.select("doc_id").distinct().collect()}
    want = {
        (r.doc_id, r.n_index_dups, r.admit)
        for r in REGISTRY["dedup_incremental_lsh"].fn(spark, SF_SMOKE).collect()
        if r.doc_id in streamed_docs
    }
    assert got == want and len(got) > 0


def test_streaming_dedup_watermark_registry_matches_batch_distinct(spark):
    """The registered rows-only query (dropDuplicatesWithinWatermark keyed
    on (user_id, event_type), append mode) must emit exactly the batch
    DISTINCT key set over the same parquet."""
    from sales_telegram_bot_data_pipeline_spark.registry import REGISTRY

    sf_dir = "/root/testdata/sf0.001"
    got = REGISTRY["streaming_dedup_watermark"].fn(spark, sf_dir).collect()
    want = (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .select("user_id", "event_type")
        .distinct()
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_registered_streaming_attribution_matches_batch(spark):
    """The REGISTERED stream-stream attribution row equals the batch
    interval join on the same table (rows-only driver check gains a local
    exactness pin)."""
    from sales_telegram_bot_data_pipeline_spark.operators.temporal import (
        attribution_interval_join,
    )
    from sales_telegram_bot_data_pipeline_spark.streaming.windows import (
        streaming_attribution_join,
    )

    got = sorted(
        (r["view_id"], r["purchase_id"], r["user_id"])
        for r in streaming_attribution_join(spark, SF_SMOKE).collect()
    )
    want = sorted(
        (r["view_id"], r["purchase_id"], r["user_id"])
        for r in attribution_interval_join(spark, SF_SMOKE).collect()
    )
    assert got == want and got


def test_attribution_outer_stream_matches_batch(spark, scratch):
    """LEFT OUTER stream-stream join parity: matched pairs equal the batch
    inner join; NULL rows appear exactly for views that (a) have no
    purchase within the horizon AND (b) aged past the FINAL watermark
    (min of both sides' max event time, minus the delay) — the
    state-eviction emission contract.  Views younger than that stay
    buffered when the replay drains: the documented streaming tail."""
    import datetime

    from sales_telegram_bot_data_pipeline_spark.operators.temporal import (
        attribution_interval_join,
    )
    from sales_telegram_bot_data_pipeline_spark.streaming.windows import (
        attribution_join_stream_outer,
    )

    flat = _events_as_stream_source(spark, scratch)
    stream = read_events_stream(spark, flat)
    got = run_to_completion(
        attribution_join_stream_outer(
            stream.where(F.col("event_type") == "view"),
            stream.where(F.col("event_type") == "purchase"),
        ),
        f"attr_outer_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    ).collect()

    matched = sorted(
        (r.view_id, r.purchase_id, r.user_id, r.view_ts, r.purchase_ts)
        for r in got
        if r.matched
    )
    want_pairs = sorted(map(tuple, attribution_interval_join(spark, SF_SMOKE).collect()))
    assert matched == want_pairs

    # expected NULL set from batch + the watermark rule
    ev = load_table(spark, SF_SMOKE, "events")
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("view_ts")
    )
    max_view = views.agg(F.max("view_ts")).first()[0]
    max_purch = (
        ev.where(F.col("event_type") == "purchase").agg(F.max("ts")).first()[0]
    )
    final_wm = min(max_view, max_purch) - datetime.timedelta(hours=1)
    horizon = datetime.timedelta(minutes=30)
    matched_view_ids = {r.view_id for r in got if r.matched}
    expect_null = {
        r.view_id
        for r in views.collect()
        if r.view_id not in matched_view_ids and r.view_ts + horizon < final_wm
    }
    got_null = {r.view_id for r in got if not r.matched}
    assert got_null == expect_null
    assert expect_null, "no evicted unmatched views at smoke scale"
    for r in got:
        if not r.matched:
            assert r.purchase_id is None and r.purchase_ts is None
