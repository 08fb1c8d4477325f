"""Structured Streaming window jobs over the events stream.

The batch-parity forms (oracle-checked) live in operators/temporal.py —
SAME ``F.window``/``F.session_window`` expressions; these builders wire them
to ``readStream`` with watermarks.  Tests stream the events parquet through
a file source and assert streaming output == the batch form (SURVEY.md §5.4:
batch parity, not oracle, validates streaming state).
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import table_view
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-source stream of micro-batched events parquet (one file = one
    micro-batch with maxFilesPerTrigger=1)."""
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


def tumbling_counts(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """1-hour tumbling count/sum with late-data watermark — the streaming
    twin of operators/temporal.tumbling_window_stats."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def session_sums(stream: DataFrame, gap: str = "15 minutes", watermark: str = "30 minutes") -> DataFrame:
    """Per-user session windows (gap-based) under watermark — streaming twin
    of operators/temporal.session_window_stats."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(stream: DataFrame, keys: list[str], watermark: str = "30 minutes") -> DataFrame:
    """Streaming exact dedup — the streaming twin of the batch hash-groupBy
    dedup (operators/dedup.dedup_exact).  ``dropDuplicatesWithinWatermark``
    keeps per-key state only until the watermark passes the key's event
    time, so state is bounded by the watermark horizon (an unbounded
    ``dropDuplicates`` on a stream would grow state forever).  Duplicates
    arriving within the watermark window are suppressed; output mode is
    append (each surviving row emits exactly once)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def attribution_join_stream(
    views: DataFrame,
    purchases: DataFrame,
    horizon: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join — the streaming twin of
    operators/temporal.attribution_interval_join (same join condition,
    same output schema).  Both sides carry a watermark and the join has an
    event-time bound, so Spark can expire buffered state: a view older than
    watermark+horizon can never match a future purchase and is evicted —
    state is bounded by the horizon, not the stream length.  Inner
    stream-stream joins emit in append mode (each matched pair exactly
    once)."""
    v = views.withWatermark("ts", watermark).select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("view_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    return v.join(
        p,
        (v.user_id == p.p_user)
        & (p.purchase_ts >= v.view_ts)
        & (p.purchase_ts <= v.view_ts + F.expr(f"INTERVAL {horizon}")),
    ).select("view_id", "purchase_id", "user_id", "view_ts", "purchase_ts")


def run_to_completion(stream_df: DataFrame, query_name: str, output_mode: str = "complete") -> DataFrame:
    """Drain all available input (Trigger.AvailableNow) into a memory sink
    and return the result table."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)


# State-store instances per stateful streaming operator = shuffle partitions
# (a stream-stream join keeps FOUR stores per partition: two per side).  For
# these bounded AvailableNow replays the session default (32) means 128
# store init/commit cycles per micro-batch dominating wall-clock; 4 is
# right-sized for the replayed volume (measured on the outer attribution
# join at sf0.1: 32 -> 8.3 s, 8 -> 3.3 s, 4 -> 2.7 s, and still exercises
# multi-partition state).  At 100 TB this is the deployment knob sized UP
# with the stream's key cardinality — the point is that state partitioning
# is chosen per stream, not inherited from the batch default.
STREAM_STATE_PARTITIONS = 4


def stream_session(spark: SparkSession, state_partitions: int = STREAM_STATE_PARTITIONS) -> SparkSession:
    """A CLONED session (shared SparkContext, own conf) for one streaming
    replay: right-sizes the stateful-operator partition count and drops the
    trailing no-data micro-batch.  Cloning instead of mutating keeps the
    shared session's conf untouched — the bench warm-up runs 8 queries
    concurrently in one session, and a global conf flip mid-plan would race.

    ``noDataMicroBatches.enabled=false`` is safe for every replay here: the
    extra batch only exists to let WATERMARK-GATED output (append-mode
    aggregations, outer-join nulls) and state eviction run after the last
    data batch; inner stream-stream joins, append dedup (emit-on-first-
    sight) and complete-mode aggregations emit everything in the data batch
    itself, and AvailableNow tears the query (and its state) down right
    after."""
    s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    return s


_MEMSINK_SEQ = itertools.count()


@register(
    "streaming_tumbling_counts",
    oracle=None,  # executed through the streaming engine — rows-only
    doc="Rows-only: the tumbling-window aggregation EXECUTED as a real "
    "Structured Streaming job (readStream over the events parquet, "
    "Trigger.AvailableNow, complete mode into a memory sink) rather than "
    "its batch twin — final table is arrival-order-independent by "
    "construction; batch equivalence is pinned in "
    "test_streaming_parity.py::test_tumbling_stream_matches_batch.",
    tags=("streaming", "window"),
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the testdata ships events as a single parquet FILE; FileStreamSource
    # wants a directory, so stream the parent dir with a glob pinned to it
    spark = stream_session(spark)
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    name = f"sales_telegram_bot_data_pipeline_stream_tumb_{next(_MEMSINK_SEQ)}"
    out = run_to_completion(tumbling_counts(stream), name)
    return out.orderBy("window_start", "event_type")


def lsh_admission_stream(spark, batch_stream: DataFrame, index_df: DataFrame) -> DataFrame:
    """STREAM-STATIC join: incoming documents (a stream) probe the STORED
    MinHash band index of the existing corpus (a static DataFrame) — the
    streaming twin of operators/dedup.dedup_incremental_lsh and the
    remaining Structured Streaming join pattern next to stream-stream
    (attribution_join_stream).

    The static side is a plain bounded DataFrame: Spark re-plans it per
    micro-batch (so a refreshed index is picked up on restart) and the join
    itself keeps NO streaming state — each micro-batch equi-joins its band
    keys against the index and emits, which is why stream-static inner
    joins need no watermark.  Admission = no band-key collision: computed
    per-doc with a streaming groupBy whose aggregate state is exact across
    micro-batches (complete mode), so band rows may arrive in any batch.

    At 100 TB the static side is the bucketed band-index table; the
    per-batch join is then a co-located probe, and admitted docs append
    their own band rows back to the index out-of-band (the write path of
    the incremental dedup)."""
    hits = batch_stream.join(
        index_df.withColumnRenamed("doc_id", "index_doc_id"),
        ["band", "band_key"],
        "left",
    )
    # COUNT(DISTINCT) is not supported on streams; collect_set (null-
    # ignoring, so a no-collision left-join row adds nothing) keeps exact
    # per-doc distinct state — bounded by the doc's index collisions, the
    # same quantity the batch twin counts
    return (
        hits.groupBy("doc_id")
        .agg(F.size(F.collect_set("index_doc_id")).alias("n_hits"))
        .select(
            "doc_id",
            F.col("n_hits").cast("bigint").alias("n_index_dups"),
            (F.col("n_hits") == 0).alias("admit"),
        )
    )


@register(
    "streaming_lsh_admission",
    oracle=None,  # executed through the streaming engine — rows-only
    doc="Rows-only: incremental LSH dedup admission EXECUTED as a real "
    "stream-static join — the new batch's band rows replayed as a file-"
    "source stream probing the STATIC corpus band index (readStream -> "
    "left join -> per-doc collect_set aggregation, Trigger.AvailableNow, "
    "complete mode). Batch equivalence pinned in test_streaming_parity.py::"
    "test_lsh_admission_stream_matches_batch.",
    tags=("streaming", "dedup", "join"),
)
def streaming_lsh_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..functions.dialect import SPARK as SPARK_D
    from ..operators.dedup import INC_MOD, _bands_rel_sql

    # everything (static index, spool write, stream) on the cloned session:
    # a stream-static join cannot mix DataFrames from two sessions
    spark = stream_session(spark)
    view = table_view(spark, sf_dir, "documents")
    bands = spark.sql(_bands_rel_sql(SPARK_D, view)).localCheckpoint()
    index_df = bands.where(F.col("doc_id") % INC_MOD != 0)
    batch_bands = bands.where(F.col("doc_id") % INC_MOD == 0)
    # the band rows live only in-plan; the file-source stream needs them on
    # disk, so spool the (small) batch side to a scratch dir keyed by
    # APPLICATION + sf_dir: stable within one app (repeated bench runs
    # overwrite instead of accumulating) but disjoint across concurrent
    # Spark apps — a shared fixed path raced (one app's overwrite deleting
    # files mid-read under another app's micro-batch)
    src = os.path.join(
        tempfile.gettempdir(),
        "sales_telegram_bot_data_pipeline_lsh_stream_"
        + spark.sparkContext.applicationId
        + "_"
        + sf_dir.strip("/").replace("/", "_"),
    )
    batch_bands.repartition(3).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch_bands.schema).parquet(src)
    name = f"sales_telegram_bot_data_pipeline_lsh_adm_{next(_MEMSINK_SEQ)}"
    out = run_to_completion(lsh_admission_stream(spark, stream, index_df), name)
    return out.orderBy("doc_id")


@register(
    "streaming_dedup_watermark",
    oracle=None,  # executed through the streaming engine — rows-only
    doc="Rows-only: streaming exact dedup EXECUTED through "
    "dropDuplicatesWithinWatermark (readStream over the events parquet, "
    "30-minute watermark bounds per-key state, append mode into a memory "
    "sink) — first event per (user_id, event_type) survives; emitted as "
    "the ordered distinct-key set, which is arrival-order-independent. "
    "Event-level batch equivalence for the same operator is pinned by "
    "test_streaming_parity.py::test_dedup_stream_matches_batch.",
    tags=("streaming", "dedup"),
)
def streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = stream_session(spark)
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    name = f"sales_telegram_bot_data_pipeline_stream_ddw_{next(_MEMSINK_SEQ)}"
    deduped = dedup_stream(stream, ["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    out = run_to_completion(deduped, name, output_mode="append")
    return out.orderBy("user_id", "event_type")


@register(
    "streaming_attribution_join",
    oracle=None,  # executed through the streaming engine — rows-only
    doc="Rows-only: the view→purchase attribution interval join EXECUTED "
    "as a real STREAM-STREAM join (both sides watermarked readStream over "
    "the events parquet; the event-time bound lets Spark expire buffered "
    "state at watermark+horizon, so state is bounded by the horizon, not "
    "the stream length; inner stream-stream joins emit append — each "
    "matched pair exactly once). Batch equivalence pinned in "
    "test_streaming_parity.py::test_attribution_stream_matches_batch; "
    "the registered row proves the join runs through the streaming "
    "engine on the full events table.",
    tags=("streaming", "interval-join"),
)
def streaming_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # right-sized state partitions + no trailing no-data batch: a
    # stream-stream join keeps 4 state stores PER shuffle partition, so the
    # batch-session default (32 -> 128 store init/commit cycles) was pure
    # micro-batch overhead — 8.3 s -> ~1.8 s at sf0.1 for the same join
    spark = stream_session(spark)

    def side(event_type: str) -> DataFrame:
        return (
            spark.readStream.schema(EVENTS_STREAM_SCHEMA)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .where(F.col("event_type") == event_type)
        )

    joined = attribution_join_stream(side("view"), side("purchase"))
    name = f"sales_telegram_bot_data_pipeline_stream_attr_{next(_MEMSINK_SEQ)}"
    out = run_to_completion(joined, name, output_mode="append")
    return out.orderBy("view_id", "purchase_id")


# --------------------------------------------------------------------------
# stream-stream LEFT OUTER interval join (watermark-gated NULL emission)
# --------------------------------------------------------------------------
def attribution_join_stream_outer(
    views: DataFrame,
    purchases: DataFrame,
    horizon: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """LEFT OUTER twin of :func:`attribution_join_stream` — the streaming
    semantics the inner join cannot show: a view with NO purchase inside
    its horizon emits exactly once WITH NULL purchase columns, but only
    after the watermark passes view_ts + horizon (before that a future
    purchase could still arrive, so the engine must hold the row back).
    Outer-join NULL emission is driven by state EVICTION, which in turn
    needs the watermark to advance past the buffered row — so the replay
    session must keep the trailing no-data micro-batch ON (the inner
    replays turn it off; see stream_session docstring)."""
    v = views.withWatermark("ts", watermark).select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("view_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    return v.join(
        p,
        (v.user_id == p.p_user)
        & (p.purchase_ts >= v.view_ts)
        & (p.purchase_ts <= v.view_ts + F.expr(f"INTERVAL {horizon}")),
        "left_outer",
    ).select(
        "view_id",
        "purchase_id",
        "user_id",
        "view_ts",
        "purchase_ts",
        F.col("purchase_id").isNotNull().alias("matched"),
    )


@register(
    "streaming_attribution_left_join",
    oracle=None,  # executed through the streaming engine — rows-only
    doc="Rows-only: the attribution interval join as a LEFT OUTER "
    "stream-stream join — matched pairs emit on match; never-converted "
    "views emit once with NULL purchase columns AFTER the watermark "
    "passes view_ts + horizon (state-eviction-driven NULL emission, the "
    "append-mode outer-join contract).  Views newer than the final "
    "watermark stay buffered when the replay drains — the documented "
    "streaming tail, pinned exactly in "
    "test_streaming_parity.py::test_attribution_outer_stream_matches_batch.",
    tags=("streaming", "interval-join", "outer-join"),
)
def streaming_attribution_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # outer joins NEED the trailing no-data batch: NULL rows only emit when
    # the watermark advances past the buffered view, which happens in the
    # batch AFTER the last data batch
    s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")

    def side(event_type: str) -> DataFrame:
        return (
            s.readStream.schema(EVENTS_STREAM_SCHEMA)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .where(F.col("event_type") == event_type)
        )

    joined = attribution_join_stream_outer(side("view"), side("purchase"))
    name = f"sales_telegram_bot_data_pipeline_stream_attr_outer_{next(_MEMSINK_SEQ)}"
    out = run_to_completion(joined, name, output_mode="append")
    return out.orderBy("view_id", "purchase_id")
