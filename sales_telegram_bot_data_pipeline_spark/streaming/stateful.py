"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference's only stateful surface is DAG #2's stored-flag diffing
(README.md:70-82) — state lives in DynamoDB between runs.  The engine's
native form keeps per-key state in Spark's state store: here a per-user
running aggregate (count + sum + last event time) maintained across
micro-batches, with an idle-timeout that finalizes and evicts quiet keys.

This is the template for any custom operator Spark's built-in windows can't
express (per-key ML feature accumulation, complex session logic, CDC
folding): grouped Arrow batches in, explicit typed state, rows out.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_value double, finalized boolean"
STATE_SCHEMA = "n bigint, total double"


def running_user_totals(
    grouped_stream,
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Per-user running (count, sum(value)) across micro-batches.

    Emits the updated running totals for every user seen in each batch;
    with a ProcessingTimeTimeout configured, idle users are emitted once
    more with ``finalized=True`` and evicted from the state store.
    """

    def update(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [user_id], "n_events": [n], "total_value": [total], "finalized": [True]}
            )
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        if timeout != "NoTimeout":
            state.setTimeoutDuration(60_000)
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [total], "finalized": [False]}
        )

    mode = getattr(GroupStateTimeout, timeout)
    return grouped_stream.applyInPandasWithState(
        update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=mode,
    )


# --------------------------------------------------------------------------
# the SAME operator on Spark 4's transformWithStateInPandas (StatefulProcessor)
# --------------------------------------------------------------------------
from pyspark.sql.streaming.stateful_processor import StatefulProcessor


class RunningTotalsProcessor(StatefulProcessor):
    """Spark 4 ``StatefulProcessor`` twin of ``running_user_totals`` —
    the arbitrary-stateful-processing API that succeeds
    ``applyInPandasWithState``: named typed state handles (ValueState /
    ListState / MapState) acquired from a handle in ``init`` instead of one
    positional state tuple, per-key Arrow iterators in
    ``handleInputRows``, explicit timers instead of a timeout conf.

    Both twins are kept: applyInPandasWithState is the stable API teams run
    today; transformWithState is where new stateful operators land (state
    evolution, multiple typed handles, timers).  Batch parity for BOTH is
    pinned by test_stateful_streaming.py."""

    def init(self, handle) -> None:
        self.totals = handle.getValueState("totals", "n bigint, total double")

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        (user_id,) = key
        n, total = self.totals.get() if self.totals.exists() else (0, 0.0)
        for pdf in rows:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        self.totals.update((n, total))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [total], "finalized": [False]}
        )

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):  # pragma: no cover
        return iter(())

    def close(self) -> None:
        pass


def running_user_totals_tws(grouped_stream) -> DataFrame:
    """``transformWithStateInPandas`` wiring of RunningTotalsProcessor."""
    return grouped_stream.transformWithStateInPandas(
        RunningTotalsProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


# --------------------------------------------------------------------------
# streaming gap sessionization (stateful twin of sessionize_gap_islands)
# --------------------------------------------------------------------------
SESSION_OUT_SCHEMA = (
    "user_id bigint, session_seq bigint, session_start_ep bigint, "
    "session_end_ep bigint, duration_s bigint, n_events bigint"
)
SESSION_STATE_SCHEMA = "start_ep bigint, last_ep bigint, n bigint, seq bigint"


def gap_sessionize(grouped_stream, gap_s: int) -> DataFrame:
    """Streaming gap-based sessionization: per-user state carries the OPEN
    session (start/last epoch, event count, next sequence number); an
    event more than ``gap_s`` seconds after the last CLOSES the session —
    the closed row emits in append mode, the new session opens in state.
    The open session never emits (a stream has no "last" event), so the
    contract vs the batch twin (operators/temporal.sessionize_gap_islands)
    is: streaming output == batch output minus each user's final session —
    pinned in test_stateful_streaming.py.

    Ordering contract: events must arrive per-key in (ts, event_id) order
    across micro-batches (each batch is sorted internally; a production
    deployment feeds this from a log-compacted, time-ordered source or
    fronts it with a watermark-delayed sort).  State is O(1) per active
    user and closed sessions leave immediately — the state store holds
    open sessions only, not history."""

    def update(key, pdf_iter, state: GroupState):
        (user_id,) = key
        start_ep, last_ep, n, seq = (
            state.get if state.exists else (None, None, 0, 1)
        )
        closed: list[tuple] = []
        # a key's batch rows may span several Arrow chunks — gather, then
        # sort ONCE by (ts, event_id) so chunk boundaries can't split the
        # ordering contract
        events: list[tuple] = []
        for pdf in pdf_iter:
            events.extend(zip(pdf["ts"], pdf["event_id"], pdf["ep"]))
        events.sort(key=lambda t: (t[0], t[1]))
        for ep in (int(t[2]) for t in events):
            if start_ep is None:
                start_ep, last_ep, n = ep, ep, 1
            elif ep - last_ep > gap_s:
                closed.append((user_id, seq, start_ep, last_ep, last_ep - start_ep, n))
                seq += 1
                start_ep, last_ep, n = ep, ep, 1
            else:
                last_ep, n = ep, n + 1
        if start_ep is not None:
            state.update((start_ep, last_ep, n, seq))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=[
                    "user_id",
                    "session_seq",
                    "session_start_ep",
                    "session_end_ep",
                    "duration_s",
                    "n_events",
                ],
            )

    return grouped_stream.applyInPandasWithState(
        update,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _register_streaming_sessionization():
    from pyspark.sql import SparkSession

    from ..operators.temporal import SESSIONIZE_GAP_S, SESSIONIZE_USER_MOD
    from ..registry import register
    from .windows import (
        EVENTS_STREAM_SCHEMA,
        _MEMSINK_SEQ,
        run_to_completion,
        stream_session,
    )

    @register(
        "streaming_sessionization",
        oracle=None,  # executed through the streaming engine — rows-only
        doc="Rows-only: gap-based sessionization EXECUTED as a stateful "
        "streaming job (applyInPandasWithState, append mode, "
        "Trigger.AvailableNow) — per-user O(1) state holds only the OPEN "
        "session; closed sessions emit exactly once. Equals the batch "
        "twin minus each user's final (still-open) session, pinned in "
        "test_stateful_streaming.py::test_streaming_sessions_match_batch.",
        tags=("streaming", "stateful", "session"),
    )
    def streaming_sessionization(spark: SparkSession, sf_dir: str):
        spark = stream_session(spark)
        ep = (
            "(unix_date(CAST(ts AS DATE)) * 86400L"
            " + hour(ts) * 3600 + minute(ts) * 60 + second(ts))"
        )
        stream = (
            spark.readStream.schema(EVENTS_STREAM_SCHEMA)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .where(f"user_id % {SESSIONIZE_USER_MOD} = 0")
            .selectExpr("user_id", "event_id", "ts", f"{ep} AS ep")
        )
        name = f"sales_telegram_bot_data_pipeline_stream_sess_{next(_MEMSINK_SEQ)}"
        out = run_to_completion(
            gap_sessionize(stream.groupBy("user_id"), SESSIONIZE_GAP_S),
            name,
            output_mode="append",
        )
        return out.orderBy("user_id", "session_seq")


_register_streaming_sessionization()


# --------------------------------------------------------------------------
# streaming Misra-Gries heavy hitters (stateful, bucket-sharded)
# --------------------------------------------------------------------------
MG_STREAM_BUCKETS = 8
MG_STREAM_OUT_SCHEMA = "bucket int, word string, est bigint, batch_seq bigint"
MG_STREAM_STATE_SCHEMA = "words array<string>, counts array<bigint>, batches bigint"


def mg_topk_stream(grouped_stream, capacity: int) -> DataFrame:
    """Per-bucket Misra-Gries summary maintained in the state store across
    micro-batches: each bucket (hash shard of the word space) keeps at
    most ``capacity`` counters; every batch updates them with the classic
    increment / insert / decrement-all rule and emits the CURRENT summary
    tagged with a batch sequence number (update mode — the consumer keeps
    each bucket's highest batch_seq).  The per-bucket superset guarantee
    (any word with bucket frequency > N_bucket/(capacity+1) survives)
    holds for ANY arrival order, which is what the exact-recount consumer
    relies on — mirroring the batch operator's per-partition summaries."""

    def update(key, pdf_iter, state: GroupState):
        (bucket,) = key
        if state.exists:
            words, counts, batches = state.get
            d = dict(zip(list(words), [int(c) for c in counts]))
        else:
            d, batches = {}, 0
        for pdf in pdf_iter:
            for w in pdf["word"]:
                if w in d:
                    d[w] += 1
                elif len(d) < capacity:
                    d[w] = 1
                else:
                    for k in list(d):
                        d[k] -= 1
                        if d[k] == 0:
                            del d[k]
        batches += 1
        state.update((list(d.keys()), list(d.values()), batches))
        yield pd.DataFrame(
            {
                "bucket": [bucket] * len(d),
                "word": list(d.keys()),
                "est": list(d.values()),
                "batch_seq": [batches] * len(d),
            }
        )

    return grouped_stream.applyInPandasWithState(
        update,
        outputStructType=MG_STREAM_OUT_SCHEMA,
        stateStructType=MG_STREAM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _register_streaming_mg():
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from ..operators.curation import MG_CAPACITY, MG_TOPK
    from ..registry import register
    from ..sources.tables import table_view
    from .windows import _MEMSINK_SEQ, run_to_completion, stream_session

    @register(
        "streaming_misra_gries_topk",
        oracle=None,  # executed through the streaming engine — rows-only
        doc="Rows-only: Misra-Gries heavy hitters EXECUTED as a stateful "
        "streaming job — the word stream shards into "
        f"{MG_STREAM_BUCKETS} hash buckets, each bucket's bounded "
        f"summary (capacity {MG_CAPACITY // MG_STREAM_BUCKETS}) lives in "
        "the state store across micro-batches "
        "(applyInPandasWithState, update mode), and the final candidate "
        "set recounts EXACTLY in one batch join before the top-"
        f"{MG_TOPK} — same output semantics as the batch misra_gries_topk "
        "under the same documented precondition, pinned equal in "
        "test_stateful_streaming.py::test_streaming_mg_matches_batch.",
        tags=("streaming", "stateful", "sketch"),
    )
    def streaming_misra_gries_topk(spark: SparkSession, sf_dir: str):
        from ..functions.dialect import SPARK as _SP

        batch_spark = spark
        spark = stream_session(spark)
        docs_schema = "doc_id bigint, text string, lang string, source string, n_chars int"
        w = _SP.splitws("lower(text)")
        stream = (
            spark.readStream.schema(docs_schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
            .selectExpr(f"explode({w}) AS word")
            .selectExpr(
                "word",
                f"cast(abs(xxhash64(word)) % {MG_STREAM_BUCKETS} as int) AS bucket",
            )
        )
        per_bucket_cap = MG_CAPACITY // MG_STREAM_BUCKETS
        name = f"sales_telegram_bot_data_pipeline_stream_mg_{next(_MEMSINK_SEQ)}"
        summaries = run_to_completion(
            mg_topk_stream(stream.groupBy("bucket"), per_bucket_cap),
            name,
            output_mode="update",
        )
        # keep each bucket's FINAL summary (highest batch_seq); the sink
        # table is bounded by buckets x capacity x batches, so collecting
        # it to re-anchor in the BATCH session is a bounded model build
        # (the memory-sink table lives in the cloned stream session, and a
        # streaming-sink self-join trips an internal assert in update mode)
        rows = summaries.collect()
        last_seq: dict = {}
        for r in rows:
            last_seq[r.bucket] = max(last_seq.get(r.bucket, 0), r.batch_seq)
        cand_words = sorted(
            {r.word for r in rows if r.batch_seq == last_seq[r.bucket]}
        )
        # exact recount restricted to the candidates, then true top-k —
        # same tail as the batch operator
        view = table_view(batch_spark, sf_dir, "documents")
        words = batch_spark.sql(f"SELECT explode({w}) AS word FROM {view}")
        cands = batch_spark.createDataFrame(
            [(wd,) for wd in cand_words] or [("",)], "word string"
        )
        exact = (
            words.join(F.broadcast(cands), "word")
            .groupBy("word")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .orderBy(F.desc("n"), "word")
            .limit(MG_TOPK)
        )
        return exact

    return streaming_misra_gries_topk


_register_streaming_mg()
