"""Structured Streaming surface: the reference's cadence done natively.

The reference approximates a stream with a 3-hourly timer (reference
``FunctionApp1/hotel_reviews/function.json:8``) plus a ``processed``
flag scanned per run (``FunctionApp2/process_data/__init__.py:40-43``).
Native Structured Streaming replaces both: the file source tracks
what's been read (checkpoint = the flag), watermarks bound state, and
``Trigger.AvailableNow`` reproduces the batch-cadence semantics while
``processingTime`` triggers give the timer behavior.

Everything here returns an UNSTARTED streaming DataFrame or a started
query handle; callers own trigger/checkpoint choice. State sizing at
scale: watermark delay x input rate bounds rows held per window/dedup
operator — all of these are keyed-state operators whose state is
partitioned by the grouping key across executors.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# events.parquet schema (TESTDATA.md) with ts already truncated to
# micros — streaming sources need an explicit schema upfront.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_events(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream over an events-shaped parquet directory.

    One file per micro-batch (``maxFilesPerTrigger=1``), so a staged
    backlog of several files exercises multi-batch state.
    """
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )


def tumbling_counts(
    events: DataFrame, *, size: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window agg (S2 cadence, done per-event-time)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_counts(
    events: DataFrame, *, gap: str = "5 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user (reviewer-session analysis)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("session_start"), "user_id", "n_events")
    )


def dedup_within_watermark(
    events: DataFrame, *, keys: list[str] | None = None, watermark: str = "2 hours"
) -> DataFrame:
    """Stateful streaming dedup: the ``review_hash`` semantics across
    micro-batches. State is bounded by the watermark (vs unbounded
    ``dropDuplicates`` state at 100 TB)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running event count + value sum, emitted once per micro-batch.

    The state (two numbers per user) is keyed-state partitioned by
    user_id across executors — the Spark-native version of the
    reference's ``processed``-flag bookkeeping, generalized to arbitrary
    accumulators. Timeout is disabled: state is two longs per key, so
    even 10^9 users is ~GBs across a cluster; a TTL would go here if
    keys churned.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def start_to_memory(
    df: DataFrame, name: str, *, mode: str = "append", checkpoint: str | None = None
):
    """Start a query into the in-memory sink (test/debug surface)."""
    w = df.writeStream.format("memory").queryName(name).outputMode(mode)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.trigger(availableNow=True).start()


def start_foreach_batch(
    df: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    *,
    checkpoint: str,
):
    """``foreachBatch`` with a checkpoint: the transactional sink shape.

    The reference's insert-results + mark-processed dual commit
    (``:96``/``:104``) becomes one idempotent ``batch_fn(batch_df,
    batch_id)`` — on restart the same batch_id is redelivered and the
    function's idempotent merge (see ``incremental.merge_results``)
    absorbs the replay: end-to-end effectively-exactly-once.
    """
    return (
        df.writeStream.foreachBatch(batch_fn)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


# NOTE: a transformWithStateInPandas variant of running_user_totals
# existed through round 5, but the API's Python worker speaks a
# protobuf-based state-server protocol and google.protobuf cannot be
# provisioned in this environment, so the path had zero executed
# evidence. The declared custom-stateful operator is the
# applyInPandasWithState accumulator (running_user_totals /
# stream_stateful_totals), exercised end-to-end across micro-batches
# in tests/test_streaming.py::test_stateful_running_totals.
