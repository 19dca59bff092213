"""Event-time windowed aggregation with watermarked late-data policy.

The reference has NO late-data policy: its correlation UPDATE silently
no-ops when a response outruns its request (``processQueue.ts:230-238``,
SURVEY.md §2.12).  This module is the principled replacement: tumbling
event-time windows + a watermark that states exactly how late a record
may be and still count.  Records later than the watermark are dropped
*deterministically* (and visibly — the drop shows up in
``lastProgress.stateOperators.numRowsDroppedByWatermark``), not lost by
racing.

Scale posture: windowed aggregation state lives in the state store keyed
by (window, group) — the watermark bounds it (closed windows are evicted),
so state size is O(open windows x groups), independent of stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from data_ingestion_system_spark.sources.ingest import (
    REQUEST_SCHEMA,
    RESPONSE_SCHEMA,
    project_requests,
    project_responses,
    read_landing,
    validate_split,
)


def windowed_counts(spark: SparkSession, landing_dir: str,
                    window: str = "1 hour",
                    max_lateness: str = "2 hours") -> DataFrame:
    """Streaming plan: landing requests -> per-(window, action) counts.

    The same ``F.window`` expression runs in batch (agg_time_window query)
    — one definition of window semantics, two execution modes."""
    raw = read_landing(spark, landing_dir, REQUEST_SCHEMA, streaming=True)
    valid, _bad = validate_split(raw)
    proj = project_requests(valid).withColumn(
        # watermark tracking needs an instant; NTZ wall-clock is UTC here
        "event_time", F.col("timestamp").cast("timestamp")
    )
    return (
        proj.withWatermark("event_time", max_lateness)
        .groupBy(F.window("event_time", window), F.col("action"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("w_start"),
            "action", "n",
        )
    )


def stream_stream_correlate(
    spark: SparkSession,
    req_dir: str,
    resp_dir: str,
    max_lateness: str = "2 hours",
    join_window: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream join: request stream ⋈ response stream on
    transaction_id, with the response bounded to ``join_window`` after its
    request.

    This is the streaming form of the reference's core correlation (O-16)
    beside the batch merge (operators/correlate.py): both sides are
    unbounded and Spark buffers rows in the state store.  It emits one
    row per matching response — a transaction answered twice yields two
    rows; the latest-wins pick is ``correlate.latest_per_key`` over this
    output, as in ``pipeline.silver_view``.

    The time-bound condition + both-sides watermarks are what make that
    state finite: a buffered request is evicted once the watermark passes
    request_time + join_window, so state is O(in-flight transactions),
    never O(stream).  Without the time bound Spark would
    have to keep EVERY request forever (any future response could match) —
    the unbounded-state mistake this function exists to rule out.
    """
    req = (
        project_requests(
            validate_split(read_landing(spark, req_dir, REQUEST_SCHEMA,
                                        streaming=True))[0])
        .withColumn("req_time", F.col("timestamp").cast("timestamp"))
        .withWatermark("req_time", max_lateness)
    )
    resp = (
        project_responses(
            validate_split(read_landing(spark, resp_dir, RESPONSE_SCHEMA,
                                        streaming=True))[0])
        .withColumnRenamed("transaction_id", "resp_transaction_id")
        .withColumn("resp_time", F.col("response_ts").cast("timestamp"))
        .withWatermark("resp_time", max_lateness)
    )
    cond = (
        (F.col("transaction_id") == F.col("resp_transaction_id"))
        & (F.col("resp_time") >= F.col("req_time"))
        & (F.col("resp_time") <= F.col("req_time") + F.expr(f"INTERVAL {join_window}"))
    )
    return req.join(resp, cond, "inner").select(
        "transaction_id", "app_id", "endpoint", "workflow_id", "action",
        "timestamp", "status_code", "response_ts",
        "request_s3_key", "response_s3_key",
    )


def start_stream_stream_correlate(
    spark: SparkSession,
    req_dir: str,
    resp_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_lateness: str = "2 hours",
    join_window: str = "1 hour",
) -> StreamingQuery:
    """Append-mode stream-stream correlation -> parquet (inner join rows
    emit as soon as both sides arrive; state evicts at the watermark)."""
    joined = stream_stream_correlate(
        spark, req_dir, resp_dir, max_lateness, join_window)
    return (
        joined.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start(path=out_dir, format="parquet")
    )


def start_windowed_counts_update(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    table_name: str,
    window: str = "1 hour",
    max_lateness: str = "2 hours",
) -> StreamingQuery:
    """Update-mode windowed counts -> in-memory table (live dashboard
    shape).

    Update mode re-emits a window's row every time new data changes it,
    *before* the watermark closes it — the complement of append mode's
    emit-once-final: low-latency partial results, but the consumer must
    treat rows as upserts keyed by (w_start, action).  State and
    watermark semantics are identical to the append path (same plan);
    only the sink contract changes.  Memory sink is test/dashboard
    scope by design — it cannot recover from a checkpoint (each start
    needs a fresh checkpoint dir and rebuilds the table); durable
    consumers use foreachBatch upsert
    (sources/writers.py::upsert_by_partition) instead."""
    agg = windowed_counts(spark, landing_dir, window, max_lateness)
    return (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .format("memory").queryName(table_name)
        .start()
    )


def start_windowed_counts(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    max_lateness: str = "2 hours",
) -> StreamingQuery:
    """Append-mode windowed counts -> parquet.

    Append mode emits a window exactly once, when the watermark passes its
    end — the sink only ever sees *finalized* windows, so downstream reads
    need no dedup/upsert.  Emission therefore trails by one trigger: a
    window closed by batch N's watermark is flushed in batch N+1."""
    agg = windowed_counts(spark, landing_dir, window, max_lateness)
    return (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start(path=out_dir, format="parquet")
    )


def session_counts(spark: SparkSession, landing_dir: str,
                   gap: str = "30 minutes",
                   max_lateness: str = "2 hours") -> DataFrame:
    """Streaming SESSION windows: per-(app, dynamic session) activity.

    ``F.session_window`` sessions grow with each event and close after
    ``gap`` of silence — unlike tumbling windows the boundaries are
    data-driven, so the state store tracks open sessions per key and
    the watermark both closes sessions and bounds state (a session
    older than watermark - gap can never extend again and is emitted +
    evicted).  Batch twin: the `agg_session_window` declared query uses
    the same expression; this is the streaming execution of it, which
    the reference's architecture (stateless Lambda inserts) could not
    express at all."""
    raw = read_landing(spark, landing_dir, REQUEST_SCHEMA, streaming=True)
    valid, _bad = validate_split(raw)
    proj = project_requests(valid).withColumn(
        "event_time", F.col("timestamp").cast("timestamp"))
    return (
        proj.withWatermark("event_time", max_lateness)
        .groupBy(F.session_window("event_time", gap), F.col("app_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").cast("timestamp_ntz")
            .alias("s_start"),
            F.col("session_window.end").cast("timestamp_ntz")
            .alias("s_end"),
            "app_id", "n_events",
        )
    )


def start_session_counts(spark: SparkSession, landing_dir: str,
                         out_dir: str, checkpoint_dir: str,
                         gap: str = "30 minutes",
                         max_lateness: str = "2 hours") -> StreamingQuery:
    """Append-mode run of `session_counts`: a session row is emitted
    exactly once, when the watermark proves no event can reopen it."""
    return (
        session_counts(spark, landing_dir, gap, max_lateness)
        .writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out_dir)
        .start()
    )
