"""Structured-Streaming ingest pipeline: landing JSON -> bronze parquet ->
silver latest-wins view.

Reference topology (``SURVEY.md §3.3``): S3 put-event -> SQS -> Lambda ->
Postgres INSERT/UPDATE, with retry/backoff, per-record failure side
channel, and CloudWatch counters.  Spark-first, the whole chain collapses
into one streaming query per landing prefix:

* **source** (O-6): `readStream` file listing replaces S3->SQS->Lambda
  event plumbing — Spark tracks seen files in the checkpoint, giving the
  at-least-once + idempotent behavior the Lambda hand-rolls
  (``processQueue.ts:131-160``) for free (O-28/O-29).
* **micro-batch** (O-4/O-26): `trigger(processingTime=...)` replaces the
  hand-built 10-object/100 ms upload batching
  (``s3.service.ts:69-106``); `availableNow` drains a backlog.
* **foreachBatch** writes valid rows to date-partitioned bronze parquet
  and rejects to a JSON quarantine (O-27).  The reject count rides the
  bronze write as an ``Observation``, so a clean micro-batch runs one
  write action and leaves no quarantine file — the reference likewise touches its
  failure side channel only when a record fails
  (``processQueue.ts:55-66``).
* **metrics** (O-9): `observe()` + a `StreamingQueryListener` reproduce
  the CloudWatch RequestsProcessed / FailedRecords / ProcessingTime
  counters (``processQueue.ts:256-293``) engine-side.
* **silver** (O-16): requests LEFT-join latest-response — a *view* over
  bronze, recomputed on read; no in-place UPDATE exists at 100 TB.
  Late/out-of-order responses are therefore NOT lost (unlike the
  reference, whose UPDATE silently no-ops when the request hasn't landed,
  ``processQueue.ts:230-238``) — they simply join once the request
  arrives.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener

from data_ingestion_system_spark.operators.correlate import correlate
from data_ingestion_system_spark.sources.ingest import (
    REQUEST_SCHEMA,
    RESPONSE_SCHEMA,
    project_requests,
    project_responses,
    read_landing,
    rejected,
)
from data_ingestion_system_spark.sources.writers import write_date_partitioned

OBS_NAME = "ingest_metrics"


@dataclass
class MetricsCollector(StreamingQueryListener):
    """O-9: accumulate per-batch observed metrics, CloudWatch-style."""

    totals: dict[str, int] = field(default_factory=dict)
    batches: int = 0

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        self.batches += 1
        row = event.progress.observedMetrics.get(OBS_NAME)
        if row is not None:
            for k, v in row.asDict().items():
                self.totals[k] = self.totals.get(k, 0) + (v or 0)
        self.totals["ProcessingTimeMs"] = self.totals.get("ProcessingTimeMs", 0) + (
            event.progress.durationMs.get("triggerExecution", 0)
        )

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


def _observed(df: DataFrame, kind: str) -> DataFrame:
    """Attach RequestsProcessed/ResponsesProcessed + FailedRecords counters."""
    processed = f"{'Requests' if kind == 'request' else 'Responses'}Processed"
    return df.observe(
        OBS_NAME,
        F.count(F.lit(1)).alias(processed),
        F.sum(rejected().cast("long")).alias("FailedRecords"),
    )


def _counts(observation: Observation) -> dict[str, int] | None:
    """The observed counts, or None when the observed stage was dropped.
    Adaptive execution replaces a shuffle stage that produced no rows by
    an empty relation, and the metrics collected in that stage go with
    it: a write that lands no valid row may report nothing (None then
    means no row landed and the reject count is unknown), and
    ``Observation.get`` fails on the empty row instead of returning."""
    return observation.get if observation._jo.getRow().length() else None


def start_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    bronze_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
    kind: str = "request",
    available_now: bool = True,
    processing_time: str = "100 milliseconds",
    result_cache=None,
    dedup_within: str | None = None,
) -> StreamingQuery:
    """One streaming query: landing JSON -> (bronze parquet, quarantine).

    `available_now=True` drains the current backlog then stops (tests /
    backfills); otherwise runs continuously on a 100 ms trigger — the
    reference uploader's cadence (``s3.service.ts:97-99``).

    `result_cache` (a plans.cache.ResultCache) is invalidated after each
    batch that lands rows — the freshness contract the reference's pure
    TTL cannot give (it serves stale top-k for up to 300 s after new data,
    ``audit.services.ts:12,169``).

    `dedup_within` (e.g. "1 hour") suppresses redelivered records by
    (transactionId, timestamp) within the watermark window — the
    duplicate-INSERT hole in the reference's at-least-once path (a
    redelivered SQS message inserts twice, ``processQueue.ts:162-198``;
    SURVEY §2.7 O-28) closed with bounded state."""
    schema = REQUEST_SCHEMA if kind == "request" else RESPONSE_SCHEMA
    project = project_requests if kind == "request" else project_responses
    ts_col = "timestamp" if kind == "request" else "response_ts"

    raw = _observed(read_landing(spark, landing_dir, schema, streaming=True), kind)
    if dedup_within is not None:
        raw = (
            raw.withColumn("__et", F.to_timestamp("timestamp").cast("timestamp"))
            .withWatermark("__et", dedup_within)
            .dropDuplicatesWithinWatermark(["transactionId", "timestamp"])
            .drop("__et")
        )

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Persisted because a batch with rejects is read twice.  Deciding
        # with a count job first costs more than the quarantine write it
        # saves, so the counts ride the bronze write instead.
        batch_df.persist()
        try:
            bad, counts = rejected(), Observation()
            valid = batch_df.observe(
                counts, F.count_if(bad).alias("rejects"),
                F.count_if(~bad).alias("rows"),
            ).filter(~bad)
            write_date_partitioned(project(valid), bronze_dir, ts_col=ts_col,
                                   sort_col=ts_col)
            landed = _counts(counts)
            if landed is None or landed["rejects"]:
                batch_df.filter(bad).write.mode("append").json(quarantine_dir)
            if landed and landed["rows"] and result_cache is not None:
                result_cache.invalidate_all()
        finally:
            batch_df.unpersist()

    writer = raw.writeStream.foreachBatch(handle_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def silver_view(spark: SparkSession, bronze_requests_dir: str,
                bronze_responses_dir: str) -> DataFrame:
    """The queryable `api_audit` equivalent: requests + latest response.

    A view, not a table rewrite: at 100 TB correlating on read costs one
    hash-partitioned join (AQE-handled skew), vs. rewriting petabytes of
    silver per micro-batch.  Serve Q-search from this snapshot — top-k on
    an unbounded stream is not defined (SURVEY.md §7.4)."""
    requests = spark.read.parquet(bronze_requests_dir).drop("audit_date")
    responses = spark.read.parquet(bronze_responses_dir).drop("audit_date")
    return correlate(
        requests, responses,
        key="transaction_id",
        response_order="response_ts",
        response_tiebreaks=["response_s3_key"],
    ).drop("response_ts")
