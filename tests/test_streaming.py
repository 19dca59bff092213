"""Streaming pipeline end-to-end: landing -> bronze -> silver correlate,
with quarantine, checkpoint idempotence, and observed metrics."""

from __future__ import annotations

import json

import pytest

from data_ingestion_system_spark.streaming.pipeline import (
    MetricsCollector,
    silver_view,
    start_ingest_stream,
)

REQS = [
    {"transactionId": "t1", "timestamp": "2024-03-01T10:00:00.000Z",
     "method": "POST", "url": "/api/a", "appId": "app1",
     "workflowId": "wf1", "action": "create"},
    {"transactionId": "t2", "timestamp": "2024-03-01T10:05:00.000Z",
     "method": "GET", "url": "/api/b", "appId": "app2",
     "workflowId": "wf2", "action": "read"},
]
# two responses for t1 (latest-wins), one orphan response (request never
# landed -> still present in responses, absent from silver join output)
RESPS = [
    {"transactionId": "t1", "timestamp": "2024-03-01T10:00:01.000Z", "statusCode": 500},
    {"transactionId": "t1", "timestamp": "2024-03-01T10:00:05.000Z", "statusCode": 200},
    {"transactionId": "t9", "timestamp": "2024-03-01T10:00:02.000Z", "statusCode": 404},
]


@pytest.fixture()
def dirs(tmp_path):
    d = {
        "req_landing": tmp_path / "landing_req",
        "resp_landing": tmp_path / "landing_resp",
        "req_bronze": tmp_path / "bronze_req",
        "resp_bronze": tmp_path / "bronze_resp",
        "quarantine": tmp_path / "quarantine",
        "ckpt_req": tmp_path / "ckpt_req",
        "ckpt_resp": tmp_path / "ckpt_resp",
    }
    d["req_landing"].mkdir()
    d["resp_landing"].mkdir()
    for i, rec in enumerate(REQS):
        (d["req_landing"] / f"r{i}.json").write_text(json.dumps(rec))
    (d["req_landing"] / "bad.json").write_text("{nope")
    for i, rec in enumerate(RESPS):
        (d["resp_landing"] / f"p{i}.json").write_text(json.dumps(rec))
    return {k: str(v) for k, v in d.items()}


def _drain(spark, dirs):
    queries = []
    for kind, landing, bronze, ckpt in (
        ("request", dirs["req_landing"], dirs["req_bronze"], dirs["ckpt_req"]),
        ("response", dirs["resp_landing"], dirs["resp_bronze"], dirs["ckpt_resp"]),
    ):
        q = start_ingest_stream(
            spark, landing, bronze, dirs["quarantine"], ckpt,
            kind=kind, available_now=True,
        )
        q.awaitTermination(120)
        queries.append(q)
    return queries


def _await_listener(collector, queries, timeout=30.0):
    """Wait until ``collector`` has seen every progress event the drained
    ``queries`` report: listener events arrive asynchronously, after
    ``awaitTermination`` returns."""
    import time

    expected = sum(len(q.recentProgress) for q in queries)
    deadline = time.monotonic() + timeout
    while collector.batches < expected and time.monotonic() < deadline:
        time.sleep(0.05)


def test_stream_to_silver(spark, dirs):
    collector = MetricsCollector()
    spark.streams.addListener(collector)
    try:
        queries = _drain(spark, dirs)

        bronze_req = spark.read.parquet(dirs["req_bronze"])
        assert bronze_req.count() == 2
        assert "audit_date" in bronze_req.columns

        quarantined = spark.read.json(dirs["quarantine"])
        assert quarantined.count() == 1  # the corrupt request file

        silver = silver_view(spark, dirs["req_bronze"], dirs["resp_bronze"])
        rows = {r.transaction_id: r for r in silver.collect()}
        assert set(rows) == {"t1", "t2"}          # orphan response t9 dropped
        assert rows["t1"].status_code == 200      # latest of the two responses
        assert rows["t1"].response_s3_key == "audit/2024-03-01/t1/response.json"
        assert rows["t2"].status_code is None     # uncorrelated request

        # O-9 metrics observed on the stream
        _await_listener(collector, queries)
        assert collector.totals.get("RequestsProcessed", 0) == 3  # incl. corrupt row
        assert collector.totals.get("ResponsesProcessed", 0) == 3
        assert collector.totals.get("FailedRecords", 0) == 1
        assert collector.batches >= 2
    finally:
        spark.streams.removeListener(collector)


def test_redelivery_dedup_within_watermark(spark, tmp_path):
    """The reference's at-least-once path inserts a redelivered message
    twice; dropDuplicatesWithinWatermark suppresses the duplicate even
    when it arrives in a LATER micro-batch."""
    import json as J
    landing = tmp_path / "landing"
    landing.mkdir()
    rec = {"transactionId": "dup1", "timestamp": "2024-03-01T10:00:00.000Z",
           "method": "POST", "url": "/x", "appId": "a", "workflowId": "w",
           "action": "c"}
    other = {"transactionId": "t2", "timestamp": "2024-03-01T10:10:00.000Z",
             "method": "GET", "url": "/y", "appId": "b", "workflowId": "w",
             "action": "r"}

    def drain():
        q = start_ingest_stream(
            spark, str(landing), str(tmp_path / "bronze"),
            str(tmp_path / "quarantine"), str(tmp_path / "ckpt"),
            kind="request", available_now=True, dedup_within="1 hour",
        )
        q.awaitTermination(120)

    (landing / "m1.json").write_text(J.dumps(rec))
    drain()
    # redelivery: same record again (new file), plus a genuinely new one
    (landing / "m1_redelivered.json").write_text(J.dumps(rec))
    (landing / "m2.json").write_text(J.dumps(other))
    drain()

    bronze = spark.read.parquet(str(tmp_path / "bronze"))
    assert bronze.count() == 2  # duplicate suppressed, new record kept
    assert bronze.filter(bronze.transaction_id == "dup1").count() == 1


def test_batch_commit_invalidates_result_cache(spark, dirs):
    from data_ingestion_system_spark.plans.cache import ResultCache

    cache = ResultCache()
    cache.put("audit:{}", ["stale rows"])
    q = start_ingest_stream(
        spark, dirs["req_landing"], dirs["req_bronze"], dirs["quarantine"],
        dirs["ckpt_req"], kind="request", available_now=True,
        result_cache=cache,
    )
    q.awaitTermination(120)
    assert cache.get("audit:{}") is None  # fresh data evicted the stale top-k


def _drain_requests(spark, dirs, **kw):
    q = start_ingest_stream(
        spark, dirs["req_landing"], dirs["req_bronze"], dirs["quarantine"],
        dirs["ckpt_req"], kind="request", available_now=True, **kw)
    q.awaitTermination(120)
    return q


def _part_files(path):
    import glob

    return glob.glob(f"{path}/part-*")


@pytest.mark.parametrize("landing", ["clean", "mixed", "rejects_only"])
def test_quarantine_and_cache_follow_the_batch(spark, dirs, landing):
    """The quarantine is written only for rejects: a clean micro-batch
    leaves no quarantine part file, a corrupt file quarantines exactly
    that row.  The result cache is flushed only when rows land, so a
    batch of rejects alone keeps the cached entry.  The observed
    CloudWatch counters are the same in every case."""
    import os

    from data_ingestion_system_spark.plans.cache import ResultCache

    for name in os.listdir(dirs["req_landing"]):
        if landing != "mixed" and (name == "bad.json") == (landing == "clean"):
            os.remove(f"{dirs['req_landing']}/{name}")
    good, bad = (0 if landing == "rejects_only" else 2), int(landing != "clean")
    cache = ResultCache()
    cache.put("audit:{}", ["rows"])
    collector = MetricsCollector()
    spark.streams.addListener(collector)
    try:
        q = _drain_requests(spark, dirs, result_cache=cache)
        bronze = _part_files(f"{dirs['req_bronze']}/audit_date=*")
        assert (spark.read.parquet(*bronze).count() if bronze else 0) == good
        if bad:
            quarantined = spark.read.json(dirs["quarantine"]).collect()
            assert [r._corrupt for r in quarantined] == ["{nope"]
        else:
            assert _part_files(dirs["quarantine"]) == []
        _await_listener(collector, [q])
        assert collector.totals.get("RequestsProcessed") == good + bad
        assert collector.totals.get("FailedRecords") == bad
    finally:
        spark.streams.removeListener(collector)
    assert (cache.get("audit:{}") is None) == bool(good)


def test_clean_batch_runs_only_the_bronze_write(spark, dirs, monkeypatch):
    """A clean micro-batch's sink is one write action: every Spark job of
    the stream's job group runs inside the bronze write (adaptive
    execution splits that write into its stages' jobs), none after it
    for the quarantine or for a reject count."""
    import os

    from data_ingestion_system_spark.streaming import pipeline

    os.remove(f"{dirs['req_landing']}/bad.json")
    tracker = spark.sparkContext.statusTracker()
    bronze_write, in_write = pipeline.write_date_partitioned, []

    def write(*args, **kwargs):
        group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        before = set(tracker.getJobIdsForGroup(group))
        bronze_write(*args, **kwargs)
        in_write.extend(set(tracker.getJobIdsForGroup(group)) - before)

    monkeypatch.setattr(pipeline, "write_date_partitioned", write)
    q = _drain_requests(spark, dirs)
    stream_jobs = set(tracker.getJobIdsForGroup(str(q.runId)))
    assert in_write and stream_jobs == set(in_write)


def test_checkpoint_no_reprocess(spark, dirs):
    _drain(spark, dirs)
    n1 = spark.read.parquet(dirs["req_bronze"]).count()
    # drain again with the same checkpoint: no new files -> no new rows
    _drain(spark, dirs)
    assert spark.read.parquet(dirs["req_bronze"]).count() == n1

    # a late request lands: only the delta is processed, and a previously
    # orphaned response would now correlate on read (silver is a view)
    late = {"transactionId": "t9", "timestamp": "2024-03-01T09:59:00.000Z",
            "method": "GET", "url": "/api/late", "appId": "app9",
            "workflowId": "wf9", "action": "read"}
    import pathlib
    pathlib.Path(dirs["req_landing"], "late.json").write_text(json.dumps(late))
    _drain(spark, dirs)
    assert spark.read.parquet(dirs["req_bronze"]).count() == n1 + 1

    silver = silver_view(spark, dirs["req_bronze"], dirs["resp_bronze"])
    t9 = silver.filter(silver.transaction_id == "t9").first()
    assert t9.status_code == 404  # the reference would have lost this update


def test_streaming_write_audit_publish(spark, tmp_path):
    """foreachBatch + publish_if_valid: each micro-batch is staged,
    audited, and only clean batches reach the published table."""
    import json

    from pyspark.sql import functions as F

    from data_ingestion_system_spark.sources.ingest import (
        REQUEST_SCHEMA,
        project_requests,
        read_landing,
        validate_split,
    )
    from data_ingestion_system_spark.sources.writers import publish_if_valid

    landing = tmp_path / "landing_wap"
    landing.mkdir()
    pub = str(tmp_path / "published_wap")
    ckpt = str(tmp_path / "ckpt_wap")

    rec = {"transactionId": "t1",
           "timestamp": "2024-03-01T01:00:00.000Z",
           "method": "POST", "url": "/api/x", "appId": "app1",
           "workflowId": "wf", "action": "create"}
    (landing / "r1.json").write_text(json.dumps(rec))

    outcomes = []

    def audit_and_publish(batch_df, batch_id):
        good, _bad = validate_split(batch_df)
        proj = project_requests(good)
        try:
            publish_if_valid(
                proj, pub,
                {"null_txn": F.col("transaction_id").isNull()})
            outcomes.append(("published", batch_id))
        except ValueError:
            outcomes.append(("rejected", batch_id))

    q = (read_landing(spark, str(landing), REQUEST_SCHEMA, streaming=True)
         .writeStream.foreachBatch(audit_and_publish)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    assert outcomes and outcomes[0][0] == "published"
    got = spark.read.parquet(pub)
    assert got.count() == 1
    assert got.collect()[0].transaction_id == "t1"


_SILVER_COLS = ["transaction_id", "app_id", "endpoint", "workflow_id",
                "action", "timestamp", "status_code", "request_s3_key",
                "response_s3_key"]


def test_stream_stream_join_matches_silver_view(spark, dirs, tmp_path):
    """The streaming correlation (watermarked stream-stream join) and the
    batch silver view agree on the shared fixture: latest-wins over the
    join's one-row-per-response output equals silver's answered rows.
    Then the response-first order: responses drain before their request
    lands, and the request still joins every buffered response."""
    from pyspark.sql import functions as F

    from data_ingestion_system_spark.operators.correlate import latest_per_key
    from data_ingestion_system_spark.streaming.windowed import (
        start_stream_stream_correlate,
    )

    def correlate(req_landing, resp_landing, out, ckpt):
        q = start_stream_stream_correlate(
            spark, req_landing, resp_landing, out, ckpt)
        assert q.awaitTermination(120), "micro-batch did not finish in 120s"
        return spark.read.parquet(out)

    def rows(df):
        return sorted(tuple(r) for r in df.select(*_SILVER_COLS).collect())

    # same drain: both landings hold everything
    joined = correlate(dirs["req_landing"], dirs["resp_landing"],
                       str(tmp_path / "ss_out"), str(tmp_path / "ss_ckpt"))
    assert joined.filter(F.col("transaction_id") == "t1").count() == 2
    latest = latest_per_key(joined, "transaction_id", "response_ts",
                            ["response_s3_key"])
    _drain(spark, dirs)
    silver = silver_view(spark, dirs["req_bronze"], dirs["resp_bronze"])
    want = rows(silver.filter(F.col("status_code").isNotNull()))
    assert [r[0] for r in want] == ["t1"]
    assert rows(latest) == want

    # response first: responses drain alone, the request lands later
    req_landing, resp_landing = tmp_path / "rf_req", tmp_path / "rf_resp"
    req_landing.mkdir()
    resp_landing.mkdir()
    out, ckpt = str(tmp_path / "rf_out"), str(tmp_path / "rf_ckpt")
    for i, rec in enumerate(RESPS):
        (resp_landing / f"p{i}.json").write_text(json.dumps(rec))
    first = correlate(str(req_landing), str(resp_landing), out, ckpt)
    assert first.count() == 0
    for i, rec in enumerate(REQS):
        (req_landing / f"r{i}.json").write_text(json.dumps(rec))
    late = correlate(str(req_landing), str(resp_landing), out, ckpt)
    assert sorted((r.transaction_id, r.status_code)
                  for r in late.collect()) == [("t1", 200), ("t1", 500)]
    assert rows(latest_per_key(late, "transaction_id", "response_ts",
                               ["response_s3_key"])) == want
