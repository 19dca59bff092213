"""Workload ``ingest_search``: the reference's deployment shape, writes
beside reads.

Every audit record lands as its own one-record JSON object, as the
reference's uploader stores them.  Phase 1 drains a preloaded landing
backlog of request and response objects with ``availableNow``, ``DRAINS``
times into fresh tables.  Phase 2 runs both ingest streams continuously on
the last table, with the search service's result cache wired in as
``result_cache``.  A separate feeder process lands objects in batches of
``TICK`` on a fixed open-loop schedule, and one closed-loop client thread
cycles the seeded Zipf search sequence, each miss planned over a fresh
``silver_view``.  Every committed batch flushes the cache, so most searches
miss.

End-to-end: ``throughput_per_s`` is bronze rows committed per second in the
median drain; ``latency_ms`` is the median freshness of phase-2 objects,
from when an object was due by the schedule to the end of the batch that
committed it.  Search and cache figures are per-layer.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from dataclasses import dataclass
from datetime import datetime
from urllib.parse import unquote, urlparse

from pyspark import InheritableThread
from pyspark.sql.streaming import StreamingQueryListener

from data_ingestion_system_spark.streaming import pipeline

from perfbench import check, gen, searching, stats
from perfbench.harness import ROOT, Run

# The traffic follows the reference's uploader (BASELINE.md, s3.service.ts):
# every audit record is its own object, landed in batches of TICK objects.
# The reference pauses 100 ms between batches; the feed here lands a batch
# every 500 ms (LIVE_RATE objects/s), about a ninth of the 175 objects/s at
# which this engine drains a backlog of such objects on a 4-core host.  At
# twice this rate, with the search client beside it, batches took near 3 s.
TICK, LIVE_RATE = 10, 20.0
BACKLOG_TXNS = 200  # about 400 objects: one drain is a few seconds of work
DRAINS = 3  # the throughput is the median drain
WARM_TXNS = 10
SEARCHES = 100  # 20 distinct filters: without writes one pass would hit 80%


def live_objects(seconds: int) -> int:
    """Objects the feeder lands in a live phase of ``seconds``."""
    return int(LIVE_RATE * seconds)


class ProgressLog(StreamingQueryListener):
    """Every micro-batch's progress report, as plain data."""

    def __init__(self):
        self.events: list[dict] = []

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        self.events.append({"id": str(p.id), "batch": p.batchId, "start": p.timestamp,
                            "ms": dict(p.durationMs), "rows": p.numInputRows})

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def source_batches(checkpoint: str) -> dict[str, int]:
    """File path -> batch id, from the file source's log in the checkpoint
    (compacted files included)."""
    out = {}
    log = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        with open(os.path.join(log, name)) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                out[unquote(urlparse(entry["path"]).path)] = entry["batchId"]
    return out


def _write_objects(objects: list[gen.Obj], dirs: dict[str, str], prefix: str) -> list[str]:
    """One file per object, in its kind's directory; returns the paths."""
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    paths = []
    for i, o in enumerate(objects):
        paths.append(f"{dirs[o.kind]}/{prefix}-{i:05d}.json")
        gen.write_lines(paths[-1], [o.line])
    return paths


@dataclass
class Inputs:
    backlog: gen.Landing
    live: gen.Landing
    seq: list[dict]
    landing: dict[str, str]
    backlog_paths: list[str]
    staged: list[str]


def _inputs(r: Run) -> Inputs:
    w = r.work
    backlog = gen.landing(r.seed, BACKLOG_TXNS, "b")
    n_live = live_objects(r.seconds)
    live = gen.Landing(gen.landing(r.seed, n_live, "l").objects[:n_live])
    landing = {k: f"{w}/landing_{k}" for k in ("request", "response")}
    backlog_paths = _write_objects(backlog.objects, landing, "backlog")
    staged = _write_objects(live.objects, {k: f"{w}/staging_{k}" for k in landing}, "live")
    _write_objects(gen.landing(r.seed, WARM_TXNS, "w").objects,
                   {k: f"{w}/warm_{k}" for k in landing}, "warm")
    return Inputs(backlog, live, gen.search_sequence(r.seed, backlog.silver, SEARCHES),
                  landing, backlog_paths, staged)


def _landed_path(inp: Inputs, i: int) -> str:
    """Where the feeder puts live object ``i``."""
    return f"{inp.landing[inp.live.objects[i].kind]}/live-{i:05d}.json"


def _live_phase(r: Run, inp: Inputs, out: str):
    """Open-loop landings beside a closed-loop search client; returns the
    streaming queries, the service and its requests."""
    spark, w = r.spark, r.work
    svc = searching.service(spark, r, f"{out}/bronze_request", f"{out}/bronze_response")
    queries = searching.start_streams(spark, inp.landing["request"], inp.landing["response"],
                                      out, available_now=False, result_cache=svc.cache)
    moves = [[src, _landed_path(inp, i), i // TICK * TICK / LIVE_RATE]
             for i, src in enumerate(inp.staged)]
    with open(f"{w}/schedule.json", "w") as f:
        json.dump({"start": time.time() + 0.5, "moves": moves}, f)
    feeder = subprocess.Popen([sys.executable, "-m", "perfbench.feeder",
                               f"{w}/schedule.json", f"{w}/landed.json"], cwd=ROOT)
    reqs: list[searching.Request] = []
    stop = threading.Event()

    def client() -> None:
        while not stop.is_set():
            reqs.append(searching.request(svc, r, inp.seq[len(reqs) % len(inp.seq)],
                                          len(reqs)))

    thread = InheritableThread(target=client, name="search-client")
    thread.start()
    try:
        if feeder.wait(timeout=r.seconds + 60) != 0:
            r.op_failed(f"feeder exited with {feeder.returncode}")
    finally:
        if feeder.poll() is None:
            feeder.kill()
            feeder.wait()
        stop.set()
        thread.join()
    with r.tracer.span("ingest", "catch_up"):
        for q in queries:
            q.processAllAvailable()
            q.stop()
    return queries, svc, reqs


def _commit_windows(progress: ProgressLog, collector, queries, out: str) -> dict:
    """(kind, landing path) -> (start, end) epoch seconds of the batch that
    committed the file.  Progress reports reach each listener after the
    fact, so wait until both listeners have every batch the source logs
    name."""
    batches = {}
    for kind in ("request", "response"):
        batches.update({(kind, p): b for p, b in
                        source_batches(f"{out}/checkpoint_{kind}").items()})
    kinds = {str(q.id): k for q, k in zip(queries, ("request", "response"))}
    deadline = time.time() + 15
    while True:
        spans = {(kinds[e["id"]], e["batch"]):
                 (_epoch(e["start"]), _epoch(e["start"]) + e["ms"]["triggerExecution"] / 1e3)
                 for e in list(progress.events) if e["id"] in kinds}
        if (all((k, b) in spans for (k, _), b in batches.items())
                and collector.batches >= len(progress.events)) or time.time() > deadline:
            break
        time.sleep(0.2)
    return {f: spans[(f[0], b)] for f, b in batches.items() if (f[0], b) in spans}


def _freshness(r: Run, inp: Inputs, windows: dict):
    """Per landed live object: due -> end of the batch that committed it."""
    with open(f"{r.work}/landed.json") as f:
        landed = {dst: (due, at) for dst, due, at in json.load(f)}
    fresh, late = [], []
    feeder_end = max(at for _, at in landed.values())
    backlog_end = 0
    for i, o in enumerate(inp.live.objects):
        dst = _landed_path(inp, i)
        due, at = landed[dst]
        late.append((at - due) * 1e3)
        window = windows.get((o.kind, dst))
        if window is None:
            r.op_failed(f"{dst}: never committed")
            continue
        fresh.append((window[1] - due) * 1e3)
        backlog_end += window[1] > feeder_end
    return fresh, late, backlog_end


def run(r: Run) -> None:
    spark = r.spark
    with r.phase("inputs"):
        inp = _inputs(r)

    def warm_up(rep: int) -> None:
        out = f"{r.work}/warm{rep}"
        for q in searching.start_streams(spark, f"{r.work}/warm_request",
                                         f"{r.work}/warm_response", out, available_now=True):
            q.awaitTermination()
        searching.service(spark, r, f"{out}/bronze_request",
                          f"{out}/bronze_response").search(inp.seq[0])

    r.setup(warm_up)
    r.tracer.spans.clear()
    r.samples.clear()

    def drain(out: str) -> float:
        with r.phase("drain"), r.tracer.span("ingest", "drain"):
            t0 = time.perf_counter()
            for q in searching.start_streams(spark, inp.landing["request"],
                                             inp.landing["response"], out, available_now=True):
                q.awaitTermination()
            return time.perf_counter() - t0

    # The backlog drains DRAINS times into fresh tables; the last one carries
    # on into phase 2 under the listeners, the others are only counted.
    progress, collector = ProgressLog(), pipeline.MetricsCollector()
    out = f"{r.work}/run"
    bronze = [f"{out}/bronze_{k}" for k in ("request", "response")]
    write_orig = pipeline.write_date_partitioned
    pipeline.write_date_partitioned = r.tracer.wrap("writers", "write_date_partitioned",
                                                    write_orig)
    try:
        drain_s = [drain(f"{r.work}/drain{k}") for k in range(DRAINS - 1)]
        spark.streams.addListener(progress)
        spark.streams.addListener(collector)
        drain_s.append(drain(out))
        with r.phase("live"):
            queries, svc, reqs = _live_phase(r, inp, out)
    finally:
        pipeline.write_date_partitioned = write_orig
    with r.phase("freshness"):
        windows = _commit_windows(progress, collector, queries, out)
        fresh, late, backlog_end = _freshness(r, inp, windows)
    spark.streams.removeListener(progress)
    spark.streams.removeListener(collector)
    # Rows each drain committed to bronze; the checks below confirm the count.
    r.e2e["throughput_per_s"] = sum(inp.backlog.good.values()) / stats.median(drain_s)
    r.e2e["latency_ms"] = stats.percentile(fresh, 0.5)

    data_batches = [e for e in progress.events if e["rows"] > 0]
    r.attempted += len(data_batches)
    with r.phase("checks"):
        _checks(r, inp, out, collector, reqs, windows)

    _ingest_layer(r, data_batches, collector, fresh, late, backlog_end)
    searching.layer_metrics(r, svc, reqs)
    r.layer["writers.files_written"] = sum(len(check.committed_parquet(b)) for b in bronze)
    r.layer["bronze.files_total"] = r.layer["writers.files_written"]
    rows = sum(inp.backlog.good.values()) + sum(inp.live.good.values())
    r.layer["writers.bytes_per_record"] = _bytes(bronze) / rows
    if r.trace:
        r.layer["writers.write_ms"] = stats.mean(
            r.tracer.durations_ms("writers", "write_date_partitioned"))


def _checks(r: Run, inp: Inputs, out: str, collector, reqs, windows: dict) -> None:
    """Outside every timed region: counts, latest-wins, search results."""
    final = gen.Landing()
    final.extend(inp.backlog)
    final.extend(inp.live)
    searching.check_bronze(r, out, final)
    for k in range(DRAINS - 1):
        searching.check_bronze(r, f"{r.work}/drain{k}", inp.backlog)
    t = collector.totals
    good, bad = final.good, final.bad
    for counter, want in (
            ("FailedRecords", bad["request"] + bad["response"]),
            ("RequestsProcessed", good["request"] + bad["request"]),
            ("ResponsesProcessed", good["response"] + bad["response"])):
        r.check(check.check_counts(f"observed {counter}", t.get(counter, 0), want))
    silver = pipeline.silver_view(r.spark, f"{out}/bronze_request", f"{out}/bronze_response")
    want_silver = final.silver
    r.check(check.rows_match("silver latest-wins", silver.columns, silver.collect(),
                             searching.PROJECT, list(want_silver.values())))

    # Each miss is the top-100 of what was committed while it ran; each hit
    # is the rows of the latest miss for its key.
    paths = inp.backlog_paths + [_landed_path(inp, i) for i in range(len(inp.live.objects))]
    timed = [(o, windows[(o.kind, p)]) for o, p in zip(final.objects, paths)
             if (o.kind, p) in windows]
    last: dict[str, list] = {}
    for q in reqs:
        if q.hit:
            r.check([] if q.rows is last.get(q.key) else
                    [f"hit {q.filters} is not its latest miss"])
            continue
        last[q.key] = q.rows
        r.check(check.snapshot_search(
            f"search {q.filters}", q.rows, q.filters,
            [o for o, (_, end) in timed if end < q.start],
            [o for o, (start, _) in timed if start < q.end]))
    every: dict = {}
    r.check(searching.check_result("final search {}", searching.service(
        r.spark, r, f"{out}/bronze_request", f"{out}/bronze_response").search(every),
        gen.expected_search(want_silver, every)))


def _bytes(dirs: list[str]) -> int:
    return sum(os.path.getsize(f) for d in dirs for f in check.committed_parquet(d))


def _ingest_layer(r: Run, batches: list[dict], collector, fresh, late, backlog_end) -> None:
    def mean(key_fn):
        return sum(key_fn(e["ms"]) for e in batches) / max(1, len(batches))

    r.layer["ingest.batches"] = len(batches)
    r.layer["ingest.records"] = sum(e["rows"] for e in batches)
    r.layer["ingest.failed_records"] = collector.totals.get("FailedRecords", 0)
    r.layer["ingest.rows_per_batch"] = r.layer["ingest.records"] / max(1, len(batches))
    r.layer["ingest.trigger_ms"] = mean(lambda m: m.get("triggerExecution", 0))
    r.layer["ingest.add_batch_ms"] = mean(lambda m: m.get("addBatch", 0))
    r.layer["ingest.list_ms"] = mean(lambda m: m.get("latestOffset", 0) + m.get("getBatch", 0))
    r.layer["ingest.commit_ms"] = mean(lambda m: m.get("walCommit", 0) + m.get("commitOffsets", 0))
    r.layer["ingest.backlog_files_end"] = backlog_end
    r.layer["ingest.freshness_samples"] = len(fresh)
    r.layer["ingest.generator_late_max_ms"] = max(late, default=0.0)
