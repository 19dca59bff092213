"""The search path: a fresh ``silver_view`` per request,
``operators.search`` on top, served through
``plans.cache.CachedSearchService``; plus the ingest streams that build
bronze, and the checks and per-layer figures for searches.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from data_ingestion_system_spark.operators.search import search
from data_ingestion_system_spark.plans.cache import (
    CachedSearchService,
    ResultCache,
    canonical_key,
)
from data_ingestion_system_spark.streaming import pipeline

from perfbench import check, gen, stats
from perfbench.harness import Run

PROJECT = list(gen.SILVER_COLUMNS)


@dataclass
class Request:
    n: int
    key: str
    filters: dict
    seconds: float
    hit: bool
    rows: list | None
    start: float  # epoch seconds, to place the request against batch commits
    end: float


class _TimedCollect:
    """Stands in for the DataFrame the service collects, so the traced run
    can time the collect apart from the plan."""

    def __init__(self, df, run: Run):
        self.df, self.run = df, run

    def collect(self):
        with self.run.tracer.span("search", "exec"):
            rows = self.df.collect()
        self.run.samples["files_listed"].append(len(self.df.inputFiles()))
        return rows


def service(spark, run: Run, bronze_req: str, bronze_resp: str) -> CachedSearchService:
    tracer = run.tracer

    def search_fn(filters):
        with tracer.span("silver", "silver_view"):
            silver = pipeline.silver_view(spark, bronze_req, bronze_resp)
        with tracer.span("search", "plan"):
            df = search(silver, filters, project=PROJECT, order_col="timestamp",
                        tiebreak_col="transaction_id", limit=100)
        return _TimedCollect(df, run) if tracer.enabled else df

    svc = CachedSearchService(search_fn, cache=ResultCache())
    if tracer.enabled:
        cache = svc.cache
        cache.get = tracer.wrap("cache", "get", cache.get)
        cache.put = tracer.wrap("cache", "put", cache.put)
        cache.invalidate_all = tracer.wrap("cache", "invalidate_all", cache.invalidate_all)
    return svc


def request(svc: CachedSearchService, run: Run, filters: dict, n: int) -> Request:
    """One search, timed from call to rows in hand; a raise is a failed
    operation and yields ``rows=None``."""
    hits = svc.cache.hits
    start = time.time()
    t0 = time.perf_counter()
    with run.jobs.group(f"search-{n}"), run.tracer.span("service", "search", op=str(n)):
        rows = run.guarded(f"search {filters}", svc.search, filters)
    return Request(n, canonical_key("audit", filters), filters,
                   time.perf_counter() - t0, svc.cache.hits > hits, rows, start, time.time())


def start_streams(spark, landing_req: str, landing_resp: str, out: str, **kw) -> list:
    """Start the request and the response ingest stream into ``out``'s
    bronze, quarantine and checkpoint directories; ``kw`` goes to
    ``start_ingest_stream``.  Returns the started queries."""
    queries = []
    for kind, landing in (("request", landing_req), ("response", landing_resp)):
        queries.append(pipeline.start_ingest_stream(
            spark, landing, f"{out}/bronze_{kind}", f"{out}/quarantine_{kind}",
            f"{out}/checkpoint_{kind}", kind=kind, **kw))
    return queries


def check_bronze(run: Run, out: str, landing: gen.Landing) -> None:
    """Bronze and quarantine row counts against what the generator wrote,
    read with pyarrow and plain file reads."""
    for kind in ("request", "response"):
        run.check(check.check_counts(f"bronze {kind} rows",
                                     check.parquet_rows(f"{out}/bronze_{kind}"),
                                     landing.good[kind]))
        run.check(check.check_counts(f"quarantine {kind} lines",
                                     check.json_lines(f"{out}/quarantine_{kind}"),
                                     landing.bad[kind]))


def check_result(what: str, rows, want: list[tuple]) -> list[str]:
    if rows is None:
        return [f"{what}: no result"]
    return check.rows_match(what, PROJECT, rows, PROJECT, want, ordered=True)


def layer_metrics(run: Run, svc: CachedSearchService, reqs: list[Request]) -> None:
    """Search and cache figures; when traced, also the plan/exec split and
    Spark work per miss.  Per-request times are means: a run has too few
    misses for a percentile with ten samples beyond it."""
    misses = [r for r in reqs if not r.hit]
    run.layer["search.requests"] = len(reqs)
    run.layer["search.misses"] = len(misses)
    run.layer["search.miss_mean_ms"] = stats.mean([r.seconds * 1e3 for r in misses])
    run.layer["cache.hits"] = len(reqs) - len(misses)
    run.layer["cache.hit_ratio"] = (len(reqs) - len(misses)) / max(1, len(reqs))
    run.layer["cache.entries_end"] = sum(
        svc.cache.backend.get(k) is not None for k in {r.key for r in reqs})
    if not run.trace:
        return
    t = run.tracer
    run.layer["search.plan_ms"] = stats.mean(
        [a + b for a, b in zip(t.durations_ms("silver", "silver_view"),
                               t.durations_ms("search", "plan"))])
    run.layer["search.exec_ms"] = stats.mean(t.durations_ms("search", "exec"))
    run.layer["cache.get_us"] = stats.mean(t.durations_ms("cache", "get")) * 1e3
    run.layer["cache.invalidations"] = len(t.durations_ms("cache", "invalidate_all"))
    run.layer["search.bronze_files_listed"] = max(run.samples["files_listed"], default=0)
    counts = [run.jobs.counts(f"search-{r.n}") for r in misses]
    run.layer["search.jobs_per_miss"] = stats.mean([c["jobs"] for c in counts])
    run.layer["search.tasks_per_miss"] = stats.mean([c["tasks"] for c in counts])
