"""Workload ``curate_batch``: the LLM-pipeline curation operators, as one
batch job in a fresh application.

A fixed, ordered list of declared queries runs over seeded curation tables,
each built through ``registry.queries()`` and then executed by collecting
its (small) result.  The first six build their plans through connected
components, which is where the build-time Spark jobs pile up; the last
four share ``operators.dedup`` and ``operators.dedup_index`` or reach
``similarity`` and ``text`` without connected components, so a regression
in shared code shows there too.
Set-up brings the application's JVM and Python workers up with a tiny
unrelated job, so the list measures the operators' own work, their
first-use plan compilation included, and the cost of a cold application
shows in ``setup_s``.

End-to-end: ``latency_ms`` is the wall time of the whole list;
``throughput_per_s`` is queries completed per second.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

from data_ingestion_system_spark import registry
from data_ingestion_system_spark.catalog import Catalog

from perfbench import check, gen
from perfbench.harness import Run

QUERIES = (
    "dedup_cluster_star", "dedup_cluster_components", "dedup_canonical_pick",
    "dedup_leakage_safe_split", "dedup_cleaning_report",
    "multimodal_near_dup_clusters", "dedup_minhash_lsh", "dedup_index_probe",
    "sim_topk_ivf", "text_nb_langid",
)
SIZE = gen.CurationSize(docs=600, vectors=300, orders=5000, customers=600,
                        suppliers=100)


def run(r: Run) -> None:
    spark = r.spark
    tables = f"{r.work}/tables"
    with r.phase("inputs"):
        gen.curation_tables(tables, r.seed, SIZE)

    def prepare(rep: int) -> dict:
        Catalog(spark, tables)  # ships the engine package to Python workers
        _warm_up(spark, f"{r.work}/warm{rep}")
        return registry.queries()

    qs = r.setup(prepare)
    r.tracer.spans.clear()

    with r.phase("queries"):
        results, wall = _run_list(r, qs, tables)
    r.e2e["latency_ms"] = wall * 1e3
    r.e2e["throughput_per_s"] = len(QUERIES) / wall
    with r.phase("checks"):
        _checks(r, tables, results)
    if r.trace:
        _curate_layer(r)


def _warm_up(spark, path: str) -> None:
    """Bring the application's JVM code paths and Python workers up with a
    tiny job that touches no curation operator: a parquet round trip and an
    Arrow batch through Python."""
    spark.range(4000).selectExpr("id", "cast(id % 7 as string) AS s") \
        .write.parquet(path)
    back = spark.read.parquet(path)
    back.mapInArrow(lambda batches: batches, back.schema).groupBy("s").count().collect()


def _run_list(r: Run, qs: dict, tables: str):
    spark = r.spark
    results = {}
    t0 = time.perf_counter()
    for name in QUERIES:
        with r.tracer.span("curate", name, op=name):
            with r.jobs.group(f"q.{name}.build"), r.tracer.span("registry", "build", op=name):
                df = r.guarded(f"{name} build", qs[name], spark, tables)
            if df is None:
                continue
            with r.jobs.group(f"q.{name}.exec"), r.tracer.span("exec", "collect", op=name):
                rows = r.guarded(f"{name} exec", df.collect)
            if rows is not None:
                results[name] = (df.columns, rows)
    return results, time.perf_counter() - t0


def _checks(r: Run, tables: str, results: dict) -> None:
    """Each result against the registry's oracle SQL run by DuckDB."""
    oracle = registry.oracle_sql()
    sqls = {oracle[name] for name in results}
    with ThreadPoolExecutor(max_workers=os.cpu_count()) as pool:
        want = dict(zip(sqls, pool.map(lambda q: check.duckdb_oracle(tables, q), sqls)))
    for name, (cols, rows) in results.items():
        want_cols, want_rows = want[oracle[name]]
        r.check(check.rows_match(name, cols, rows, want_cols, want_rows))


def _curate_layer(r: Run) -> None:
    build = r.tracer.by_op_ms("registry", "build")
    execs = r.tracer.by_op_ms("exec", "collect")
    tot = {"build_s": 0.0, "exec_s": 0.0, "jobs_build": 0, "jobs_exec": 0,
           "stages": 0, "tasks": 0}
    for name in QUERIES:
        b = r.jobs.counts(f"q.{name}.build")
        e = r.jobs.counts(f"q.{name}.exec")
        one = {"build_s": build.get(name, 0.0) / 1e3, "exec_s": execs.get(name, 0.0) / 1e3,
               "jobs_build": b["jobs"], "jobs_exec": e["jobs"]}
        for k, v in one.items():
            r.layer[f"q.{name}.{k}"] = v
            tot[k] += v
        tot["stages"] += b["stages"] + e["stages"]
        tot["tasks"] += b["tasks"] + e["tasks"]
    for k, v in tot.items():
        r.layer[f"curate.{k}"] = v
