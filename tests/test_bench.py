"""bench.py's timed loop: one record per query, build and exec timed and
job-counted apart, the fastest full pass kept."""

from __future__ import annotations

import time

import pytest

import bench
from data_ingestion_system_spark import registry
from perfbench.tracing import JobCounter

PARENT_KEYS = {"metric", "value", "unit", "sf", "n_queries", "p50", "p95",
               "queries", "loadavg_start", "loadavg_end", "contended",
               "full"}
SLOW_S = 2.0


def _grouped(spark):
    return spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()


def test_time_queries_splits_build_from_exec(spark, monkeypatch):
    calls = []

    def eager(spark, sf_dir):
        df = _grouped(spark)
        df.count()  # a build-time job, like the gated dedup pre-pass
        calls.append(1)
        if len(calls) == 2:  # the first timed pass (call 1 is the warm-up)
            time.sleep(SLOW_S)
        return df

    def lazy(spark, sf_dir):
        return spark.range(100)

    monkeypatch.setattr(registry, "queries",
                        lambda: {"eager": eager, "lazy": lazy})
    recs = bench.time_queries(spark, ["eager", "lazy"], "unused", runs=2)

    assert set(recs) == {"eager", "lazy"} and len(calls) == 3
    for r in recs.values():
        assert r["sec"] == pytest.approx(r["build_s"] + r["exec_s"],
                                         abs=2e-4)
        assert r["tasks"] >= r["stages"] >= 1
    # the slow first pass is not the one kept
    e = recs["eager"]
    assert e["sec"] < SLOW_S and e["build_s"] < SLOW_S
    # the build's count() is billed to build, the noop write to exec
    jobs = JobCounter(spark, True)
    with jobs.group("test-bench-exec-only"):
        _grouped(spark).write.format("noop").mode("overwrite").save()
    assert e["jobs_build"] >= 1
    assert e["jobs_exec"] == jobs.counts("test-bench-exec-only")["jobs"]
    assert recs["lazy"]["jobs_build"] == 0 and recs["lazy"]["jobs_exec"] >= 1


def test_summary_keeps_the_parent_keys_plus_parallelism(spark):
    recs = {f"q{i}": {"sec": float(i), "build_s": 0.0, "exec_s": float(i),
                      "jobs_build": 0, "jobs_exec": 1, "stages": 1,
                      "tasks": 1} for i in range(12)}
    s = bench.summarize(recs, 0.1, spark.sparkContext.defaultParallelism,
                        0.0)
    assert set(s) == PARENT_KEYS | {"parallelism"}
    assert s["value"] == sum(range(12)) and s["n_queries"] == 12
    assert list(s["queries"]) == [f"q{i}" for i in range(11, 1, -1)]
    assert s["parallelism"] == spark.sparkContext.defaultParallelism
