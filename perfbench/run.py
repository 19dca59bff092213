"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Each run is a fresh Spark application on
``local[nproc]``.  With ``--trace 0`` the result holds the end-to-end
metrics of BENCHMARK.json; with ``--trace 1`` it holds the per-layer
metrics, read from spans recorded around calls into the engine's modules
and from Spark's status tracker and streaming progress reports.  The run
exits 1 when any output check fails.  Everything it writes goes under
``perfbench/_work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

# Per workload, the per-layer metrics of layers it does not exercise in its
# measured phase; they report 0.
IDLE = {
    "ingest_search": ("q.", "curate."),
    "curate_batch": ("ingest.", "writers.", "bronze.", "search.", "cache."),
}
SELF_LAYERS = ("service", "cache", "silver", "search", "writers", "ingest",
               "curate", "registry", "exec")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(IDLE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[0] = ROOT  # not this directory: its module names must not shadow others
    import data_ingestion_system_spark  # noqa: F401  (fail fast without the engine)

    from perfbench import curate_batch, harness, ingest_search, stats
    from perfbench.tracing import JobCounter, Tracer

    if args.workload == "ingest_search" and stats.beyond(
            ingest_search.live_objects(args.seconds), 0.5) < stats.MIN_BEYOND:
        ap.error("--seconds too short for a freshness median")

    workloads = {"ingest_search": ingest_search.run, "curate_batch": curate_batch.run}
    work = harness.work_dir(args.workload, args.seed)
    r = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    r.tracer = Tracer(r.trace)
    with r.phase("session start"):
        r.spark, r.layer["session.start_s"] = harness.start_spark(work)
    try:
        r.jobs = JobCounter(r.spark, r.trace)
        t0 = time.perf_counter()
        workloads[args.workload](r)
        wall = time.perf_counter() - t0
        if r.trace:
            _trace_layer(r, wall)
    finally:
        with r.phase("session stop"):
            r.layer["session.peak_rss_mb"] = harness.stop_spark(r.spark)

    if r.trace:
        os.makedirs(os.path.join(BENCH_DIR, "_work", "traces"), exist_ok=True)
        r.tracer.dump(os.path.join(BENCH_DIR, "_work", "traces",
                                   f"{args.workload}-seed{args.seed}.json"),
                      {"e2e": r.e2e, "layer": r.layer})
    shutil.rmtree(work, ignore_errors=True)

    for msg in r.failures:
        print(f"FAILED: {msg}", file=sys.stderr)
    metrics = {}
    for m in spec["per_layer" if r.trace else "end_to_end"]:
        name = m["name"]
        source = r.layer if r.trace else r.e2e
        if name in source:
            value = source[name]
        elif r.trace and name.startswith(IDLE[args.workload]):
            value = 0
        else:
            raise RuntimeError(f"{args.workload} did not measure {name}")
        metrics[name] = {"value": value, "unit": m["unit"]}
    print(json.dumps({"correct": r.failed == 0, "attempted": r.attempted,
                      "failed": r.failed, "metrics": metrics}))
    return 0 if r.failed == 0 else 1


def _trace_layer(r, wall: float) -> None:
    """Layer self times, whole-application Spark counts, and what the
    spans themselves cost as a share of the measured wall time."""
    self_ms = r.tracer.self_ms()
    for layer in SELF_LAYERS:
        r.layer[f"self.{layer}_ms"] = self_ms.get(layer, 0.0)
    for k, v in r.jobs.totals().items():
        r.layer[f"spark.{k}"] = v
    n = len(r.tracer.spans)
    r.layer["trace.spans"] = n
    r.layer["trace.overhead_pct"] = 100 * n * r.tracer.span_cost_ns() / 1e9 / wall


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
