#!/usr/bin/env python
"""Per-query measurement harness for the optimization rounds (guide §1).

For each named query (or the top-N from BENCH_FULL.json):

* times the BUILD phase (calling the query fn — catches eager pre-pass
  jobs like the pair-budget mass probe or progressive-LSH gates) and the
  EXECUTE phase (noop sink) separately, best-of-R;
* labels jobs via setJobDescription so any UI/eventlog stays readable;
* optionally dumps ``explain("formatted")`` to
  plans/<ROUND>/<query>_<tag>.txt.

Usage:
    python scripts/measure_query.py [--plans TAG] [--runs N] [query ...]

Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
SPARK_GRAFT_PLANS_ROUND (the plans/ subdirectory, default r10).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--plans", default=None,
                    help="dump explain(formatted) to "
                    "plans/$SPARK_GRAFT_PLANS_ROUND/<q>_<TAG>.txt "
                    "(default round r10)")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--explain-only", action="store_true",
                    help="dump plans without timing (contended-host mode)")
    ap.add_argument("--top", type=int, default=0,
                    help="take top-N heaviest from BENCH_FULL.json")
    args = ap.parse_args()

    from data_ingestion_system_spark import registry
    from data_ingestion_system_spark.session import get_spark

    qs = registry.queries()
    names = list(args.queries)
    if args.top:
        with open(os.path.join(_REPO, "BENCH_FULL.json")) as f:
            full = json.load(f)["queries"]
        names += [k for k, _ in sorted(full.items(), key=lambda kv: -kv[1])
                  [:args.top] if k not in names]
    if not names:
        ap.error("no queries given")

    spark = get_spark(app_name="measure_query",
                      cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sc = spark.sparkContext

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    plans_dir = os.path.join(
        _REPO, "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r10"))
    if args.plans:
        os.makedirs(plans_dir, exist_ok=True)
    if not args.explain_only:
        # untimed warm-up (JVM, parquet footers)
        run(qs[names[0]](spark, SF_DIR))

    if args.explain_only:
        tag = args.plans or "before"
        os.makedirs(plans_dir, exist_ok=True)
        for name in names:
            df = qs[name](spark, SF_DIR)
            with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
                f.write(spark._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            print(f"dumped {name}", flush=True)
        return

    results = {}
    for name in names:
        best_build = best_exec = None
        for r in range(args.runs):
            spark.catalog.clearCache()
            sc.setJobDescription(f"{name}: build (eager pre-pass)")
            t0 = time.perf_counter()
            df = qs[name](spark, SF_DIR)
            t1 = time.perf_counter()
            sc.setJobDescription(f"{name}: execute (noop sink)")
            run(df)
            t2 = time.perf_counter()
            sc.setJobDescription(None)
            b, e = t1 - t0, t2 - t1
            best_build = b if best_build is None else min(best_build, b)
            best_exec = e if best_exec is None else min(best_exec, e)
            if r == 0 and args.plans:
                with open(os.path.join(
                        plans_dir, f"{name}_{args.plans}.txt"), "w") as f:
                    f.write(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"))
        results[name] = {"build": round(best_build, 3),
                         "exec": round(best_exec, 3),
                         "total": round(best_build + best_exec, 3)}
        print(f"{name}: build {best_build:.3f}s  exec {best_exec:.3f}s  "
              f"total {best_build + best_exec:.3f}s", flush=True)

    print(json.dumps({"sf_dir": SF_DIR, "results": results}))


if __name__ == "__main__":
    main()
