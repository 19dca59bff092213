#!/usr/bin/env python
"""Scale-up spot-bench: the most expensive queries at two scales.

Turns design-for-scale claims (LSH fixed overhead amortizing, TeraSort
ranks staying flat, linear dedup) into measured trends: each query is
timed by bench.py's ``time_queries`` (best of 2 passes) at BOTH scales,
and the per-query ratio at 10x rows is recorded.  A ratio > 15 is a
superlinear surprise (flagged, non-zero exit) — the r3 verdict's bar.

Writes SCALEUP.json, its own file beside BENCH_FULL.json.

Usage: python scripts/bench_scale.py [N_QUERIES] [query ...]
  The low scale is $SPARK_GRAFT_SF_DIR (default sf0.1), the high one
  $SPARK_GRAFT_SF1_DIR (default /tmp/spark_graft_sf1; generate with
  scripts/make_scale_fixture.py).  With explicit query names, N_QUERIES
  (the heaviest of BENCH_FULL.json, default 10) is ignored.

Each scale's label is parsed from its directory name as bench.py parses
``sf``.  The default decade (sf0.1 -> sf1) keys rows by bare query name;
any other (point the two dirs at sf1 and an sf10 from make_scale_fixture
FACTOR=10) keys them "query@lo->hi", so decades accumulate side by side
in SCALEUP.json.
"""

from __future__ import annotations

import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from bench import SF_DIR, sf_of, time_queries  # noqa: E402

SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1")
RATIO_BAR = 15.0


def _label(sf_dir: str) -> str:
    sf = sf_of(sf_dir)
    return f"sf{sf:g}" if isinstance(sf, float) else sf


def main() -> None:
    from data_ingestion_system_spark.session import get_spark

    args = sys.argv[1:]
    if args and not args[0].isdigit():
        names = args
    else:
        n = int(args[0]) if args else 10
        with open(os.path.join(_REPO, "BENCH_FULL.json")) as f:
            full = json.load(f)["queries"]
        names = sorted(full, key=lambda k: -full[k]["sec"])[:n]
    spark = get_spark(app_name="bench_scale")

    lo_label, hi_label = _label(SF_DIR), _label(SF1_DIR)
    lo = time_queries(spark, names, SF_DIR, 2)
    hi = time_queries(spark, names, SF1_DIR, 2)
    default_decade = (lo_label, hi_label) == ("sf0.1", "sf1")
    results: dict[str, dict] = {}
    for name in names:
        row = {lo_label: lo[name]["sec"], hi_label: hi[name]["sec"]}
        row["ratio_at_10x"] = round(row[hi_label] / max(row[lo_label], 1e-9),
                                    2)
        row["superlinear"] = row["ratio_at_10x"] > RATIO_BAR
        results[name if default_decade
                else f"{name}@{lo_label}->{hi_label}"] = row
        print(f"{name}: {lo_label} {row[lo_label]}s  "
              f"{hi_label} {row[hi_label]}s  "
              f"ratio {row['ratio_at_10x']}x"
              + ("  <-- SUPERLINEAR" if row["superlinear"] else ""))

    # merge with any prior capture: later runs EXTEND the evidence
    # (re-measured queries take the new row; others are kept)
    out_path = os.path.join(_REPO, "SCALEUP.json")
    prior: dict = {}
    try:
        with open(out_path) as f:
            prior = json.load(f).get("queries", {})
    except (FileNotFoundError, json.JSONDecodeError):
        pass
    payload = {
        "method": "bench.py time_queries, best of 2 passes per scale "
                  "(build + noop-sink exec, cache cleared before each "
                  "query); sf1 fixture = 10x sf0.1 via "
                  "scripts/make_scale_fixture.py (disjoint-token docs, "
                  "per-copy embedding labels: clusters multiply, block "
                  "sizes constant)",
        "ratio_bar": RATIO_BAR,
        "loadavg_start": round(os.getloadavg()[0], 2),
        "queries": {**prior, **results},
    }
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1)
    bad = [n for n, r in results.items() if r["superlinear"]]
    print(json.dumps({"superlinear": bad,
                      "n": len(results)}))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
