#!/usr/bin/env python3
"""Round-12 driver-side plan-CONSTRUCTION probe.

Times QUERIES[name](spark, sf_dir) — no action — on warm calls.
Classic-mode PySpark re-analyzes the logical plan on every DataFrame
transition, so big composed builders pay quadratic driver-side
analysis; r11 measured ~22 s catalog-wide, harvested only pl02/l22.
This probe reproduces the per-query table so r12 can harvest the next
tier (VERDICT r11 next-#2).

Usage:
  python scripts/construct_probe.py                 # full catalog
  python scripts/construct_probe.py geo02_... pl03_...
  python scripts/construct_probe.py --profile geo02_...   # cProfile one
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from sports_betting_data_pipeline_spark.plans import QUERIES  # noqa: E402
from sports_betting_data_pipeline_spark.session import get_spark  # noqa: E402

# Builders that RUN Spark jobs during construction (driver loops /
# eager checkpoints): their construct time includes execution, so the
# plain warm-construct number is not comparable. Kept out of the
# default sweep, listed explicitly when named.
LOOPY = {
    "g01_pagerank", "g02_bfs_reachability", "sql04_recursive_reachability",
    "l22_neardup_clusters_lsh", "l21_dedup_clusters", "l55_cc_components",
    "l23_pq_kmeans", "pl02_corpus_assembly",
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--profile", action="store_true")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--label", default="construct")
    args = ap.parse_args()

    spark = get_spark(app_name="construct_probe", master="local[4]",
                      shuffle_partitions=4)
    spark.range(1).count()

    names = args.names or [n for n in sorted(QUERIES) if n not in LOOPY]
    # one cold pass to warm py4j / fixture table cache / memos; a builder
    # that raises here is skipped, not re-raised by the timing loop
    failed = set()
    for n in names:
        try:
            QUERIES[n](spark, args.sf_dir)
        except Exception as e:  # noqa: BLE001
            print(f"SKIP {n}: {e}", file=sys.stderr)
            failed.add(n)
    names = [n for n in names if n not in failed]

    timings: dict[str, float] = {}
    for n in names:
        best = None
        for _ in range(args.runs):
            t0 = time.perf_counter()
            QUERIES[n](spark, args.sf_dir)
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[n] = round(best, 4)

    for n, v in sorted(timings.items(), key=lambda kv: -kv[1]):
        print(f"{v:8.4f}  {n}")
    total = round(sum(timings.values()), 4)
    print(json.dumps({"label": args.label, "n": len(timings),
                      "total_construct_s": total}))
    with open(f"/tmp/construct_{args.label}.json", "w") as fh:
        json.dump({"label": args.label, "timings": timings,
                   "total": total}, fh, indent=1)

    if args.profile and args.names:
        import cProfile
        import pstats
        pr = cProfile.Profile()
        pr.enable()
        for n in args.names:
            QUERIES[n](spark, args.sf_dir)
        pr.disable()
        pstats.Stats(pr).sort_stats("cumulative").print_stats(40)

    try:
        spark.sparkContext.setLogLevel("OFF")
        spark.stop()
    except Exception:
        pass
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
