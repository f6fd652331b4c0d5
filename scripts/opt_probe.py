#!/usr/bin/env python3
"""Round-11 optimization probe: capture plans and time queries.

Usage:
  python scripts/opt_probe.py --label before --top 30
  python scripts/opt_probe.py --label after q01_pricing_summary l12_embedding_neardup
  python scripts/ab_regressions.py q1 q2   # interleaved A/B (a separate script)

For each selected query this writes plans/r12/<name>_<label>.txt with
the .explain("formatted") output and times the query with the noop sink
(best-of-N, cold cache per run — same methodology as bench.py). The
timing table goes to /tmp/probe_<label>.json and stdout.

The box is a shared host with measured ambient x1.0-2.0, so absolute
numbers across windows are NOT comparable; comparisons should be
interleaved in one invocation (run this once per candidate set, or use
bench.py's ambient normalization for full-catalog statements).
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

_REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from sports_betting_data_pipeline_spark.plans import QUERIES  # noqa: E402
from sports_betting_data_pipeline_spark.session import get_spark  # noqa: E402

PLANS_DIR = os.path.join(_REPO_DIR, "plans", "r12")


def _consume(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--label", default="probe")
    ap.add_argument("--top", type=int, default=0,
                    help="add the N slowest queries from BENCH_FULL.json")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--no-plans", action="store_true",
                    help="timing only; do not write plan files")
    ap.add_argument("--eventlog", default="",
                    help="directory for Spark event logs (job/stage counts)")
    args = ap.parse_args()

    selected = list(args.names)
    if args.top:
        with open(os.path.join(_REPO_DIR, "BENCH_FULL.json")) as fh:
            ref = json.load(fh)["queries"]
        # count actual top-N ADDITIONS, not list length: an explicitly
        # named query inside the top-N slice must not eat the budget
        # (ADVICE r11 #4)
        added = 0
        for name, _ in sorted(ref.items(), key=lambda kv: -kv[1]):
            if name not in selected:
                selected.append(name)
                added += 1
            if added >= args.top:
                break
    unknown = [n for n in selected if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    os.makedirs(PLANS_DIR, exist_ok=True)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    extra = {}
    if args.eventlog:
        os.makedirs(args.eventlog, exist_ok=True)
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": f"file:{args.eventlog}"}
    spark = get_spark(app_name=f"opt_probe_{args.label}",
                      master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus) if cpus.isdigit() else 32,
                      extra_conf=extra)
    # warm up codegen/Arrow/streaming the way bench.py does
    spark.range(1).count()
    warm = "/root/testdata/sf0.001"
    warm = warm if os.path.isdir(warm) else args.sf_dir
    for wname in ("q01_pricing_summary", "st05_pusher_decode",
                  "m01_multimodal_features", "st01_tumbling_window"):
        if wname in QUERIES:
            try:
                _consume(QUERIES[wname](spark, warm))
            except Exception:
                pass

    timings: dict[str, float] = {}
    for name in selected:
        spark.sparkContext.setJobDescription(f"probe:{name}")
        if not args.no_plans:
            df = QUERIES[name](spark, args.sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(PLANS_DIR, f"{name}_{args.label}.txt")
            with open(path, "w") as fh:
                fh.write(buf.getvalue())
        best = None
        for _ in range(args.runs):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            _consume(QUERIES[name](spark, args.sf_dir))
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        if best is not None:
            timings[name] = round(best, 4)
            print(f"{timings[name]:8.3f}  {name}", flush=True)
        else:
            print(f"   plan   {name}", flush=True)
        spark.sparkContext.setJobDescription(None)

    out = {"label": args.label, "sf_dir": args.sf_dir,
           "runs": args.runs, "timings": timings,
           "total": round(sum(timings.values()), 4)}
    with open(f"/tmp/probe_{args.label}.json", "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "timings"}))
    try:
        spark.sparkContext.setLogLevel("OFF")
        spark.stop()
    except Exception:
        pass
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
