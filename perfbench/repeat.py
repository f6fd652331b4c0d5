#!/usr/bin/env python3
"""Run the benchmark over several seeds and report the spread.

    python3 perfbench/repeat.py --workload llm_dedup --seeds 1-10 --seconds 20

Each seed is one ``perfbench/run.py`` process, run one after another;
its output goes to ``.perfbench_work/repeat-logs/``.
For every metric it prints the median, the quartiles and the spread
(interquartile distance as a share of the median, as
``statistics.quantiles(values, n=4)`` gives them), then one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
LOG_DIR = os.path.join(os.path.dirname(HERE), ".perfbench_work", "repeat-logs")


def seeds_of(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="20")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    walls, failed = [], 0
    for seed in seeds_of(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True, timeout=900, check=False,
        )
        walls.append(time.perf_counter() - t0)
        os.makedirs(LOG_DIR, exist_ok=True)
        with open(os.path.join(LOG_DIR, f"{args.workload}-s{seed}.log"), "w") as fh:
            fh.write(proc.stdout + proc.stderr)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", flush=True)
            failed += 1
            continue
        result = json.loads(lines[-1])
        failed += not result["correct"]
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s wall, correct={result['correct']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()),
              flush=True)

    summary = {}
    for name, vals in values.items():
        med = statistics.median(vals)
        if len(vals) >= 2:
            q1, _, q3 = statistics.quantiles(vals, n=4)
        else:
            q1 = q3 = med
        summary[name] = {
            "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(vals),
        }
        print(f"{name:28s} median {med:12.5g}  q1 {q1:12.5g}  q3 {q3:12.5g}  "
              f"spread {summary[name]['spread']:.3f}")
    print(f"wall per run: median {statistics.median(walls):.1f} s, total {sum(walls):.0f} s")
    print(json.dumps({"workload": args.workload, "seeds": args.seeds, "failed_runs": failed,
                      "wall_s": walls, "metrics": summary}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
