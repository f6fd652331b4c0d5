#!/usr/bin/env python3
"""Per-query, per-phase measurement of catalog queries.

  python scripts/measure.py [--rounds R] [--top N] [--sf-dir DIR ...] [--plans DIR] [QUERY ...]

Runs R round-robin rounds over the named queries, plus the N slowest of
BENCH_FULL.json with ``--top`` (the whole catalog when neither is
given), and every ``--sf-dir`` (default $SPARK_GRAFT_SF_DIR), on
bench.py's session and warm-up. Every run starts cold-cache and is
split into construction, planning and execution, each under its own job
group. After each run, untimed (the status store keeps only the last
1000 jobs), it records per phase the jobs, stages, tasks, task time,
shuffle and spill bytes, and counts the executed plan's quadratic join
nodes. Prints best and median per query beside the BENCH_FULL.json
value, then one JSON line with every run.

``--plans DIR`` writes each query's optimized logical plan and initial
physical plan, read on its first run between planning and execution,
to DIR/<query>@<input dir name>.txt with expression ids (``#12``),
exchange ``plan_id=`` and lambda variable names (``lambda x_12``,
``lambda t``) masked, so two runs of one commit write the same file,
and a lambda built through Column operators matches its SQL-text
spelling. (The plan AQE settles on after execution carries stage, RDD and
node ids that follow completion order, and is not written.)
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import time
import uuid

_REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

import bench  # noqa: E402
from perfbench.trace import execute_planned, status_store  # noqa: E402
from sports_betting_data_pipeline_spark.plans import QUERIES  # noqa: E402

PHASES = ("construct", "plan", "exec")
QUADRATIC_NODES = ("CartesianProduct", "BroadcastNestedLoopJoin")
# run field -> status-store stage fields summed into it
STAGE_SUMS = {
    "tasks": ("numCompleteTasks",),
    "task_ms": ("executorRunTime",),
    "shuffle_read_bytes": ("shuffleReadBytes",),
    "shuffle_write_bytes": ("shuffleWriteBytes",),
    "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
}
RUN_IDS = re.compile(r"(#|plan_id=)\d+")
# PySpark names a Column-built lambda's variables from a process-global
# counter (x_12), SQL text keeps its own names (t)
LAMBDA_VARS = re.compile(r"\blambda [A-Za-z_]\w*")


def mask_run_ids(text: str) -> str:
    """``text`` with expression ids, exchange plan ids and lambda
    variable names masked."""
    return LAMBDA_VARS.sub("lambda _", RUN_IDS.sub(r"\1", text))


def plan_text(qe) -> str:
    """The optimized logical and the physical plan of a planned, not yet
    executed QueryExecution, run-specific ids masked."""
    return mask_run_ids(f"== Optimized Logical Plan ==\n{qe.optimizedPlan()}\n\n"
                        f"== Physical Plan ==\n{qe.executedPlan()}\n")


def run_once(spark, name: str, sf_dir: str, group: str, keep_plan: bool):
    """Construct, plan and execute one query cold-cache; return each
    phase's wall-clock window, the executed DataFrame and, with
    ``keep_plan``, its plan_text read between planning and execution."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    windows, plan = {}, None
    try:
        for phase in PHASES:
            sc.setJobGroup(f"{group}|{phase}", f"{name} {phase}")
            start = time.time()
            if phase == "construct":
                df = QUERIES[name](spark, sf_dir)
            elif phase == "plan":
                df._jdf.queryExecution().executedPlan()
            else:
                execute_planned(df)
            windows[phase] = (start, time.time())
            if phase == "plan" and keep_plan:
                plan = plan_text(df._jdf.queryExecution())
    finally:
        sc._jsc.clearJobGroup()
    return windows, df, plan


def spark_work(spark, prefix: str, group: str, windows: dict) -> dict:
    """Per phase, the Spark work of one run. A job belongs to the phase
    its job group names; a job under none of ours (a streaming query's
    batches run under its run id) to the phase it was submitted in."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    jobs, stages = status_store(spark)
    attempts: dict[int, list[dict]] = {}
    for st in stages:
        if st["status"] in ("COMPLETE", "FAILED"):
            attempts.setdefault(st["stageId"], []).append(st)
    by_phase: dict[str, list[dict]] = {p: [] for p in PHASES}
    for job in jobs:
        head, _, phase = (job.get("jobGroup") or "").rpartition("|")
        if not head.startswith(prefix):
            submitted = (job.get("submissionTime") or 0) / 1e3
            head, phase = group, next(
                (p for p, (s, e) in windows.items() if s <= submitted <= e), "")
        if head == group and phase in by_phase:
            by_phase[phase].append(job)
    work = {}
    for phase, ours in by_phase.items():
        sids = {s for j in ours for s in j["stageIds"] if s in attempts}
        ran = [a for s in sids for a in attempts[s]]
        work[phase] = {"jobs": len(ours), "stages": len(sids), **{
            k: sum(a[f] for a in ran for f in fs) for k, fs in STAGE_SUMS.items()}}
    return work


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--top", type=int, default=0,
                    help="add the N slowest queries of BENCH_FULL.json")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--sf-dir", action="append", dest="sf_dirs",
                    required="SPARK_GRAFT_SF_DIR" not in os.environ,
                    help="input dir, repeatable (default $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--plans", metavar="DIR",
                    help="write each query's plans, before its first run "
                         "executes, to DIR/<query>@<input dir name>.txt")
    args = ap.parse_args()
    unknown = [n for n in args.queries if n not in QUERIES]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    sf_dirs = args.sf_dirs or [os.environ["SPARK_GRAFT_SF_DIR"]]
    with open(os.path.join(_REPO_DIR, "BENCH_FULL.json")) as fh:
        ref = json.load(fh)
    names = list(args.queries)
    names += [n for n in sorted(ref["queries"], key=lambda n: -ref["queries"][n])
              if n not in names][:args.top]
    names = names or sorted(QUERIES)
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    spark = bench.start_session("measure")
    bench.warm_up(spark, sf_dirs[0], subsystems=True)
    prefix = f"measure:{uuid.uuid4().hex[:8]}"
    results = [{"query": n, "sf_dir": d, "runs": []} for n in names for d in sf_dirs]
    for rnd in range(args.rounds):
        for row in results:
            name, sf_dir = row["query"], row["sf_dir"]
            group = f"{prefix}|{rnd}|{name}|{sf_dir}"
            keep_plan = bool(args.plans) and rnd == 0
            windows, df, plan_txt = run_once(spark, name, sf_dir, group, keep_plan)
            plan = df._jdf.queryExecution().executedPlan().toString()
            run = {f"{p}_s": round(e - s, 4) for p, (s, e) in windows.items()}
            run.update(spark_work(spark, prefix, group, windows))
            run.update({k: plan.count(k) for k in QUADRATIC_NODES})
            row["runs"].append(run)
            print(f"round {rnd}: {name} @ {sf_dir} {json.dumps(run)}", file=sys.stderr)
            if keep_plan:
                tag = os.path.basename(os.path.normpath(sf_dir))
                with open(os.path.join(args.plans, f"{name}@{tag}.txt"), "w") as fh:
                    fh.write(plan_txt)

    cols = ("best_s", "median_s", "construct_s", "plan_s", "exec_s", "construct_jobs")
    print(f"{'query':<32} {'sf dir':<16}", *(f"{c:>14}" for c in cols), f"bench@sf{ref['sf']}")
    for row in results:
        runs = row["runs"]
        totals = [r["construct_s"] + r["plan_s"] + r["exec_s"] for r in runs]
        row.update(best_s=min(totals), median_s=statistics.median(totals),
                   construct_jobs=statistics.median_low(r["construct"]["jobs"] for r in runs),
                   **{f"{p}_s": statistics.median(r[f"{p}_s"] for r in runs) for p in PHASES})
        print(f"{row['query']:<32} {os.path.basename(row['sf_dir']):<16}",
              *(f"{row[c]:>14.4g}" for c in cols), ref["queries"].get(row["query"], "-"))

    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    print(json.dumps({"rounds": args.rounds, "sf_dirs": sf_dirs, "results": results}))


if __name__ == "__main__":
    main()
