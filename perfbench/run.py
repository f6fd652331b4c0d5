#!/usr/bin/env python3
"""The engine's benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload llm_dedup --seed 7 --seconds 30 --trace 0

Run from the root of a checkout. One caller drives one session on
``local[<cores>]`` in a closed loop, as bench.py and the tests do:

1. set-up, seven times (median reported as ``setup_s``): start the
   session, derive the seeded inputs, warm the JVM up;
2. passes over the operation list until ``--seconds`` is spent (at
   least as many as the workload asks, ``passes``; another only if it
   is expected to fit). Each operation first runs once untimed, its
   output compared with its oracle, which also warms it up; sheet_sync
   checks only its first two ticks that way. Each pass times each
   operation once: the first right after its check, the later ones
   staggered among the checks of the operations after it
   (:func:`perfbench.stats.staggered`), so the timed runs spread over
   the run instead of bunching up at its end. An operation's latency is
   its best run over the passes (bench.py's best-of-N rule) and
   ``pass_s`` is the sum of those;
3. every timed sheet_sync tick is checked afterwards, untimed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` installs the
layer wrappers, times each operation untraced, traced, untraced, and
prints the per-layer metrics of the traced runs plus the tracing
overhead (traced minus the best of the two untraced runs). The last
stdout line is one JSON object: correct, attempted, failed, metrics.
The exit status is 1 when any operation raised or gave a wrong output.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "sports_betting_data_pipeline_spark"
SETUP_REPS = 7
WORK_DIR = os.path.join(ROOT, ".perfbench_work")


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (the JVM and the Python workers), sampled from /proc. Each process
    counts its proportional set size, so pages that forked Python
    workers share with their daemon are counted once."""

    def __init__(self, interval: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_event = threading.Event()

    @staticmethod
    def _tree_pss() -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                continue
        return total

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak = max(self.peak, self._tree_pss())
            self._stop_event.wait(self.interval)

    def stop(self) -> float:
        self._stop_event.set()
        self.join(timeout=10)
        return self.peak / 2**20


def start_session(cores: int, work: str, trace: bool):
    from sports_betting_data_pipeline_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        conf["spark.ui.retainedJobs"] = "1000000"
        conf["spark.ui.retainedStages"] = "1000000"
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Tally:
    """Operations attempted and failed (raised or wrong output)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: dict[str, str] = {}

    def add(self, name: str, reason: str | None, attempted: int = 1) -> None:
        self.attempted += attempted
        if reason:
            self.failed += 1
            self.reasons.setdefault(name, reason)


def run_pass(ctx, ops, kinds: tuple[bool, ...], label: str, tally: Tally, check: bool,
             passes: int = 1):
    """``passes`` passes over the operations, staggered (see
    :func:`perfbench.stats.staggered`). Each operation first gets its
    untimed check (with ``check``, where the workload asks for it), then
    per pass one timed run per entry of ``kinds`` (True = traced).

    Returns (untraced latencies per op, traced latencies, handles of
    the timed runs to verify)."""
    from perfbench.stats import staggered

    untraced, traced, handles = [[] for _ in ops], [], []
    for i, p in staggered(len(ops), passes):
        op = ops[i]
        if p == 0 and check and op.check_first:
            t0 = time.perf_counter()
            try:
                reason = op.check(ctx)
            except Exception:  # noqa: BLE001 - a failing operation is counted, not fatal
                reason = "raised " + traceback.format_exc(limit=3)
            tally.add(op.name, reason)
            log(f"  checked {op.name}: {time.perf_counter() - t0:.2f} s {reason or 'ok'}")
        for k, is_traced in enumerate(kinds):
            op_id = f"{label}+{p}.{k}:{op.name}"
            op.reset(ctx)
            if ctx.tracer is not None:
                ctx.tracer.op, ctx.tracer.enabled = op_id, is_traced
            t0 = time.perf_counter()
            try:
                handle = op.run(ctx, op_id)
            except Exception:  # noqa: BLE001 - a failing operation is counted, not fatal
                handle, reason = None, "raised " + traceback.format_exc(limit=3)
            else:
                # a run with no handle to verify later repeats its check's verdict
                reason = tally.reasons.get(op.name) if handle is None else None
            finally:
                if ctx.tracer is not None:
                    ctx.tracer.enabled = False
            dt = time.perf_counter() - t0
            tally.add(op.name, reason)
            if is_traced:
                traced.append(dt)
            else:
                untraced[i].append(dt)
            if handle is not None:
                handles.append((op, handle))
    return untraced, traced, handles


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"engine package {PKG}/ not found next to perfbench/", file=sys.stderr)
        return 2
    os.chdir(ROOT)  # launch the engine from the repo root, as bench.py does
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    work = os.path.join(WORK_DIR, f"{args.workload}-s{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    from perfbench import stats, trace

    tracer = None
    if args.trace:
        tracer = trace.Tracer()
        trace.install(tracer)
    from perfbench.workloads import WORKLOADS, Context, collect_garbage

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {list(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    cores = len(os.sched_getaffinity(0))

    setups, spark = [], None
    try:
        for _ in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
                # the stopped session's garbage is not the next set-up's cost
                collect_garbage()
            t0 = time.perf_counter()
            spark = start_session(cores, work, bool(args.trace))
            sizes, ops = wl.prepare(args.seed, os.path.join(work, f"{args.workload}_s{args.seed}"))
            spark.range(1).count()
            setups.append(time.perf_counter() - t0)
            log(f"set-up {len(setups)}: {setups[-1]:.2f} s")
        ctx = Context(spark, work, tracer)
        listener = None
        if tracer is not None:
            listener = trace.stream_listener()
            spark.streams.addListener(listener)

        # -- passes: untimed checks, then timed runs ------------------------
        # A traced run times each operation untraced, traced, untraced.
        kinds = (False, True, False) if tracer is not None else (False,)
        tally = Tally()
        rss = RssSampler()
        rss.start()
        runs, traced_lat, handles = [[] for _ in ops], [], []
        n_passes = 0
        t_start = time.perf_counter()
        while True:
            # the first call makes the workload's staggered passes; any
            # later one (while --seconds allows) one more pass
            k = 1 if tracer is not None or n_passes else wl.passes
            t_pass = time.perf_counter()
            untraced, tr, hs = run_pass(
                ctx, ops, kinds, f"p{n_passes}", tally, check=not n_passes, passes=k
            )
            for r, u in zip(runs, untraced):
                r.extend(u)
            traced_lat.append(tr)
            handles.extend(hs)
            n_passes += k
            now = time.perf_counter()
            log(f"passes {n_passes - k + 1}-{n_passes} (wall {now - t_pass:.2f} s): "
                + " ".join(f"{op.name}=" + "/".join(f"{x:.2f}" for x in u)
                           for op, u in zip(ops, untraced)))
            if tracer is not None or now - t_start + (now - t_pass) / k > args.seconds:
                break
        peak_rss_mb = rss.stop()

        # -- output check of the timed runs (untimed) ------------------------
        for op, handle in handles:
            reason = op.verify(ctx, handle)
            tally.add(op.name, reason, attempted=0)

        # an operation's latency is its best run over the passes, as
        # bench.py times a query: with two passes a median is their mean,
        # which a burst of host load during one run moves by half
        latencies = [min(r) for r in runs]
        pass_s = sum(latencies)
        rows_per_pass = sum(op.rows for op in ops)
        tail_s, tail_pct = stats.tail(latencies)
        e2e = {
            "setup_s": (statistics.median(setups), "s"),
            "pass_s": (pass_s, "s"),
            "rows_per_s": (rows_per_pass / pass_s, "rows/s"),
            "op_p50_s": (statistics.median(latencies), "s"),
            "op_tail_s": (tail_s, "s"),
            "failed_frac": (stats.failed_frac(tally.failed, tally.attempted), "frac"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }

        print(f"workload {args.workload} seed {args.seed}: closed loop, 1 caller, "
              f"local[{cores}], {n_passes} pass(es) of {len(ops)} operations")
        print("inputs " + " ".join(f"{k}={v}" for k, v in sizes.items()))
        for name, (value, unit) in e2e.items():
            print(f"metric {name} = {value:.6g} {unit}")
        print(f"  setup_s: median of {SETUP_REPS} set-ups {[round(s, 3) for s in setups]}")
        print(f"  op_tail_s: p{tail_pct:.1f} over {len(latencies)} samples")
        print(f"  rows_per_s: {rows_per_pass} input rows per pass")
        print(f"  failed_frac: {tally.failed} of {tally.attempted} operations")
        for name, reason in tally.reasons.items():
            print(f"FAILED {name}: {reason}")

        if tracer is None:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()
                       if k != "failed_frac"}
        else:
            time.sleep(1.0)  # let the listener bus deliver the last progress events
            jobs, stages = trace.status_store(spark)
            layer = trace.summarize(
                tracer, ctx.phases, jobs, stages, list(listener.progress),
                cores=cores, group_prefix=ctx.group_prefix,
            )
            layer["trace.pass_s"] = statistics.median(sum(t) for t in traced_lat)
            layer["trace.overhead_s"] = layer["trace.pass_s"] - pass_s
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layer.items()}
            for k, v in layer.items():
                print(f"layer {k} = {v:.6g} {unit_of(k)}")
    finally:
        if spark is not None:
            shutdown(spark)

    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }))
    return 1 if tally.failed else 0


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def unit_of(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("bytes"):
        return "bytes"
    if metric.endswith("_frac"):
        return "frac"
    if metric.endswith("parts_per_task"):
        return "parts/task"
    return "count"


def shutdown(spark) -> None:
    """Stop Spark, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
