#!/usr/bin/env python3
"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query is forced end-to-end with the noop sink (computes every
row/column, no driver-side collect), which is the honest measure of
operator throughput.

Env knobs:
  SPARK_GRAFT_SF_DIR        input dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS          local[] threads (default 32)
  SPARK_GRAFT_BENCH_RUNS    best-of-N per query (default 2)
  SPARK_GRAFT_BENCH_QUERIES comma-separated subset of catalog names —
                            a filtered run writes BENCH_FULL_partial.json
                            (never the full reference artifact) and
                            skips the subsystem warmups; this is the
                            cheap path the CI smoke uses.
  SPARK_GRAFT_BENCH_OUT     explicit artifact filename (overrides all
                            redirect logic — used for the sf1 catalog
                            bench so it never clobbers the sf0.1
                            quiet-window artifact).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from sports_betting_data_pipeline_spark.plans import QUERIES  # noqa: E402
from sports_betting_data_pipeline_spark.session import get_spark  # noqa: E402


def _consume(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def start_session(app_name: str):
    """local[$SPARK_GRAFT_CPUS] (default 32), as many shuffle partitions."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return get_spark(
        app_name=app_name,
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) if cpus.isdigit() else 32,
    )


def warm_up(spark, sf_dir: str, subsystems: bool) -> None:
    """Warm up the JVM/codegen before timing. One batch query is not
    enough: r3's driver bench charged ~5 s of first-use cost to
    whichever query first touched a cold subsystem (st05 5.61 s driver
    vs ~1.1 s warm — from_json/base64 codegen; VERDICT r3 next-#4).
    ``subsystems`` exercises each expensive one on tiny inputs:
      - flagship batch query (scans, hash aggregate, codegen)
      - JSON/base64 expression stack (st05's shape)
      - Arrow/Python worker fork (Pandas UDF paths)
      - streaming engine + state store (availableNow drain)
    A filtered bench run (CI smoke) skips them — it is a parse-path
    check, not a timing measurement.
    """
    warm_sf = "/root/testdata/sf0.001"
    warmup_dir = warm_sf if os.path.isdir(warm_sf) else sf_dir
    spark.range(1).count()
    if not subsystems:
        return
    _consume(QUERIES["q01_pricing_summary"](spark, sf_dir))
    for warm_name in (
        "st05_pusher_decode",   # to_json/base64/from_json codegen
        "m01_multimodal_features",  # Arrow + Python worker startup
        "st01_tumbling_window",  # streaming engine + state store
    ):
        if warm_name in QUERIES:
            try:
                _consume(QUERIES[warm_name](spark, warmup_dir))
            except Exception:
                pass  # warmup must never fail the bench


# The two documented O(N²) certification audit twins (SCALE.md's sf1
# adjudication table): each certifies a bucketed production path (l42 →
# l43's IVF ANN, l21 → l22's banded LSH CC) and carries a small-cohort
# contract in its docstring. production_total excludes them (VERDICT r9
# next-#4); tests/test_plans.py pins this set against the catalog.
AUDIT_TWINS = frozenset({"l42_bitext_mining", "l21_dedup_clusters"})

# A self-reported ambient above this is a loaded window: the run still
# produces a full artifact, but it must not become the quiet reference
# that every future ambient self-report is computed against (VERDICT
# r10 next-#3 — loaded driver runs clobbered the quiet artifact three
# rounds running).
LOADED_AMBIENT_THRESHOLD = 1.15


def compute_ambient(prev: dict | None, timings: dict[str, float], sf) -> dict:
    """Self-normalizing ambient factors vs a previous artifact.

    Emits two estimators (VERDICT r10 next-#5):

    - ``ambient_factor``: per-query MEDIAN ratio — robust to the
      handful of queries a round actually changes; use it for
      per-query regression flags.
    - ``ambient_factor_weighted``: trimmed duration-weighted ratio
      (sum of current seconds / sum of previous seconds over the
      shared queries, after dropping the k highest- and k lowest-ratio
      queries, k = max(1, n//20) once n >= 10). Long queries dominate
      the sums, so this tracks the tail drag the median under-corrects
      in loaded windows (SCALE.md's r10 attempt-7 observation: median
      normalization read 133.7 s vs a ~120 s true total). Use it for
      normalized TOTALS.

    An artifact from a different SF is not an ambient reference.
    """
    if not prev or prev.get("sf") != sf:
        return {}
    prev_q = prev.get("queries") or {}
    pairs = sorted(
        ((timings[q], prev_q[q]) for q in timings
         if q in prev_q and prev_q[q] > 0),
        key=lambda p: p[0] / p[1],
    )
    if not pairs:
        return {}
    ratios = [c / p for c, p in pairs]
    mid = len(ratios) // 2
    med = (
        ratios[mid]
        if len(ratios) % 2
        else (ratios[mid - 1] + ratios[mid]) / 2
    )
    out = {
        "ambient_factor": round(med, 4),
        "ambient_ref_total": prev.get("value"),
        "ambient_n": len(ratios),
    }
    k = max(1, len(pairs) // 20) if len(pairs) >= 10 else 0
    core = pairs[k: len(pairs) - k] if k else pairs
    prev_sum = sum(p for _, p in core)
    if prev_sum > 0:
        out["ambient_factor_weighted"] = round(
            sum(c for c, _ in core) / prev_sum, 4
        )
    return out


def resolve_out_path(
    env_out: str | None, filtered: bool, ambient_factor: float | None
) -> tuple[str, bool]:
    """Decide where the artifact goes; returns (filename, redirected).

    - explicit $SPARK_GRAFT_BENCH_OUT always wins (sf1 runs, smokes);
    - a filtered (partial-catalog) run never touches the reference —
      its table would shrink the ambient sample for every later run;
    - a full run whose self-reported ambient exceeds
      LOADED_AMBIENT_THRESHOLD is written to BENCH_FULL_loaded.json so
      the quiet reference stays calibrated (redirected=True).
    """
    if env_out:
        return env_out, False
    if filtered:
        return "BENCH_FULL_partial.json", False
    if ambient_factor is not None and ambient_factor > LOADED_AMBIENT_THRESHOLD:
        return "BENCH_FULL_loaded.json", True
    return "BENCH_FULL.json", False


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    match = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(match.group(1)) if match else None

    selected = sorted(QUERIES)
    query_filter = os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "").strip()
    if query_filter:
        want = {w.strip() for w in query_filter.split(",") if w.strip()}
        unknown = want - set(selected)
        if unknown:
            raise SystemExit(f"unknown bench queries: {sorted(unknown)}")
        selected = [n for n in selected if n in want]

    spark = start_session("bench")
    warm_up(spark, sf_dir, subsystems=not query_filter)

    # Best-of-N per query (default 2): single-shot numbers on a shared
    # box fold GC pauses and first-use warmup (state stores, Python
    # workers) into whichever query hits them; the min is the honest
    # operator cost.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    timings: dict[str, float] = {}
    for name in selected:
        best = None
        for _ in range(runs):
            # Clear BEFORE each timed run, not once per query: many
            # plans .cache() intermediates (MinHash base, SemDeDup
            # assignment, CC edges, ...), so a per-query clear would
            # let run 2 replay run 1's InMemoryRelation and min-of-N
            # would report a warm-cache replay instead of the operator
            # cost (ADVICE r5). Clearing here keeps every timed run
            # cold-cache and still stops storage memory accumulating
            # across the catalog sweep (ADVICE r4).
            spark.catalog.clearCache()
            start = time.perf_counter()
            _consume(QUERIES[name](spark, sf_dir))
            elapsed = time.perf_counter() - start
            best = elapsed if best is None else min(best, elapsed)
        timings[name] = round(best, 4)

    total = round(sum(timings.values()), 4)
    # production_total: the headline minus the documented audit twins
    # (see AUDIT_TWINS above) — at sf1 they are 26% of the total for
    # queries a user would never run at scale; both stay in `queries`.
    production_total = round(
        sum(v for k, v in timings.items() if k not in AUDIT_TWINS), 4
    )
    # Self-normalizing artifact (VERDICT r6 #5): cross-run comparisons
    # on a shared box are confounded by ambient load (measured
    # ×1.0-1.9 within a day). The ambient reference is ALWAYS the
    # quiet artifact (or the explicit $SPARK_GRAFT_BENCH_OUT target);
    # the write target may be redirected — see resolve_out_path.
    env_out = os.environ.get("SPARK_GRAFT_BENCH_OUT") or None
    ref_path = os.path.join(_REPO_DIR, env_out or "BENCH_FULL.json")
    prev = None
    try:
        with open(ref_path) as fh:
            prev = json.loads(fh.read())
    except (OSError, ValueError):
        pass
    ambient = compute_ambient(prev, timings, sf)

    out_name, redirected = resolve_out_path(
        env_out, bool(query_filter), ambient.get("ambient_factor")
    )
    out_path = os.path.join(_REPO_DIR, out_name)
    payload_dict = {
        "metric": "total_query_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "production_total": production_total,
        "audit_twin_seconds": round(total - production_total, 4),
        **ambient,
    }
    if redirected:
        payload_dict["loaded_redirect"] = True
    payload = json.dumps(payload_dict)
    # Persist the full per-query table too: stdout capture can truncate
    # the (long) JSON line, losing the timing breakdown.
    try:
        with open(out_path, "w") as fh:
            fh.write(payload + "\n")
    except OSError:
        pass

    # Stop the JVM BEFORE printing the metric lines. r10's driver bench
    # produced `parsed: null` because a StateStore-maintenance shutdown
    # race (RpcEnvStoppedException → "Could not unload state store
    # provider" stack trace) fired at interpreter-exit teardown and
    # landed in the stdout tail AFTER the compact line, defeating the
    # print-last defense (VERDICT r10 next-#1). Silencing log4j and
    # stopping Spark synchronously here guarantees every byte of JVM
    # shutdown noise precedes the metric lines, so the tail always ends
    # with parseable JSON (pinned by tests/test_cli.py's bench smoke).
    try:
        spark.sparkContext.setLogLevel("OFF")
    except Exception:
        pass
    try:
        spark.stop()
    except Exception:
        pass

    # Compact line first, FULL payload (with the per-query table) LAST:
    # the driver parses the final stdout line, so printing the compact
    # line last (r4–r11 behaviour) starved PERF_rXX.json of per-query
    # ground truth two rounds running (`per_query: {}`, `n_common: 0`)
    # — VERDICT r11 next-#1 mandates the full payload as the last line.
    # The r3 failure that motivated compact-last (a 2000-char tail
    # snippet truncating the long line) is covered by the artifact file
    # written above, which always persists the full table; the compact
    # line stays as the second-to-last stdout line as a human-readable
    # summary.
    print(
        json.dumps(
            {
                "metric": "total_query_seconds",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "sf": sf,
                "production_total": production_total,
            }
        )
    )
    print(payload)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
