"""bench.py's harness contract with the external driver.

The driver keeps the stdout TAIL of a bench run and parses the last
line as the metric JSON. Round 10 produced ``BENCH_r10.json
parsed: null`` because a StateStore-maintenance shutdown race dumped a
stack trace AFTER the compact metric line (VERDICT r10 next-#1). The
fix is ordering — silence log4j and ``spark.stop()`` BEFORE printing —
and these tests pin it three ways: a pure-source ordering check, unit
tests on the extracted helpers, and a real subprocess smoke at sf0.001
that asserts the LAST stdout line json-parses.
"""

from __future__ import annotations

import importlib.util
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_BENCH = os.path.join(_REPO, "bench.py")


def _load_bench():
    spec = importlib.util.spec_from_file_location("bench_under_test", _BENCH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


bench = _load_bench()


# ---------------------------------------------------------------- ambient


def test_ambient_median_and_weighted_agree_when_uniform():
    prev = {"sf": 0.1, "value": 10.0,
            "queries": {f"q{i}": 1.0 for i in range(20)}}
    timings = {f"q{i}": 1.2 for i in range(20)}
    amb = bench.compute_ambient(prev, timings, 0.1)
    assert amb["ambient_factor"] == pytest.approx(1.2)
    assert amb["ambient_factor_weighted"] == pytest.approx(1.2)
    assert amb["ambient_n"] == 20
    assert amb["ambient_ref_total"] == 10.0


def test_ambient_weighted_tracks_tail_drag_median_misses():
    """SCALE.md r10 attempt-7: under load the LONG queries slow down
    disproportionately; the per-query median (dominated by the many
    short queries) under-corrects the total. The duration-weighted
    estimator must sit well above the median in that regime."""
    prev_q = {f"s{i}": 0.1 for i in range(20)}   # short queries
    prev_q.update({f"L{i}": 5.0 for i in range(4)})  # long queries
    prev = {"sf": 0.1, "value": sum(prev_q.values()), "queries": prev_q}
    timings = {k: v * (1.1 if k.startswith("s") else 2.0)
               for k, v in prev_q.items()}
    amb = bench.compute_ambient(prev, timings, 0.1)
    assert amb["ambient_factor"] == pytest.approx(1.1, abs=0.01)
    # true total ratio = (20*0.11 + 4*10.0) / 22.0 ≈ 1.92; the trimmed
    # weighted estimator must land near it, not near the median
    assert amb["ambient_factor_weighted"] > 1.6


def test_ambient_weighted_trims_outlier_ratios():
    """A query the round genuinely changed (say a 30× regression-fix)
    must not poison the weighted ambient: with n>=10 the single
    highest- and lowest-ratio queries are trimmed before the sums."""
    prev_q = {f"q{i}": 1.0 for i in range(12)}
    prev = {"sf": 0.1, "value": 12.0, "queries": prev_q}
    timings = {k: 1.0 for k in prev_q}
    timings["q0"] = 30.0   # touched query, not ambient
    timings["q1"] = 0.01   # touched query, not ambient
    amb = bench.compute_ambient(prev, timings, 0.1)
    assert amb["ambient_factor_weighted"] == pytest.approx(1.0, abs=0.01)


def test_ambient_refuses_cross_sf_reference():
    prev = {"sf": 1.0, "value": 10.0, "queries": {"q0": 1.0}}
    assert bench.compute_ambient(prev, {"q0": 2.0}, 0.1) == {}
    assert bench.compute_ambient(None, {"q0": 2.0}, 0.1) == {}
    assert bench.compute_ambient({"sf": 0.1, "queries": {}}, {"q0": 2.0}, 0.1) == {}


# ------------------------------------------------------------- out path


def test_out_path_explicit_env_always_wins():
    assert bench.resolve_out_path("BENCH_SF1.json", False, 1.9) == (
        "BENCH_SF1.json", False)
    assert bench.resolve_out_path("BENCH_SF1.json", True, None) == (
        "BENCH_SF1.json", False)


def test_out_path_filtered_run_never_touches_reference():
    assert bench.resolve_out_path(None, True, 1.0) == (
        "BENCH_FULL_partial.json", False)


def test_out_path_loaded_window_redirects():
    name, redirected = bench.resolve_out_path(None, False, 1.4692)
    assert name == "BENCH_FULL_loaded.json" and redirected
    # exactly at the threshold is NOT loaded
    assert bench.resolve_out_path(None, False, bench.LOADED_AMBIENT_THRESHOLD) == (
        "BENCH_FULL.json", False)
    # quiet window and no-reference (first run) write the reference
    assert bench.resolve_out_path(None, False, 0.95) == ("BENCH_FULL.json", False)
    assert bench.resolve_out_path(None, False, None) == ("BENCH_FULL.json", False)


# ------------------------------------------------------- source ordering


def test_bench_source_stops_spark_before_metric_print():
    """The r10 parse defect class, pinned at the source level: the
    spark.stop() call (and the log4j silencing) must precede the
    payload/compact prints, so shutdown noise cannot land after the
    metric line."""
    src = open(_BENCH).read()
    stop_at = src.index("spark.stop()")
    loglevel_at = src.index('setLogLevel("OFF")')
    print_at = src.index("print(payload)")
    assert loglevel_at < stop_at < print_at, (
        "bench.py must silence log4j and stop Spark BEFORE printing the "
        "metric lines (VERDICT r10 next-#1)")
    # and the FULL payload must be last — the driver parses the final
    # stdout line and needs the per-query table (VERDICT r11 next-#1)
    assert src.index("n_queries") < print_at


# ------------------------------------------------------ subprocess smoke


def test_bench_smoke_last_stdout_line_parses(tmp_path):
    """Run the real bench.py end-to-end at sf0.001 on a 3-query filter
    and assert what the driver asserts: rc==0 and the LAST stdout line
    is the compact metric JSON. This is the CI pin for BENCH_r10's
    `parsed: null` defect — it boots a real JVM, drives real queries,
    and exercises the exact shutdown path that raced in r10."""
    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("sf0.001 fixture not present")
    out_name = "bench_smoke_artifact.json"
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_BENCH_RUNS="1",
        SPARK_GRAFT_BENCH_QUERIES=(
            "q01_pricing_summary,f01_whitelist_filter,a01_global_counts"
        ),
        SPARK_GRAFT_BENCH_OUT=out_name,
    )
    proc = subprocess.run(
        [sys.executable, _BENCH],
        capture_output=True, text=True, timeout=600, env=env,
    )
    artifact = os.path.join(_REPO, out_name)
    try:
        assert proc.returncode == 0, proc.stderr[-2000:]
        lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
        assert lines, "bench.py printed nothing to stdout"
        # the driver's parse, verbatim: the LAST line must be the FULL
        # payload including the per-query table (VERDICT r11 next-#1)
        full = json.loads(lines[-1])
        assert full["metric"] == "total_query_seconds"
        assert full["value"] > 0 and full["sf"] == 0.001
        # the compact human-readable line (second-to-last) parses too
        compact = json.loads(lines[-2])
        assert compact["n_queries"] == 3
        assert set(full["queries"]) == {
            "q01_pricing_summary", "f01_whitelist_filter",
            "a01_global_counts"}
        on_disk = json.loads(open(artifact).read())
        assert on_disk == full
    finally:
        if os.path.exists(artifact):
            os.remove(artifact)


def test_bench_rejects_unknown_query_filter(tmp_path):
    env = dict(
        os.environ,
        SPARK_GRAFT_BENCH_QUERIES="definitely_not_a_query",
        SPARK_GRAFT_BENCH_OUT=str(tmp_path / "never.json"),
    )
    proc = subprocess.run(
        [sys.executable, _BENCH],
        capture_output=True, text=True, timeout=120, env=env,
    )
    assert proc.returncode != 0
    assert "unknown bench queries" in proc.stderr


def test_verify_driver_rejects_unmatched_query_filter():
    """A misspelt filter must fail the run, not shrink it silently:
    l22_neardup_clusters_lsh is not a catalog name (the query is
    l22_lsh_dedup_clusters) and used to leave only l12 checked."""
    proc = subprocess.run(
        [sys.executable, os.path.join(_REPO, "scripts", "verify_driver.py"),
         "l22_neardup_clusters_lsh", "l12_embedding_neardup"],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert "['l22_neardup_clusters_lsh']" in proc.stdout
    assert proc.stdout.strip().endswith("RESULT: FAIL")


def test_verify_driver_engine_path_checks_the_given_copy(tmp_path, sf_dir):
    """VERIFY_ENGINE_PATH resolves the engine from another location (an
    installed wheel's site-packages): the run must report and check
    that copy, not the source tree."""
    pkg = "sports_betting_data_pipeline_spark"
    shutil.copytree(
        os.path.join(_REPO, pkg), tmp_path / pkg,
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    env = dict(os.environ, VERIFY_ENGINE_PATH=str(tmp_path), VERIFY_SF_DIR=sf_dir)
    proc = subprocess.run(
        [sys.executable, os.path.join(_REPO, "scripts", "verify_driver.py"),
         "q01_pricing_summary"],
        capture_output=True, text=True, timeout=600, env=env, cwd=tmp_path,
    )
    assert f"ENGINE: {tmp_path / pkg / '__init__.py'}" in proc.stdout, proc.stdout
    assert "q01_pricing_summary: MATCH" in proc.stdout, proc.stdout
    assert proc.stdout.strip().endswith("RESULT: PASS"), proc.stdout
