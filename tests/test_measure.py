"""scripts/measure.py end to end: the last stdout line is its JSON
result, and construction jobs are counted per query."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_MEASURE = os.path.join(_REPO, "scripts", "measure.py")


def test_measure_smoke_phase_split_and_construction_jobs(sf_dir, tmp_path):
    if not os.path.isdir(sf_dir):
        pytest.skip("test fixture not present")
    proc = subprocess.run(
        [sys.executable, _MEASURE, "--rounds", "1", "--sf-dir", sf_dir,
         "--plans", str(tmp_path), "q01_pricing_summary", "g01_nation_pagerank"],
        capture_output=True, text=True, timeout=600,
        env=dict(os.environ, SPARK_GRAFT_CPUS="4"),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    result = json.loads(lines[-1])
    rows = {r["query"]: r for r in result["results"]}
    assert set(rows) == {"q01_pricing_summary", "g01_nation_pagerank"}
    for row in rows.values():
        [run] = row["runs"]
        assert {"construct_s", "plan_s", "exec_s"} <= set(run)
        assert run["exec"]["jobs"] > 0
    # g01's PageRank loop runs Spark jobs while it is built; after the
    # warm-up, q01's construction runs none
    assert rows["g01_nation_pagerank"]["runs"][0]["construct"]["jobs"] > 0
    assert rows["q01_pricing_summary"]["runs"][0]["construct"]["jobs"] == 0
    tag = os.path.basename(os.path.normpath(sf_dir))
    assert sorted(os.listdir(tmp_path)) == [
        f"g01_nation_pagerank@{tag}.txt", f"q01_pricing_summary@{tag}.txt"]


def test_measure_rejects_unknown_query_before_spark_starts():
    proc = subprocess.run(
        [sys.executable, _MEASURE, "--sf-dir", "unread", "q01_pricing_summary",
         "definitely_not_a_query"],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert "['definitely_not_a_query']" in proc.stderr
    assert "log4j" not in proc.stderr and not proc.stdout
