"""scripts/measure.py end to end: the last stdout line is its JSON
result, construction jobs are counted per query, and ``--plans``
writes the same files on every run of one commit, with lambda variable
names masked."""

from __future__ import annotations

import importlib.util
import json
import os
import re
import subprocess
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_MEASURE = os.path.join(_REPO, "scripts", "measure.py")


# co01 and j06 are AQE queries whose executed plan numbers stages and
# nodes in completion order: two runs used to write different files
_PLAN_QUERIES = ("q01_pricing_summary", "g01_nation_pagerank",
                 "co01_cohort_retention", "j06_bloom_prefilter_join")


def _load_measure():
    spec = importlib.util.spec_from_file_location("measure", _MEASURE)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _measure(sf_dir: str, plans_dir, *queries: str) -> dict:
    proc = subprocess.run(
        [sys.executable, _MEASURE, "--rounds", "1", "--sf-dir", sf_dir,
         "--plans", str(plans_dir), *queries],
        capture_output=True, text=True, timeout=600,
        env=dict(os.environ, SPARK_GRAFT_CPUS="4"),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    return json.loads(lines[-1])


def test_measure_smoke_phase_split_and_construction_jobs(sf_dir, tmp_path):
    if not os.path.isdir(sf_dir):
        pytest.skip("test fixture not present")
    result = _measure(sf_dir, tmp_path / "a", *_PLAN_QUERIES)
    rows = {r["query"]: r for r in result["results"]}
    assert set(rows) == set(_PLAN_QUERIES)
    for row in rows.values():
        [run] = row["runs"]
        assert {"construct_s", "plan_s", "exec_s"} <= set(run)
        assert run["exec"]["jobs"] > 0
    # g01's PageRank loop runs Spark jobs while it is built; after the
    # warm-up, q01's construction runs none
    assert rows["g01_nation_pagerank"]["runs"][0]["construct"]["jobs"] > 0
    assert rows["q01_pricing_summary"]["runs"][0]["construct"]["jobs"] == 0
    tag = os.path.basename(os.path.normpath(sf_dir))
    written = sorted(os.listdir(tmp_path / "a"))
    assert written == sorted(f"{q}@{tag}.txt" for q in _PLAN_QUERIES)
    # a second run of the same commit writes the same plan files
    _measure(sf_dir, tmp_path / "b", *_PLAN_QUERIES)
    for name in written:
        first = (tmp_path / "a" / name).read_text()
        assert "== Physical Plan ==" in first and not re.search(r"#\d", first)
        assert (tmp_path / "b" / name).read_text() == first, name


def test_measure_rejects_unknown_query_before_spark_starts():
    proc = subprocess.run(
        [sys.executable, _MEASURE, "--sf-dir", "unread", "q01_pricing_summary",
         "definitely_not_a_query"],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert "['definitely_not_a_query']" in proc.stderr
    assert "log4j" not in proc.stderr and not proc.stdout


def test_plan_mask_hides_lambda_variable_names(spark):
    """A lambda built through Column operators is named from PySpark's
    process-global counter (``lambda x_12``), the same lambda parsed
    from SQL text keeps its own name (``lambda t``): the written plans
    must not tell them apart, while a real tree difference still shows."""
    from pyspark.sql import functions as F

    measure = _load_measure()
    assert (measure.mask_run_ids("lambdafunction(NOT (lambda x_12#345 = ), "
                                 "lambda x_12#345, false), plan_id=7")
            == "lambdafunction(NOT (lambda _# = ), lambda _#, false), plan_id=")
    assert (measure.mask_run_ids("lambda t#9 = lambda toks#10")
            == "lambda _# = lambda _#")

    df = spark.createDataFrame([("a  b",)], "text string")
    built = df.select(F.filter(F.split("text", r"\s+"), lambda t: t != "").alias("a"))
    parsed = df.select(F.expr("filter(split(text, '\\\\s+'), t -> t != '')").alias("a"))
    other = df.select(F.expr("filter(split(text, '\\\\s+'), t -> t != 'b')").alias("a"))
    raw = [d._jdf.queryExecution().optimizedPlan().toString() for d in (built, parsed)]
    assert "lambda x_" in raw[0] and "lambda t#" in raw[1]
    built_txt, parsed_txt, other_txt = (
        measure.plan_text(d._jdf.queryExecution()) for d in (built, parsed, other))
    assert built_txt == parsed_txt
    assert other_txt != parsed_txt
