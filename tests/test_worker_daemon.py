"""Python workers of a ``get_spark`` local session import the driver's
own pyspark through ``worker_daemon``, and import the engine from any
working directory; other sessions keep Spark's default daemon."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import py4j
import pyspark
import pytest
from pyspark.find_spark_home import _find_spark_home

from sports_betting_data_pipeline_spark import session

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_python_task_imports_the_drivers_pyspark(spark):
    def worker_view(_):
        import sys
        import zipimport

        import pyspark

        archives = [
            v.archive
            for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter)
        ]
        yield pyspark.__file__, archives

    [(worker_pyspark, archives)] = spark.sparkContext.parallelize([0], 1).mapPartitions(
        worker_view
    ).collect()
    assert worker_pyspark == pyspark.__file__
    spark_home = os.path.realpath(_find_spark_home())
    from_spark = [a for a in archives if os.path.realpath(a).startswith(spark_home + os.sep)]
    assert from_spark == [], f"workers still hold importers over Spark's archives: {from_spark}"


def test_worker_conf_local_master_starts_engine_daemon():
    conf = session._worker_conf("local[2]")
    assert conf["spark.python.daemon.module"] == "sports_betting_data_pipeline_spark.worker_daemon"
    path = conf["spark.executorEnv.PYTHONPATH"].split(os.pathsep)
    assert path[0] == _REPO
    assert os.path.dirname(os.path.dirname(pyspark.__file__)) in path


@pytest.mark.parametrize("master", ["spark://host:7077", "yarn", "k8s://https://host:6443"])
def test_worker_conf_non_local_master_keeps_spark_daemon(master):
    assert session._worker_conf(master) == {}


@pytest.mark.parametrize("module", [pyspark, py4j], ids=["pyspark", "py4j"])
def test_worker_conf_archive_import_keeps_spark_daemon(monkeypatch, tmp_path, module):
    archive = tmp_path / f"{module.__name__}.zip"
    archive.write_bytes(b"")
    monkeypatch.setattr(module, "__file__", str(archive / module.__name__ / "__init__.py"))
    assert session._worker_conf("local[2]") == {}


def test_python_workers_import_engine_from_any_working_directory(tmp_path, sf_dir):
    """m01 (mapInPandas) and st13 (applyInPandasWithState) unpickle
    engine functions on the workers; with the repo only on the driver's
    sys.path and another working directory, that needs the engine's
    directory on the workers' PYTHONPATH."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {_REPO!r})
        from sports_betting_data_pipeline_spark.plans import ORACLES, QUERIES
        from sports_betting_data_pipeline_spark.session import get_spark
        from tests.oracle import assert_frames_match, run_oracle

        spark = get_spark(
            master="local[2]",
            shuffle_partitions=2,
            extra_conf={{"spark.sql.warehouse.dir": {str(tmp_path / "warehouse")!r}}},
        )
        spark.sparkContext.setLogLevel("ERROR")
        for name in ("m01_multimodal_features", "st13_threshold_alerts"):
            df = QUERIES[name](spark, {sf_dir!r})
            assert_frames_match(df, run_oracle(ORACLES[name], {sf_dir!r}))
            print(name, "MATCH")
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.split() == [
        "m01_multimodal_features", "MATCH", "st13_threshold_alerts", "MATCH"
    ]
