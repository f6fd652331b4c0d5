"""SparkSession factory with scale-aware defaults.

The reference is a single-threaded CPython process (SURVEY.md §4); here
the execution engine is Spark, so the session is where the 100 TB
posture is configured once for every caller:

- AQE on (runtime partition coalescing, skew-join splitting) — replaces
  any hand-rolled batching the reference did (mm_calls.py:93-96 batched
  HTTP calls per tournament; Catalyst's scan coalescing + broadcast
  joins are the engine-native equivalent).
- UTC session timezone — the reference mixes UTC, America/New_York,
  US/Eastern and naive-local renderings (main.py:89-95, 126-131,
  172-174); we pin the engine to UTC and make every timezone rendering
  explicit in the temporal kit so results are reproducible on any
  cluster and comparable against the DuckDB oracle.
- Arrow enabled — all pandas interchange (Pandas UDFs, toPandas) goes
  through Arrow batches, never per-row pickling; driver-built records
  become Arrow local relations (:func:`local_frame`).
- Shuffle partitions default to cores for local mode; on a real cluster
  this is overridden per-deployment (or left to AQE's coalescing).
- Local-mode Python workers run the driver's interpreter and import the
  driver's own pyspark, not the copy in Spark's zip archives: they start
  through :mod:`worker_daemon`, which takes the archives off
  ``sys.path`` so a task no longer pays about 200 ms re-reading their
  directories. ``spark.executorEnv.PYTHONPATH`` carries this package's
  parent directory, so workers import the engine from any working
  directory. A non-local master, or a driver whose pyspark or py4j was
  itself imported from an archive, keeps Spark's default daemon. A
  session the caller builds keeps it too.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Iterable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_APP_NAME = "sports-betting-data-pipeline-spark"

# One shuffle partition comfortably holds this many narrow rows; the
# latency-regime partition budget is sized from it (same constant the
# connected-components loop used before the helper was extracted).
_ROWS_PER_PARTITION = 2_000_000


@contextmanager
def latency_regime(spark: SparkSession, n_rows: int | None):
    """Scope session confs for a LATENCY-bound chain of tiny stages.

    Iterative driver loops (connected components, PageRank, BFS,
    recursive CTEs) execute as many sequential stages over row counts
    that are minuscule next to the session's shuffle-partition budget.
    Two confs dominate their wall-clock at fixture scale (measured,
    SCALE.md §Round-7): AQE's per-stage re-plan round-trips (2.9 s →
    0.9 s on a 249-edge CC loop) and the shuffle-partition count (task
    scheduling for 32 empty partitions per stage). This context
    manager sizes both ONCE from a row-count upper bound — parquet
    footer statistics (:func:`io.size_hint`) or one count job —
    the engine's stand-in for metastore table statistics feeding a
    cost-based planner.

    In the small regime (budget < session setting) AQE goes off and
    shuffle partitions shrink for the scope; at warehouse scale the
    budget saturates at the session setting, the context manager is a
    no-op, and AQE keeps its skew-join handling. Yields True when the
    small regime is active.

    IMPORTANT: confs apply at ACTION time, so the scope must enclose
    the actions (count / localCheckpoint(eager=True) / fit), not just
    plan construction — and any EXPENSIVE upstream materialization
    (e.g. an edge table built from a fact-table join) must happen
    BEFORE entering, at full parallelism.

    The mutation is SESSION-scoped, like run_stream_to_table's
    state-partition pin: catalog queries execute one at a time per
    session (the driver, bench, and test harnesses all run
    sequentially), so a concurrent-query deployment should give each
    thread its own session (``spark.newSession()`` shares the
    SparkContext but isolates the conf).
    """
    if n_rows is None:
        yield False
        return
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parts = max(1, min(session_parts, 1 + n_rows // _ROWS_PER_PARTITION))
    if parts >= session_parts:
        yield False
        return
    prev_adaptive = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield True
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(session_parts))
        spark.conf.set("spark.sql.adaptive.enabled", prev_adaptive)


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]`` when no
    active session exists; on a cluster, leave it unset and submit via
    spark-submit.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_str = os.environ.get("SPARK_GRAFT_CPUS", "")
        shuffle_partitions = int(cpus_str) if cpus_str.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4's DataFrame-debugging wrapper (_with_origin) adds
        # ~3 py4j round trips (conf.get + PySparkCurrentOrigin
        # set/clear) plus a Python stack walk to EVERY DataFrame /
        # Column API call, purely to enrich error messages with user
        # call sites. Measured r12: catalog-wide plan construction
        # 17.1 -> 12.0 s min (203 builders, interleaved in-process
        # A/B) with it off. Driver-side overhead like this scales with
        # plan complexity, not data, so it is pure loss at any scale;
        # results are unaffected (error-context metadata only).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # Pin local-mode Python workers to the driver's interpreter. An
    # ambient PYSPARK_PYTHON=python resolves against PATH, so a venv
    # install of this package (pip install -e .) imports on the driver
    # but raises ModuleNotFoundError inside mapInPandas /
    # foreachPartition tasks whenever the harness runs outside the repo
    # checkout. The env var must be set BEFORE context init (an
    # in-process Python driver reads os.environ, not the Spark conf);
    # only forced for local masters, where the driver's interpreter is
    # by definition present on every "executor" and a differing worker
    # interpreter is never correct (Spark enforces version parity).
    # Cluster deployments keep their own interpreter via spark-submit /
    # --archives.
    #
    # The same local sessions start their Python workers through
    # worker_daemon with the driver's pyspark on the workers' path
    # (_worker_conf; the module docstring has the numbers).
    if master.startswith("local"):
        os.environ["PYSPARK_PYTHON"] = sys.executable
    for key, value in {**_worker_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _worker_conf(master: str) -> dict[str, str]:
    """Confs that start a local session's Python workers through
    :mod:`worker_daemon`, which imports the driver's own pyspark and
    py4j instead of the copies in Spark's archives.

    ``spark.executorEnv.PYTHONPATH`` lists this package's parent
    directory first, then the parents of the driver's pyspark and py4j
    packages. Spark puts it behind its archives, which the daemon
    removes. Empty for a non-local master (the executors' Python is the
    deployment's) and when the driver's pyspark or py4j came from an
    archive (there is no directory to hand the workers), so Spark's
    default daemon runs.
    """
    if not master.startswith("local"):
        return {}
    import py4j
    import pyspark

    libs = [os.path.dirname(os.path.dirname(os.path.abspath(m.__file__))) for m in (pyspark, py4j)]
    if not all(os.path.isdir(lib) for lib in libs):
        return {}
    engine = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return {
        "spark.python.daemon.module": "sports_betting_data_pipeline_spark.worker_daemon",
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(dict.fromkeys([engine, *libs])),
    }


def local_frame(
    spark: SparkSession, records: Iterable, schema: T.StructType
) -> DataFrame:
    """Driver-side records (dicts, tuples or Rows) as a DataFrame with
    the DECLARED ``schema``, planned as a ``LocalTableScan``.

    ``spark.createDataFrame(list, schema)`` pickles the rows into a
    parallelized RDD and re-serializes them through an identity map, so
    every scan of such a frame runs a Python-worker task under
    ``Scan ExistingRDD``. Converting the records to an Arrow table on
    the driver instead makes the frame a local relation the JVM scans
    without a Python worker. The conversion still rejects None in a
    non-nullable field and values Arrow cannot coerce to the declared
    type (a string in a long field); a whole number in a double field
    lands as a double, as it does when JSON is read.
    """
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema

    records = list(records)
    large = spark.conf.get("spark.sql.execution.arrow.useLargeVarTypes") == "true"
    if records:
        table = LocalDataToArrowConversion.convert(records, schema, large)
    else:
        table = to_arrow_schema(schema, prefers_large_types=large).empty_table()
    return spark.createDataFrame(table, schema=schema)


def qname(name: str) -> str:
    """The column ``name`` as a backtick-quoted SQL identifier, for
    expression text that ``F.expr`` or ``selectExpr`` parses."""
    return "`" + name.replace("`", "``") + "`"
