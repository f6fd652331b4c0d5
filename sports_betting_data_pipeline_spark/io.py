"""Table readers for the engine.

The reference's sources are REST scans feeding Python dicts
(mm_calls.py:52-115, SURVEY.md §2.1 S1-S7); in the Spark engine every
source is a DataFrame scan with an explicit schema so Catalyst gets
predicate pushdown + column pruning for free. The driver's fixture
tables (TESTDATA.md) are parquet files; production would be the same
code pointed at a partitioned parquet/ORC lake.

Scale notes (100 TB posture):
- Never infer schemas on the hot path; parquet footers carry them.
- Readers return lazy DataFrames; filters applied by callers reach the
  scan (verify with ``df.explain`` → PushedFilters).
- ``maxPartitionBytes`` is left at Spark's 128 MB default, which yields
  ~800k input splits at 100 TB — reasonable for a 1000-executor
  cluster; tune per-deployment, not in code.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Driver fixture tables (TESTDATA.md): TPC-H-ish star schema + an events
# stream table + LLM-pipeline fixtures.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _ensure_engine_confs(spark: SparkSession) -> None:
    """Make the engine self-sufficient on a caller-provided session.

    The driver (and any embedding application) hands us ITS
    SparkSession; results must not depend on that session's ambient
    timezone, so pin UTC here (SURVEY.md §7 step 3 gotcha) along with
    the ns-as-long parquet read the events table needs. Both are
    runtime SQL confs. A static conf cannot be set on a running session
    (every attempt raises CANNOT_MODIFY_STATIC_CONFIG), so static ones
    belong in ``session.get_spark``'s builder.

    This is the one place the engine pins them; every reader and
    renderer that depends on them calls it. It re-pins on every call
    rather than once per session, because a caller may reset its
    session's confs between calls. The price is two py4j round trips
    (about 1.4 ms on a local[2] session) per call, memo hits of :func:`load_table` included.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a UTC TimestampType instant across
    fixture generations (the driver has shipped both):

    - parquet TIMESTAMP(NANOS), surfaced as raw INT64 under
      ``nanosAsLong`` (Spark timestamps are µs precision — SURVEY.md
      §1.3's ns-epoch note, reference main.py:126-128): truncate to µs
      with exact integer division (`div`, not `/`: ns epochs exceed
      double's 53-bit mantissa), matching DuckDB's ns→µs truncation
      bit-for-bit.
    - parquet timestamp[us] without timezone, surfaced as
      TIMESTAMP_NTZ: reinterpret the wall-clock as UTC (the session
      timezone is pinned to UTC, so a plain cast preserves the instant
      exactly as DuckDB's naive reading does).
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dt == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# The engine's one driver-side metadata memo: key -> (stamp, value),
# shared by load_table, widen_for_compute, size_hint's footer counts and
# the events stream schema. Staleness lives in the VALUE: a hit needs an
# equal stamp, and a changed stamp overwrites its entry in place instead
# of stranding the old value. At _MEMO_MAX entries the least recently
# used one is evicted. Every value is re-derivable metadata, so a miss
# only re-pays its probe and never changes results.
_MEMO: OrderedDict[tuple, tuple[object, object]] = OrderedDict()
_MEMO_MAX = 4096
_MEMO_LOCK = threading.Lock()


def _memo(key: tuple, stamp, compute: Callable[[], object]):
    """``compute()``, memoized under ``key`` while ``stamp`` is
    unchanged. The lock guards lookup and insert only: ``compute`` runs
    outside it, so two threads missing the same key may both compute
    (the later insert wins) but a slow probe never blocks other keys."""
    with _MEMO_LOCK:
        hit = _MEMO.get(key)
        if hit is not None and hit[0] == stamp:
            _MEMO.move_to_end(key)
            return hit[1]
    value = compute()
    with _MEMO_LOCK:
        if key not in _MEMO:
            while len(_MEMO) >= _MEMO_MAX:
                _MEMO.popitem(last=False)
        _MEMO[key] = (stamp, value)
        _MEMO.move_to_end(key)
    return value


def widen_for_compute(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Guarantee a CPU-heavy per-row stage (signature hashing,
    projections, codec work) runs with at least core-count parallelism.

    A parquet scan parallelizes by file/row-group; a small or
    single-row-group input therefore yields ONE task, serializing any
    expensive expression layered on it (observed r4: simhash over a
    one-row-group fixture pinned 1 of 32 cores — 2.2 s vs 0.35 s
    widened). At 100 TB the scan already has ~800k splits, so this is
    a metadata check and NO-OP there: the round-robin exchange only
    materializes when current parallelism is below ``min_parts``
    (default ``sparkContext.defaultParallelism``).

    Streaming DataFrames can't report a partition count pre-start, so
    they always get the repartition — on a real stream the exchange is
    the standard decouple-source-parallelism-from-compute step (Kafka
    topic partitions rarely match executor cores).
    """
    spark = df.sparkSession
    target = min_parts or spark.sparkContext.defaultParallelism
    try:
        # The partition-count probe (df.rdd.getNumPartitions) runs full
        # physical planning plus an RDD conversion — measured 77 ms per
        # call vs 11 ms for semanticHash (r11), and the engine calls
        # this helper at 14 sites, twice per query for the self-join
        # bases, on EVERY plan construction (bench runs construct
        # fresh per timed run). Memoize the count per (application,
        # semantic plan, columns) with no stamp: the probe is pure scan
        # metadata, so a memo hit can at worst make a stale widen
        # DECISION (perf, never results) — and only if the same fixture
        # path is rewritten with a different row-group layout inside one
        # application, which only the fuzz harness does (it uses fresh
        # per-variant paths, which change the semantic hash).
        key = (
            "widen",
            spark.sparkContext.applicationId,
            df.semanticHash(),
            tuple(df.columns),
        )
        n = _memo(key, None, lambda: df.rdd.getNumPartitions())
    except Exception:
        return df.repartition(target)  # streaming: no partition metadata
    return df if n >= target else df.repartition(target)


def _dir_fingerprint(path: str) -> tuple[int, int]:
    """(max mtime_ns, entry count) of a table path — the staleness
    stamp for :func:`load_table` and :func:`_events_file_schema`
    (ADVICE r6: a fixture dir regenerated within one Spark application
    must not be served from the memoized listing; same hazard class
    st16's mtime stamp guards). A flat parquet dir is one ``scandir``;
    a missing path fingerprints as (0, 0) and lets ``spark.read`` raise
    its own error. Single files (a bare .parquet) stamp their own
    stat."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (st.st_mtime_ns, 1)
        mx = st.st_mtime_ns
        n = 0
        with os.scandir(path) as it:
            for e in it:
                n += 1
                try:
                    m = e.stat().st_mtime_ns
                except OSError:
                    continue
                if m > mx:
                    mx = m
        return (mx, n)
    except OSError:
        return (0, 0)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one fixture table (``events.ts`` normalized
    to a UTC instant — see :func:`normalize_events_ts`).

    The resolved scan is memoized per (SparkContext, sf_dir, table):
    ``spark.read.parquet`` re-lists the path and re-reads footers to
    resolve the schema on EVERY call — measured ~0.11 s per call (r6),
    which a 4-table query pays 4× at plan-construction time, on every
    bench run, for fixture files that never change mid-session. The
    cached object is a lazy immutable DataFrame, so reuse is free;
    keys carry the applicationId so a restarted session can never see
    a dead context's plans, plus a directory fingerprint (max
    mtime_ns + entry count — one ``scandir``) so a fixture dir
    regenerated mid-session is re-resolved instead of served from the
    stale listing. (At 100 TB the same cost is catalog-level
    metadata — a real deployment memoizes it in the metastore the
    same way, invalidated by table version.)
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    _ensure_engine_confs(spark)
    path = table_path(sf_dir, name)

    def resolve() -> DataFrame:
        df = spark.read.parquet(path)
        return normalize_events_ts(df) if name == "events" else df

    key = ("table", spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    return _memo(key, _dir_fingerprint(path), resolve)


def _events_file_schema(spark: SparkSession, sf_dir: str):
    """Footer-read the raw events schema (before
    :func:`normalize_events_ts`) for the file stream source, memoized
    per ABSOLUTE fixture dir on the :func:`load_table` stamp: a fixture
    regenerated mid-process that switches generations (ns-as-long
    bigint ts ↔ timestamp[us]) re-resolves instead of serving a stale
    reader schema."""
    path = table_path(os.path.abspath(sf_dir), "events")
    return _memo(
        ("events_schema", path),
        _dir_fingerprint(path),
        lambda: spark.read.parquet(path).schema,
    )


def size_hint(df: DataFrame) -> int | None:
    """Row-count upper bound for ``df`` from the parquet FOOTERS of its
    plan's input files — driver-side metadata only, no Spark job.

    This is the engine's stand-in for catalog table statistics: a
    cost-based planner reads exactly this bound from the metastore
    before picking a physical strategy. Strategy switches
    (:func:`functions.corpus.deterministic_shuffle`'s single-partition
    rank path, :func:`session.latency_regime`'s small-regime confs, the
    connected-components loop sizing) read it from whatever ``df``
    actually scans, so they are DEFAULT behavior instead of caller
    discipline. At warehouse scale the bound is huge and every hint
    saturates to the session's configured parallelism.

    The bound is the total footer row count of ``df.inputFiles()``:
    filters/joins/aggregates downstream only ever see at most the
    scanned rows per leaf, so for posture decisions (which only need
    "is this the small regime?") it is safe on any linear plan; callers
    composing row-multiplying shapes (explodes, many-to-many joins)
    scale it themselves, e.g. l22's ``32 ×`` edges-per-doc bound.
    Returns None — caller falls back to measuring with a job — when any
    input is non-parquet or non-file (streaming, in-memory fixtures),
    so the hint can never silently undercount a real source.
    """
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    import pyarrow.parquet as pq
    from urllib.parse import unquote, urlparse

    total = 0
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return None
        path = unquote(parsed.path) or uri
        if not path.endswith(".parquet"):
            return None
        try:
            st = os.stat(path)
            total += _memo(
                ("file_rows", path),
                (st.st_mtime_ns, st.st_size),
                lambda: pq.ParquetFile(path).metadata.num_rows,
            )
        except Exception:
            return None
    return total


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
