"""Temporal kit: the reference's timestamp/timezone scalar transforms
C1-C4 (SURVEY.md §2.6) as JVM-side expressions.

Reference semantics being re-expressed:

- C1 (main.py:89-95): parse `"%Y-%m-%dT%H:%M:%SZ"` → UTC →
  America/New_York → Python ``str()`` of an aware datetime, i.e.
  ``"yyyy-MM-dd HH:mm:ss[.ffffff]±HH:MM"``.
- C3 (main.py:126-131): epoch-NANOSECOND int / 1e9 → UTC → US/Eastern
  → same ``str()`` rendering.
- C4 (main.py:172-174): epoch-ns → naive server-local ``str()`` — no
  offset suffix. The engine pins the session to UTC so "server-local"
  is UTC, making this reproducible.

Precision delta (documented, SURVEY.md §1.3): the reference divides ns
by 1e9 in double precision (ns epochs exceed double's 53-bit mantissa,
so the last µs digit can round); Spark timestamps are µs so we use
EXACT integer division ns div 1000 — deterministic truncation, matching
DuckDB's ns→µs behavior.

``parse_iso_utc`` returns a Column; the renderings return Spark SQL
text (whole-stage-codegen friendly; no Python UDFs).

SESSION-TIMEZONE CONTRACT: every rendering assumes
``spark.sql.session.timeZone = UTC`` (``date_format`` renders in the
session zone, so a non-UTC session double-shifts C3/C4 strings). The
engine pins it everywhere a session passes through its hands —
``session.get_spark``, ``io._ensure_engine_confs`` (i.e. every
``load_table``), ``streaming.read_events_stream``, and
``flatten.flatten_sheet`` — so catalog queries cannot see a non-UTC
session; callers composing these expressions over NON-engine
DataFrames must pin the conf themselves.

Known bound: the offset (``_offset_sql``) renders ``±HH:MM`` — pre-1883 LMT
offsets with a seconds component (e.g. America/New_York −04:56:02)
truncate to minutes where Python ``str()`` would include seconds. No
reachable input (betting events, modern epochs) has a sub-minute
offset; noted for the bit-exactness claim's completeness.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ISO_Z_FORMAT = "yyyy-MM-dd'T'HH:mm:ss'Z'"


def parse_iso_utc(col: Column | str) -> Column:
    """C1 parse step: ISO-8601 ``...Z`` string → TimestampType (UTC)."""
    return F.to_timestamp(col, ISO_Z_FORMAT)


# --- SQL-text renderings ----------------------------------------------------
# The C1/C3/C4 render chains are ~25 expression nodes each; built as
# Column operators they cost one Py4J round trip per node (~0.25 s of
# construction per flatten_sheet call, r6 profiling). As SQL text they
# ride inside the caller's one selectExpr and are parsed server-side.
# A property test pins every rendering to Python's zoneinfo str(),
# µs-exact.

ISO_Z_FORMAT_SQL = '"yyyy-MM-dd\'T\'HH:mm:ss\'Z\'"'


def parse_iso_utc_sql(col: str) -> str:
    return f"to_timestamp({col}, {ISO_Z_FORMAT_SQL})"


def ns_epoch_to_timestamp_sql(col: str) -> str:
    """C3/C4 parse step: epoch-ns int64 → TimestampType, by exact integer
    division (``/ 1000`` would route through double and round)."""
    return f"timestamp_micros(({col}) div 1000)"


def _fraction_sql(local: str) -> str:
    """``.ffffff`` when the µs component is nonzero, else '' — Python
    ``str(datetime)`` omits a zero fraction and never trims a nonzero one."""
    frac = f"date_format({local}, 'SSSSSS')"
    return f"CASE WHEN {frac} != '000000' THEN concat('.', {frac}) ELSE '' END"


def _offset_sql(ts: str, tz: str) -> str:
    """``±HH:MM`` offset of ``tz`` at the instant ``ts``. ``date_format``
    renders the SESSION zone's offset only, so the offset is the shift
    from_utc_timestamp applies, recovered by differencing epoch
    microseconds (DST-correct per instant). Not epoch seconds:
    ``unix_timestamp`` truncates toward zero, so a fractional instant
    whose local wall clock falls before 1970 came out a second short
    (``-04:59``)."""
    off = f"((unix_micros(from_utc_timestamp({ts}, '{tz}')) - unix_micros({ts})) div 1000000)"
    sign = f"CASE WHEN {off} < 0 THEN '-' ELSE '+' END"
    hh = f"lpad(CAST(CAST(abs({off}) / 3600 AS BIGINT) AS STRING), 2, '0')"
    mm = (
        f"lpad(CAST(pmod(CAST(abs({off}) / 60 AS BIGINT), 60) AS STRING), "
        f"2, '0')"
    )
    return f"concat({sign}, {hh}, ':', {mm})"


def render_aware_sql(ts: str, tz: str) -> str:
    """C1/C3 render: Python ``str()`` of an aware datetime in ``tz``,
    ``yyyy-MM-dd HH:mm:ss[.ffffff]±HH:MM``. Null in → null out."""
    local = f"from_utc_timestamp({ts}, '{tz}')"
    rendered = (
        f"concat(date_format({local}, 'yyyy-MM-dd HH:mm:ss'), "
        f"{_fraction_sql(local)}, {_offset_sql(ts, tz)})"
    )
    return f"CASE WHEN ({ts}) IS NOT NULL THEN {rendered} END"


def render_naive_sql(ts: str) -> str:
    """C4 render: Python ``str()`` of a naive datetime, no offset."""
    rendered = (
        f"concat(date_format({ts}, 'yyyy-MM-dd HH:mm:ss'), "
        f"{_fraction_sql(ts)})"
    )
    return f"CASE WHEN ({ts}) IS NOT NULL THEN {rendered} END"


def iso_to_eastern_sql(col: str, tz: str = "America/New_York") -> str:
    return render_aware_sql(parse_iso_utc_sql(col), tz)


def ns_epoch_to_eastern_sql(col: str, tz: str = "US/Eastern") -> str:
    return render_aware_sql(ns_epoch_to_timestamp_sql(col), tz)


def ns_epoch_to_naive_sql(col: str) -> str:
    return render_naive_sql(ns_epoch_to_timestamp_sql(col))

