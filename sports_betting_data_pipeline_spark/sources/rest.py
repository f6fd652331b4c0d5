"""REST-snapshot sources: the reference's API scans as schema-declared
DataFrame ingest with fallback semantics.

Reference parity (SURVEY.md §2.1):
- S1 odds ladder GET with constants fallback (src/mm_calls.py:59-66):
  fetch via a pluggable transport; any failure falls back to the
  generated ladder table — the reference's `!= 200 -> backup` branch.
- S2 tournaments, S3 events, S4 markets (src/mm_calls.py:68-99): each
  a snapshot scan parsed against the declared StructType (the
  reference's biggest weakness — implicit schema — fixed at the
  boundary; see SURVEY.md §1.3).
- S7 balance scalar (src/mm_calls.py:210-220).

Design: transports are driver-side callables returning parsed JSON
(list/dict) — network I/O happens once, on the driver, for these
KB-MB-scale dims; the records become an Arrow local relation
(:func:`session.local_frame`), a broadcastable ``LocalTableScan`` the
JVM scans without a Python worker.
Fact-scale data never comes through this path (it arrives as parquet
or a stream); at 100 TB the dims fetched here are exactly the tables
you want broadcast-joined against the lake. A transport is any
zero-arg callable, so tests/offline runs inject fixtures and
production injects an HTTP client; per-tournament fan-out (the
reference's N API calls, mm_calls.py:85-99) collapses into ONE
DataFrame + a join, per SURVEY §3 E1.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from sports_betting_data_pipeline_spark.functions.odds import odds_ladder
from sports_betting_data_pipeline_spark.schemas import SPORT_EVENT, TOURNAMENT
from sports_betting_data_pipeline_spark.sources.http import AuthError
from sports_betting_data_pipeline_spark.session import local_frame

Transport = Callable[[], object]

LADDER_SCHEMA = T.StructType([T.StructField("odds", T.IntegerType(), False)])

BALANCE_SCHEMA = T.StructType([T.StructField("balance", T.DoubleType(), False)])


def snapshot_source(
    spark: SparkSession,
    transport: Transport | None,
    schema: T.StructType,
    fallback_records: Sequence[dict] | None = None,
) -> DataFrame:
    """Generic S-scan: call ``transport`` for parsed JSON records and
    build a local-relation DataFrame with the DECLARED schema (never
    inferred). A whole-number JSON value in a double field lands as a
    double; None in a non-nullable field, or a value of the wrong kind
    (a string in a long field), raises.

    On transport absence or failure, serve ``fallback_records``
    instead — the reference's backup-constants branch
    (mm_calls.py:62-64). Raises if there is no transport AND no
    fallback (a miss the reference would crash on too). An
    :class:`~sources.http.AuthError` is not a transport failure: a
    rejected login stops the reference (mm_calls.py:42-44), so it
    propagates instead of degrading into the fallback.
    """
    records: object | None = None
    if transport is not None:
        try:
            records = transport()
        except AuthError:
            raise
        except Exception:  # noqa: BLE001 - any transport failure -> fallback
            records = None
    if records is None:
        if fallback_records is None:
            raise ValueError("source transport failed and no fallback given")
        records = fallback_records
    return local_frame(spark, records, schema)


def odds_ladder_source(
    spark: SparkSession, transport: Transport | None = None
) -> DataFrame:
    """S1: the odds ladder dim — fetched, or regenerated locally on
    any failure (constants fallback)."""
    return snapshot_source(
        spark,
        transport,
        LADDER_SCHEMA,
        fallback_records=[{"odds": v} for v in odds_ladder()],
    )


def tournaments_source(
    spark: SparkSession, transport: Transport | None = None
) -> DataFrame:
    """S2: tournaments dim (no fallback in the reference — a failed
    fetch is empty there, mm_calls.py:73-75; we mirror with [])."""
    return snapshot_source(spark, transport, TOURNAMENT, fallback_records=[])


def events_source(
    spark: SparkSession, transport: Transport | None = None
) -> DataFrame:
    """S3/S4 combined: sport events WITH their markets array attached
    (the reference attaches markets by probing a per-event map,
    mm_calls.py:100-105; a transport that returns the joined tree is
    the one-DataFrame equivalent)."""
    return snapshot_source(spark, transport, SPORT_EVENT, fallback_records=[])


def balance_source(
    spark: SparkSession, transport: Transport | None = None, opening: float = 0.0
) -> DataFrame:
    """S7: the balance scalar as a 1-row DataFrame."""
    return snapshot_source(
        spark, transport, BALANCE_SCHEMA, fallback_records=[{"balance": opening}]
    )
