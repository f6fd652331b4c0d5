"""Untimed output checks.

Catalog queries are compared with their DuckDB oracle on the same
derived inputs through ``tests/oracle.py`` (row count, column set,
order-insensitive float-tolerant values). A sheet_sync tick is checked
by re-flattening its snapshot in DuckDB UNNEST SQL, built the way the
p01 oracle builds it, and comparing with the rows its sheet spool holds.
"""

from __future__ import annotations

import csv
import functools
import glob
import importlib.util
import json
import os
from concurrent.futures import ThreadPoolExecutor
from unittest import mock

import duckdb

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def oracle():
    """``tests/oracle.py``: the DuckDB-oracle helpers the test suite uses."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle", os.path.join(_ROOT, "tests", "oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _Collected:
    """A collected Spark result, shaped for ``assert_frames_match``."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 - the DataFrame method name
        return self._pdf


def check_query(df, oracle_sql: str | None, sf_dir: str) -> str | None:
    """None when ``df`` matches its DuckDB oracle on ``sf_dir`` (with no
    oracle, when it is non-empty); otherwise the reason it does not.
    The oracle runs on a second thread while Spark collects ``df``
    (DuckDB releases the GIL)."""
    if oracle_sql is None:
        return None if df.limit(1).count() == 1 else "empty result (rows-only query)"
    with ThreadPoolExecutor(max_workers=1) as pool:
        expected = pool.submit(oracle().run_oracle, oracle_sql, sf_dir)
        got = df.toPandas()
        want = expected.result()
    try:
        oracle().assert_frames_match(_Collected(got), want)
    except AssertionError as exc:
        return f"oracle mismatch: {str(exc)[:300]}"
    return None


def flatten_oracle_rows(events: list[dict]) -> list[tuple]:
    """The 25-column sheet rows for ``events``, computed by DuckDB with
    the p01 oracle's SQL over these events instead of the fixture."""
    from sports_betting_data_pipeline_spark import fixtures
    from sports_betting_data_pipeline_spark.plans import q_flatten

    with mock.patch.object(fixtures, "betting_tree_rows", lambda: events):
        sql = q_flatten._p01_oracle_sql()
    with duckdb.connect() as con:
        return con.execute(sql).fetchall()


def spooled_rows(parts: list[str]) -> list[tuple]:
    """Data rows of sheet spool parts (each part starts with a header)."""
    rows = []
    for part in parts:
        with open(part, newline="", encoding="utf-8") as fh:
            rows.extend(tuple(r) for r in list(csv.reader(fh))[1:])
    return rows


def check_tick(snapshot_events: list[dict], parts: list[str], wagers: list[dict],
               post_dir: str) -> str | None:
    """None when the tick's sheet spool holds exactly the re-flattened
    rows and its wager POST was one batch of the three wagers."""
    got = sorted(spooled_rows(parts))
    want = sorted(flatten_oracle_rows(snapshot_events))
    if got != want:
        extra = sorted(set(got) - set(want))[:2]
        missing = sorted(set(want) - set(got))[:2]
        return f"sheet rows differ: {len(got)} vs {len(want)}; extra {extra} missing {missing}"
    batches = glob.glob(os.path.join(post_dir, "batch-*.jsonl"))
    if len(batches) != 1:
        return f"expected one 3-wager batch POST, got {len(batches)}"
    with open(batches[0], encoding="utf-8") as fh:
        posted = [json.loads(line)["line_id"] for line in fh]
    if sorted(posted) != sorted(w["line_id"] for w in wagers):
        return f"wager batch holds {posted}"
    return None
