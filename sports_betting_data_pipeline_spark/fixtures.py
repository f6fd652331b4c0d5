"""Deterministic in-code fixtures: the nested sports-betting event tree
(FIXTURES.md §B) used by the flatten centerpiece's golden tests and the
rows-only catalog query.

Coverage requirements (FIXTURES.md §B):
- markets WITH and WITHOUT market_lines in the same tree (both
  flatten branches);
- inner selections lists with length > 1 (branch A must take [0] only,
  branch B iterates all);
- missing/null optional fields (favourite→"NA", ""-defaults);
- timestamps on both sides of a US/Eastern DST boundary;
- an empty inner selection list (reference would IndexError; the
  engine defaults to "").

The tree becomes an Arrow local relation (:func:`session.local_frame`),
so each query over it plans a ``LocalTableScan`` and needs no cache.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession

from sports_betting_data_pipeline_spark.schemas import SPORT_EVENT
from sports_betting_data_pipeline_spark.session import local_frame


def _ns(iso: str, micros: int = 0) -> int:
    """Epoch nanoseconds for an ISO UTC wall-clock + µs component."""
    dt = datetime.datetime.fromisoformat(iso).replace(tzinfo=datetime.timezone.utc)
    return int(dt.timestamp()) * 1_000_000_000 + micros * 1_000


def _sel(line_id, display_name, name, odds, stake, value):
    return {
        "line_id": line_id,
        "display_name": display_name,
        "name": name,
        "odds": odds,
        "stake": stake,
        "value": value,
    }


def betting_tree_rows() -> list[dict]:
    """Two events, four markets, both flatten branches, DST coverage."""
    s1a = _sel("L1A", "LAL ML", "lal_ml", -150, 10.5, 1.67)
    s1b = _sel("L1B", "BOS ML", "bos_ml", 130, None, 2.3)
    s2a = _sel("L2A", "LAL -3.5", "lal_spread", -110, 5.0, 1.91)
    s3 = _sel("L3", "Over 210", "over", -105, 2.5, 1.95)
    s4 = _sel("L4", "Under 210", "under", -115, None, 1.87)
    s5 = _sel("L5", "Push", "push", 100, 1.0, 2.0)
    s6 = _sel("L6", "Solo Win", "solo", None, None, None)

    return [
        {
            "event_id": 101,
            "name": "lal-bos",
            "display_name": "Lakers vs Celtics",
            "scheduled": "2024-01-15T18:30:00Z",  # EST (-05:00)
            "status": "upcoming",
            "competitors": [
                {"display_name": "Los Angeles Lakers", "abbreviation": "LAL", "side": "home"},
                {"display_name": "Boston Celtics", "abbreviation": "BOS", "side": "away"},
            ],
            "markets": [
                {
                    # Branch A: 2 outer selection groups -> 2 rows,
                    # each taking inner [0] (s1a, s2a).
                    "id": "m1",
                    "name": "Moneyline",
                    "type": "moneyline",
                    "status": "open",
                    "updated_at": _ns("2024-01-15T17:50:00"),
                    "market_lines": [
                        {
                            "id": "ml1",
                            "name": "ML",
                            "line": 1.5,
                            "favourite": "home",
                            "type": "moneyline",
                            "selections": [[s1a, s1b], [s2a]],
                        }
                    ],
                    "selections": None,
                },
                {
                    # Branch B: iterates all inner elements -> 3 rows
                    # (s3, s4, s5); µs component exercises ".ffffff".
                    "id": "m2",
                    "name": "Totals",
                    "type": "total",
                    "status": "open",
                    "updated_at": _ns("2024-01-15T17:50:00", micros=123456),
                    "market_lines": None,
                    "selections": [[s3, s4], [s5]],
                },
            ],
        },
        {
            "event_id": 202,
            "name": "solo",
            "display_name": "Mystery Cup",
            "scheduled": "2024-07-04T16:00:00Z",  # EDT (-04:00)
            "status": "live",
            "competitors": [
                {"display_name": "Solo FC", "abbreviation": "SOL", "side": "home"}
                # only ONE competitor: competitor-2 columns default to ""
            ],
            "markets": [
                {
                    # Branch A with defaults: favourite null -> "NA",
                    # line null -> "", empty inner selection list -> ""
                    # selection columns.
                    "id": "m3",
                    "name": "Spread",
                    "type": "spread",
                    "status": "suspended",
                    "updated_at": _ns("2024-07-04T15:00:00"),
                    "market_lines": [
                        {
                            "id": "ml2",
                            "name": "SP",
                            "line": None,
                            "favourite": None,
                            "type": "spread",
                            "selections": [[]],
                        }
                    ],
                    "selections": None,
                },
                {
                    # Branch B with null odds/stake/value -> "".
                    "id": "m4",
                    "name": "Outright",
                    "type": "moneyline",
                    "status": "open",
                    "updated_at": _ns("2024-07-04T15:30:00"),
                    "market_lines": None,
                    "selections": [[s6]],
                },
            ],
        },
    ]


def betting_tree_df(spark: SparkSession) -> DataFrame:
    """Nested fixture as a local-relation DataFrame (SPORT_EVENT)."""
    return local_frame(spark, betting_tree_rows(), SPORT_EVENT)
