"""Golden test for the flatten centerpiece (SURVEY.md §2.5).

Expected values are computed with an INDEPENDENT implementation of the
reference's rendering semantics (Python datetime + zoneinfo, mirroring
main.py:89-95/126-131/172-174), then the engine's output is compared
row-for-row. Pins:
- branch A takes selection[0] only; branch B iterates all inner
  elements (the key fidelity asymmetry);
- "NA" literals in branch B's five Market Line columns;
- favourite null -> "NA"; every other absent field -> "";
- aware-string rendering incl. DST offsets and the ".ffffff" fraction;
- fidelity=True reproduces the reference's branch-B raw-scheduled (C2)
  and naive-local (C4) renderings;
- NULL and empty arrays and elements at every level unnest as
  ``explode`` does, and the operator plans as one pass.
"""

from __future__ import annotations

import datetime
from zoneinfo import ZoneInfo

import pytest

from sports_betting_data_pipeline_spark.fixtures import betting_tree_df
from sports_betting_data_pipeline_spark.operators.flatten import flatten_sheet
from sports_betting_data_pipeline_spark.schemas import SHEET_COLUMNS

UTC = datetime.timezone.utc
NY = ZoneInfo("America/New_York")
EASTERN = ZoneInfo("US/Eastern")


def iso_to_ny(iso_z: str) -> str:
    dt = datetime.datetime.strptime(iso_z, "%Y-%m-%dT%H:%M:%SZ").replace(tzinfo=UTC)
    return str(dt.astimezone(NY))


def ns_to_eastern(ns: int) -> str:
    dt = datetime.datetime.fromtimestamp(ns // 1000 / 1e6, tz=UTC)
    return str(dt.astimezone(EASTERN))


def ns_to_naive_utc(ns: int) -> str:
    return str(datetime.datetime.utcfromtimestamp(ns // 1000 / 1e6))


NS_M1 = 1705341000000000000  # 2024-01-15T17:50:00Z
NS_M2 = NS_M1 + 123456000  # +.123456s
NS_M3 = 1720105200000000000  # 2024-07-04T15:00:00Z
NS_M4 = NS_M3 + 1800 * 10**9  # +30min


def test_fixture_ns_values():
    assert ns_to_naive_utc(NS_M1) == "2024-01-15 17:50:00"
    assert ns_to_naive_utc(NS_M3) == "2024-07-04 15:00:00"


def _e101(scheduled: str) -> list[str]:
    return [
        "101",
        scheduled,
        "Lakers vs Celtics",
        "Los Angeles Lakers",
        "LAL",
        "home",
        "Boston Celtics",
        "BOS",
        "away",
    ]


def _e202(scheduled: str) -> list[str]:
    return ["202", scheduled, "Mystery Cup", "Solo FC", "SOL", "home", "", "", ""]


def expected_rows(fidelity: bool) -> list[list[str]]:
    jan_ny = iso_to_ny("2024-01-15T18:30:00Z")  # 2024-01-15 13:30:00-05:00
    jul_ny = iso_to_ny("2024-07-04T16:00:00Z")  # 2024-07-04 12:00:00-04:00
    sched_b_101 = "2024-01-15T18:30:00Z" if fidelity else jan_ny
    sched_b_202 = "2024-07-04T16:00:00Z" if fidelity else jul_ny
    upd_m2 = ns_to_naive_utc(NS_M2) if fidelity else ns_to_eastern(NS_M2)
    upd_m4 = ns_to_naive_utc(NS_M4) if fidelity else ns_to_eastern(NS_M4)

    m1 = ["m1", "Moneyline", "moneyline", "open"]
    ml1 = ["ml1", "ML", "1.5", "home", "moneyline"]
    m2 = ["m2", "Totals", "total", "open"]
    na5 = ["NA"] * 5
    return [
        # Branch A, m1: outer groups [s1a,s1b] and [s2a] -> [0] of each.
        _e101(jan_ny) + m1 + ml1
        + ["L1A", "LAL ML", "-150", "upcoming", "10.5", "1.67", ns_to_eastern(NS_M1)],
        _e101(jan_ny) + m1 + ml1
        + ["L2A", "LAL -3.5", "-110", "upcoming", "5.0", "1.91", ns_to_eastern(NS_M1)],
        # Branch B, m2: all three inner selections.
        _e101(sched_b_101) + m2 + na5
        + ["L3", "Over 210", "-105", "upcoming", "2.5", "1.95", upd_m2],
        _e101(sched_b_101) + m2 + na5
        + ["L4", "Under 210", "-115", "upcoming", "", "1.87", upd_m2],
        _e101(sched_b_101) + m2 + na5
        + ["L5", "Push", "100", "upcoming", "1.0", "2.0", upd_m2],
        # Branch A, m3: empty inner list -> "" selection cols; null
        # favourite -> "NA"; null line -> "".
        _e202(jul_ny)
        + ["m3", "Spread", "spread", "suspended"]
        + ["ml2", "SP", "", "NA", "spread"]
        + ["", "", "", "live", "", "", ns_to_eastern(NS_M3)],
        # Branch B, m4: null odds/stake/value -> "".
        _e202(sched_b_202)
        + ["m4", "Outright", "moneyline", "open"]
        + na5
        + ["L6", "Solo Win", "", "live", "", "", upd_m4],
    ]


def _collect_sorted(df) -> list[list[str]]:
    rows = [list(r) for r in df.collect()]
    return sorted(rows)


def _check(spark, fidelity: bool):
    out = flatten_sheet(betting_tree_df(spark), fidelity=fidelity)
    assert out.columns == list(SHEET_COLUMNS)
    actual = _collect_sorted(out)
    expected = sorted(expected_rows(fidelity))
    assert actual == expected, f"\nactual={actual}\nexpected={expected}"


def test_flatten_normalized(spark):
    _check(spark, fidelity=False)


def test_flatten_fidelity(spark):
    _check(spark, fidelity=True)


def test_flatten_row_count_and_all_strings(spark):
    out = flatten_sheet(betting_tree_df(spark))
    assert out.count() == 7
    assert all(f.dataType.typeName() == "string" for f in out.schema.fields)


# --- Edge cases of the unnest (null and empty at every level) --------------
# One event per case, so a wrong row names its case by its Event ID.

EDGE_UPDATED = NS_M1
EDGE_SCHEDULED = "2024-01-15T18:30:00Z"


def _edge_market(mid: str, market_lines=None, selections=None) -> dict:
    return {
        "id": mid,
        "name": mid.upper(),
        "type": "moneyline",
        "status": "open",
        "updated_at": EDGE_UPDATED,
        "market_lines": market_lines,
        "selections": selections,
    }


def _edge_line(selections) -> dict:
    return {
        "id": "ml",
        "name": "ML",
        "line": -2.5,
        "favourite": None,
        "type": "spread",
        "selections": selections,
    }


def _edge_sel(line_id: str) -> dict:
    return {
        "line_id": line_id,
        "display_name": line_id.lower(),
        "name": line_id,
        "odds": 120,
        "stake": None,
        "value": 2.2,
    }


def edge_events() -> list[dict]:
    a_sel, b_sel = _edge_sel("A1"), _edge_sel("B1")
    markets = {
        1: None,  # null markets
        2: [None],  # null market
        3: [_edge_market("m3", market_lines=[None])],  # null market line
        4: [_edge_market("m4", market_lines=[_edge_line(None)])],  # null selections
        # empty market_lines is branch A: the market's selections are not read
        5: [_edge_market("m5", market_lines=[], selections=[[b_sel]])],
        6: [_edge_market("m6", market_lines=[_edge_line([None, [a_sel]])])],  # A: null group
        7: [_edge_market("m7", market_lines=[_edge_line([[]])])],  # A: empty group
        8: [_edge_market("m8")],  # B: null selections
        9: [_edge_market("m9", selections=[None, [], [b_sel]])],  # B: null, empty group
        10: [_edge_market("m10", selections=[[None, b_sel]])],  # B: null selection
        # the rows of a market are not lost to a null sibling at any level
        11: [None, _edge_market("m11", market_lines=[None, _edge_line([[a_sel]])])],
    }
    return [
        {
            "event_id": eid,
            "name": f"e{eid}",
            "display_name": f"Event {eid}",
            "scheduled": EDGE_SCHEDULED,
            "status": "open",
            "competitors": [
                {"display_name": "Home", "abbreviation": "HOM", "side": "home"},
                {"display_name": "Away", "abbreviation": "AWY", "side": "away"},
            ],
            "markets": ms,
        }
        for eid, ms in markets.items()
    ]


def edge_expected(fidelity: bool) -> list[list[str]]:
    def event(eid: int, branch_b: bool) -> list[str]:
        sched = EDGE_SCHEDULED if fidelity and branch_b else iso_to_ny(EDGE_SCHEDULED)
        return [str(eid), sched, f"Event {eid}", "Home", "HOM", "home", "Away", "AWY", "away"]

    def market(mid: str) -> list[str]:
        return [mid, mid.upper(), "moneyline", "open"]

    line = ["ml", "ML", "-2.5", "NA", "spread"]
    upd_a = ns_to_eastern(EDGE_UPDATED)
    upd_b = ns_to_naive_utc(EDGE_UPDATED) if fidelity else upd_a
    sel_a = ["A1", "a1", "120", "open", "", "2.2", upd_a]
    sel_b = ["B1", "b1", "120", "open", "", "2.2", upd_b]
    empty_a = ["", "", "", "open", "", "", upd_a]
    empty_b = ["", "", "", "open", "", "", upd_b]
    return [
        event(6, False) + market("m6") + line + empty_a,
        event(6, False) + market("m6") + line + sel_a,
        event(7, False) + market("m7") + line + empty_a,
        event(9, True) + market("m9") + ["NA"] * 5 + sel_b,
        event(10, True) + market("m10") + ["NA"] * 5 + empty_b,
        event(10, True) + market("m10") + ["NA"] * 5 + sel_b,
        event(11, False) + market("m11") + line + sel_a,
    ]


@pytest.mark.parametrize("fidelity", [False, True])
def test_flatten_null_and_empty_levels(spark, fidelity):
    from sports_betting_data_pipeline_spark.schemas import SPORT_EVENT
    from sports_betting_data_pipeline_spark.session import local_frame

    events = local_frame(spark, edge_events(), SPORT_EVENT)
    actual = _collect_sorted(flatten_sheet(events, fidelity=fidelity))
    expected = sorted(edge_expected(fidelity))
    assert actual == expected, f"\nactual={actual}\nexpected={expected}"


def _plan_nodes(df) -> list[str]:
    tree = df._jdf.queryExecution().optimizedPlan().treeString()
    return [ln.lstrip(" :+-").split(" ", 1)[0] for ln in tree.splitlines()]


@pytest.mark.parametrize("fidelity", [False, True])
def test_flatten_is_one_pass(spark, fidelity):
    """Both reference branches come out of one generator over one scan:
    a second explode branch doubles the scans, tasks and sheet parts."""
    nodes = _plan_nodes(flatten_sheet(betting_tree_df(spark), fidelity=fidelity))
    assert "Union" not in nodes, nodes
    assert nodes.count("Generate") == 1, nodes
    assert nodes.count("LocalRelation") == 1, nodes
