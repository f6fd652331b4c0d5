"""The flatten centerpiece: 4-level unnest of the nested sports-betting
event tree into the 25-column sheet table (SURVEY.md §2.5 P1-P4;
reference main.py:40-177).

The reference loops market by market and takes one of two branches:

- Branch A (market HAS market_lines, main.py:82-133):
  ``event → markets[] → market_lines[] → selections[][]`` — iterates
  the OUTER selections list and takes only element ``[0]`` of each
  inner list (main.py:120-125).
- Branch B (no market_lines, main.py:134-176):
  ``event → markets[] → selections[][]`` — iterates BOTH levels,
  emitting a row per inner selection, with literal ``"NA"`` in the
  five Market Line columns (main.py:161-165).

The asymmetry (``[0]`` vs full iteration) is intentional reference
fidelity and is pinned by the golden test (tests/test_flatten.py).

Both branches come out of ONE generator: per market, ``transform`` /
``filter`` / ``flatten`` build the array of its row structs (branch
A's or branch B's, chosen per market) and ``inline`` emits them, so
the plan is one scan, one Generate and no Union. Each row struct
carries the branch flag ``a``; the cells that differ between branches
either live in the struct (the five Market Line cells, ``"NA"`` in
branch B) or test ``a`` (the ``fidelity=True`` renderings). Rows come
out market by market, the reference's own loop order.

``flatten`` returns NULL when any element is NULL, so every level is
filtered before it is flattened. That keeps ``explode``'s semantics:
a NULL ``markets``, market, market line or ``selections`` array and
an empty ``market_lines`` give no rows; in branch A a NULL or empty
inner list gives one row with ``""`` selection cells
(``try_element_at``); in branch B a NULL inner list gives no rows and
a NULL selection one row with ``""`` cells.

``fidelity`` flag (SURVEY.md §7 step 3): the reference renders
timestamps INCONSISTENTLY between branches — branch A converts
``scheduled`` to America/New_York (C1) and ``updated_at`` to
US/Eastern (C3), while branch B passes ``scheduled`` through RAW (C2)
and renders ``updated_at`` naive-server-local (C4). Default
``fidelity=False`` normalizes both branches to the C1/C3 renderings;
``fidelity=True`` reproduces the branch inconsistency exactly.

Documented semantic deltas from the reference (all crash-vs-default):
- missing/short ``competitors`` → ``""`` columns (reference raises
  IndexError on <2 competitors, main.py:104);
- null/unparseable ``scheduled`` in branch A → ``""`` (reference
  raises ValueError);
- empty inner selection list in branch A → ``""`` selection columns
  (reference raises IndexError);
- a NULL ``selections`` ARRAY drops that market line (branch A) /
  market (branch B) from the sheet — matching DuckDB ``unnest(NULL)``
  so the oracle agrees; the reference dies iterating None
  (DELTAS.md #12);
- ``updated_at`` ns→µs uses exact integer division (reference's
  ``/1e9`` double math can round the last µs digit, main.py:126-128).

Scale notes: the generator emits rows without buffering the tree, and
there is no shuffle anywhere in this operator; it is embarrassingly
parallel per input partition. Output grows by the selection fan-out
only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from sports_betting_data_pipeline_spark.io import _ensure_engine_confs
from sports_betting_data_pipeline_spark.operators.temporal import (
    iso_to_eastern_sql,
    ns_epoch_to_eastern_sql,
    ns_epoch_to_naive_sql,
)
from sports_betting_data_pipeline_spark.schemas import SHEET_COLUMNS

# The operator is two selectExpr calls whose SQL text is parsed
# server-side: the Column-operator form was ~4,400 Py4J round trips of
# pure construction (~0.9 s per flatten_sheet call — r6 profiling), all
# of it tiny expression-builder chatter. The flatten goldens and the
# p01 oracle pin the rendering cell-exact.

_EVENT_COLUMNS = ("event_id", "scheduled", "display_name", "status", "competitors")

_MARKET_FIELDS = (
    "'m_id', m.id, 'm_name', m.name, 'm_type', m.type, "
    "'m_status', m.status, 'm_updated_at', m.updated_at"
)

# Branch A (main.py:82-133): a row per outer selection group of each
# market line, taking the group's [0] (main.py:120); try_element_at
# gives null on an empty or null group where the reference would
# IndexError. favourite defaults to "NA" (main.py:118).
_BRANCH_A = (
    "flatten(transform(filter(m.market_lines, ml -> ml.selections IS NOT NULL), "
    "ml -> transform(ml.selections, g -> named_struct('a', true, "
    f"{_MARKET_FIELDS}, "
    "'ml_id', ml.id, 'ml_name', ml.name, 'ml_line', CAST(ml.line AS STRING), "
    "'ml_favourite', coalesce(ml.favourite, 'NA'), 'ml_type', ml.type, "
    "'sel', try_element_at(g, 1)))))"
)

# Branch B (main.py:134-176): a row per element of every inner group,
# "NA" in the five Market Line cells (main.py:161-165).
_BRANCH_B = (
    "flatten(transform(filter(m.selections, g -> g IS NOT NULL), "
    "g -> transform(g, s -> named_struct('a', false, "
    f"{_MARKET_FIELDS}, "
    "'ml_id', 'NA', 'ml_name', 'NA', 'ml_line', 'NA', "
    "'ml_favourite', 'NA', 'ml_type', 'NA', 'sel', s))))"
)

# A null market, and a branch-B market with null selections, have no
# rows. They are filtered out, not mapped to NULL: flatten() of an
# array holding a NULL is NULL, which would drop the event's other
# markets too.
_ROWS = (
    "inline(flatten(transform("
    "filter(markets, m -> m.market_lines IS NOT NULL OR m.selections IS NOT NULL), "
    f"m -> CASE WHEN m.market_lines IS NOT NULL THEN {_BRANCH_A} ELSE {_BRANCH_B} END)))"
)


def _s(x: str) -> str:
    """Stringify with the reference's `""` absent-default (main.py:96-125)."""
    return f"coalesce(CAST({x} AS STRING), '')"


def _competitor(idx: int, field: str) -> str:
    # competitors[idx].field with "" default; reference indexes [0]/[1]
    # unguarded (main.py:97-110) — we default instead of raising
    # (try_element_at: null, not ANSI error, on short arrays).
    return _s(f"try_element_at(competitors, {idx + 1}).{field}")


def _cells(fidelity: bool) -> dict[str, str]:
    """SQL of each sheet cell over one generated row (main.py:88-131)."""
    # C1: ISO-Z → America/New_York aware string (main.py:89-95).
    scheduled = iso_to_eastern_sql("scheduled")
    # C3: epoch-ns → US/Eastern aware string (main.py:126-131).
    updated = ns_epoch_to_eastern_sql("m_updated_at")
    if fidelity:
        # C2: branch B passes `scheduled` through raw (main.py:141).
        scheduled = f"CASE WHEN a THEN {scheduled} ELSE scheduled END"
        # C4: naive server-local rendering (main.py:172-174); engine
        # sessions are pinned UTC so this is the naive-UTC string.
        updated = f"CASE WHEN a THEN {updated} ELSE {ns_epoch_to_naive_sql('m_updated_at')} END"
    return {
        "Event ID": _s("event_id"),
        "Event Scheduled Time": _s(scheduled),
        "Event Name": _s("display_name"),
        "Event Competitor 1": _competitor(0, "display_name"),
        "Event Competitor 1 Abbreviation": _competitor(0, "abbreviation"),
        "Event Competitor 1 Side": _competitor(0, "side"),
        "Event Competitor 2": _competitor(1, "display_name"),
        "Event Competitor 2 Abbreviation": _competitor(1, "abbreviation"),
        "Event Competitor 2 Side": _competitor(1, "side"),
        "Market ID": _s("m_id"),
        "Market Name": _s("m_name"),
        "Market Type": _s("m_type"),
        "Market Status": _s("m_status"),
        "Market Line ID": _s("ml_id"),
        "Market Line Name": _s("ml_name"),
        "Market Line": _s("ml_line"),
        "Market Line Favourite": _s("ml_favourite"),
        "Market Line Type": _s("ml_type"),
        "Selection ID": _s("sel.line_id"),
        "Selection Name": _s("sel.display_name"),
        "Selection Odds": _s("sel.odds"),
        "Event Status": _s("status"),
        "Selection Stake": _s("sel.stake"),
        "Selection Value": _s("sel.value"),
        "Market Updated": _s(updated),
    }


def flatten_sheet(events: DataFrame, fidelity: bool = False) -> DataFrame:
    """Flatten a SPORT_EVENT-schema DataFrame into the 25-column sheet
    table (all StringType, reference column order).

    ``events`` must carry columns event_id, scheduled, display_name,
    status, competitors, markets per schemas.SPORT_EVENT.

    SIDE EFFECT: permanently pins ``spark.sql.session.timeZone=UTC``
    on the caller's session (``io._ensure_engine_confs``, the
    engine-wide contract of operators/temporal.py). It cannot be scoped
    with a set/restore context manager because the returned DataFrame
    is lazy — the rendering runs whenever the CALLER consumes the plan,
    long after any restore would have fired. Callers that need host-local-zone
    rendering elsewhere should use ``spark.newSession()`` for that
    work.
    """
    # The C1/C3/C4 renderings below require a UTC session zone
    # (operators/temporal.py's session-timezone contract); pin it here
    # like read_events_stream does, so a caller-provided session with
    # a host-local zone cannot double-shift the rendered strings.
    _ensure_engine_confs(events.sparkSession)
    cells = _cells(fidelity)
    return events.selectExpr(*_EVENT_COLUMNS, _ROWS).selectExpr(
        *(f"{cells[c]} AS `{c}`" for c in SHEET_COLUMNS)
    )
