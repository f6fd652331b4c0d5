"""The flatten centerpiece: 4-level unnest of the nested sports-betting
event tree into the 25-column sheet table (SURVEY.md §2.5 P1-P4;
reference main.py:40-177).

Reference semantics, re-expressed as a two-branch explode + union:

- Branch A (market HAS market_lines, main.py:82-133):
  ``event → markets[] → market_lines[] → selections[][]`` — iterates
  the OUTER selections list and takes only element ``[0]`` of each
  inner list (main.py:120-125).
- Branch B (no market_lines, main.py:134-176):
  ``event → markets[] → selections[][]`` — iterates BOTH levels,
  emitting a row per inner selection, with literal ``"NA"`` in the
  five Market Line columns (main.py:161-165).

The asymmetry (``[0]`` vs full iteration) is intentional reference
fidelity and is pinned by the golden test
(tests/test_flatten.py).

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

Scale notes: the explodes are generator-style (no row buffering); the
two branches each scan the source, but the scan is columnar and the
branch predicate (`market_lines IS NULL`) prunes early. Output grows
by the selection fan-out only — there is no shuffle anywhere in this
operator; it is embarrassingly parallel per input partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sports_betting_data_pipeline_spark.io import _ensure_engine_confs
from sports_betting_data_pipeline_spark.operators.temporal import (
    iso_to_eastern_sql,
    ns_epoch_to_eastern_sql,
    ns_epoch_to_naive_sql,
)
from sports_betting_data_pipeline_spark.schemas import SHEET_COLUMNS

# The 25-column projections below are emitted as SQL TEXT and parsed
# server-side (one F.expr per output column): the Column-operator form
# of this operator was ~4,400 Py4J round trips of pure construction
# (~0.9 s per flatten_sheet call — r6 profiling), all of it tiny
# expression-builder chatter. Trees are identical; the flatten goldens
# and the p01 oracle pin the rendering cell-exact.


def _s(x: str) -> str:
    """Stringify with the reference's `""` absent-default (main.py:96-125)."""
    return f"coalesce(CAST({x} AS STRING), '')"


def _competitor(df_col: str, idx: int, field: str) -> str:
    # competitors[idx].field with "" default; reference indexes [0]/[1]
    # unguarded (main.py:97-110) — we default instead of raising
    # (try_element_at: null, not ANSI error, on short arrays).
    return _s(f"try_element_at({df_col}, {idx + 1}).{field}")


def _event_columns(fidelity_branch_b: bool = False) -> list[tuple[str, str]]:
    """(sql, alias) event-level columns shared by both branches
    (main.py:88-110)."""
    if fidelity_branch_b:
        # C2: branch B passes `scheduled` through raw (main.py:141).
        scheduled = _s("scheduled")
    else:
        # C1: ISO-Z → America/New_York aware string (main.py:89-95).
        scheduled = _s(iso_to_eastern_sql("scheduled"))
    return [
        (_s("event_id"), "Event ID"),
        (scheduled, "Event Scheduled Time"),
        (_s("display_name"), "Event Name"),
        (_competitor("competitors", 0, "display_name"), "Event Competitor 1"),
        (
            _competitor("competitors", 0, "abbreviation"),
            "Event Competitor 1 Abbreviation",
        ),
        (_competitor("competitors", 0, "side"), "Event Competitor 1 Side"),
        (_competitor("competitors", 1, "display_name"), "Event Competitor 2"),
        (
            _competitor("competitors", 1, "abbreviation"),
            "Event Competitor 2 Abbreviation",
        ),
        (_competitor("competitors", 1, "side"), "Event Competitor 2 Side"),
    ]


def _market_columns() -> list[tuple[str, str]]:
    """Market-level columns (main.py:111-114)."""
    return [
        (_s("m_id"), "Market ID"),
        (_s("m_name"), "Market Name"),
        (_s("m_type"), "Market Type"),
        (_s("m_status"), "Market Status"),
    ]


def _selection_columns(sel: str) -> list[tuple[str, str]]:
    """Selection-level columns (main.py:120-125 / 166-171)."""
    return [
        (_s(f"{sel}.line_id"), "Selection ID"),
        (_s(f"{sel}.display_name"), "Selection Name"),
        (_s(f"{sel}.odds"), "Selection Odds"),
        (_s("status"), "Event Status"),
        (_s(f"{sel}.stake"), "Selection Stake"),
        (_s(f"{sel}.value"), "Selection Value"),
    ]


def _exprs(pairs: list[tuple[str, str]]) -> list[Column]:
    return [F.expr(sql).alias(alias) for sql, alias in pairs]


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
    event_cols = ["event_id", "scheduled", "display_name", "status", "competitors"]
    # Flatten market struct fields to top-level columns right after the
    # explode: keeps every later reference a plain attribute (avoids
    # Catalyst nested-field-extraction rewrites across chained
    # explode+union plans) and lets column pruning drop whole subtrees.
    exploded = events.select(
        *event_cols,
        F.explode("markets").alias("m"),
    ).select(
        *event_cols,
        F.col("m.id").alias("m_id"),
        F.col("m.name").alias("m_name"),
        F.col("m.type").alias("m_type"),
        F.col("m.status").alias("m_status"),
        F.col("m.updated_at").alias("m_updated_at"),
        F.col("m.market_lines").alias("m_market_lines"),
        F.col("m.selections").alias("m_selections"),
    )

    # --- Branch A: markets WITH lines (main.py:82-133) -----------------
    branch_a = (
        exploded.filter(F.col("m_market_lines").isNotNull())
        .select(
            *event_cols,
            "m_id",
            "m_name",
            "m_type",
            "m_status",
            "m_updated_at",
            F.explode("m_market_lines").alias("ml"),
        )
        .select(
            *event_cols,
            "m_id",
            "m_name",
            "m_type",
            "m_status",
            "m_updated_at",
            F.col("ml.id").alias("ml_id"),
            F.col("ml.name").alias("ml_name"),
            F.col("ml.line").alias("ml_line"),
            F.col("ml.favourite").alias("ml_favourite"),
            F.col("ml.type").alias("ml_type"),
            F.explode("ml.selections").alias("sel_group"),
        )
        # [0] only (main.py:120); try_element_at -> null on empty inner
        # lists where the reference would IndexError.
        .withColumn("sel", F.try_element_at("sel_group", F.lit(1)))
    )
    a_rows = branch_a.select(
        *_exprs(_event_columns(fidelity_branch_b=False)),
        *_exprs(_market_columns()),
        *_exprs([
            (_s("ml_id"), "Market Line ID"),
            (_s("ml_name"), "Market Line Name"),
            (_s("ml_line"), "Market Line"),
            ("coalesce(ml_favourite, 'NA')", "Market Line Favourite"),
            (_s("ml_type"), "Market Line Type"),
        ]),
        *_exprs(_selection_columns("sel")),
        # C3: epoch-ns → US/Eastern aware string (main.py:126-131).
        *_exprs([
            (_s(ns_epoch_to_eastern_sql("m_updated_at")), "Market Updated"),
        ]),
    )

    # --- Branch B: markets WITHOUT lines (main.py:134-176) -------------
    branch_b = (
        exploded.filter(F.col("m_market_lines").isNull())
        .select(
            *event_cols,
            "m_id",
            "m_name",
            "m_type",
            "m_status",
            "m_updated_at",
            F.explode("m_selections").alias("sel_group"),
        )
        .select(
            *event_cols,
            "m_id",
            "m_name",
            "m_type",
            "m_status",
            "m_updated_at",
            F.explode("sel_group").alias("sel"),  # ALL inner elements
        )
    )
    if fidelity:
        # C4: naive server-local rendering (main.py:172-174); engine
        # sessions are pinned UTC so this is the naive-UTC string.
        updated_b = _s(ns_epoch_to_naive_sql("m_updated_at"))
    else:
        updated_b = _s(ns_epoch_to_eastern_sql("m_updated_at"))
    b_rows = branch_b.select(
        *_exprs(_event_columns(fidelity_branch_b=fidelity)),
        *_exprs(_market_columns()),
        *_exprs([("'NA'", c) for c in (
            "Market Line ID",
            "Market Line Name",
            "Market Line",
            "Market Line Favourite",
            "Market Line Type",
        )]),
        *_exprs(_selection_columns("sel")),
        *_exprs([(updated_b, "Market Updated")]),
    )

    out = a_rows.unionByName(b_rows)
    return out.select(*SHEET_COLUMNS)
