"""Flatten/unnest catalog queries (SURVEY.md §2.5 P1-P5).

The betting-tree flatten itself is a rows-only query (its input is the
deterministic in-code fixture tree; exact cell values are pinned by the
golden test). The explode/union MECHANICS are additionally
oracle-checked through nest→unnest roundtrips over the relational
fixtures, where DuckDB can verify every value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sports_betting_data_pipeline_spark.fixtures import betting_tree_df
from sports_betting_data_pipeline_spark.io import load_table
from sports_betting_data_pipeline_spark.operators.flatten import flatten_sheet
from sports_betting_data_pipeline_spark.plans.catalog import register


def _p01_oracle_sql() -> str:
    """Hash-checked DuckDB UNNEST oracle for the flatten centerpiece.

    The fixture tree is embedded as ONE JSON literal generated from the
    SAME in-code source (fixtures.betting_tree_rows — the shared-literal
    trick used by the odds ladder), json_transform'd to native nested
    types, then re-flattened INDEPENDENTLY in SQL: branch A unnests
    market_lines and takes inner selection [1] (SQL 1-based = Spark
    element 0), branch B unnests both selection levels; timezone
    renderings (America/New_York / US/Eastern, Python str() format with
    conditional .ffffff and ±HH:MM offset) are recomputed via ICU.
    """
    import json as _json

    from sports_betting_data_pipeline_spark.fixtures import betting_tree_rows

    tree_json = _json.dumps(betting_tree_rows()).replace("'", "''")
    sel_t = (
        '[[{"line_id":"VARCHAR","display_name":"VARCHAR","name":"VARCHAR",'
        '"odds":"BIGINT","stake":"DOUBLE","value":"DOUBLE"}]]'
    )
    struct_t = (
        '[{"event_id":"BIGINT","name":"VARCHAR","display_name":"VARCHAR",'
        '"scheduled":"VARCHAR","status":"VARCHAR",'
        '"competitors":[{"display_name":"VARCHAR","abbreviation":"VARCHAR","side":"VARCHAR"}],'
        '"markets":[{"id":"VARCHAR","name":"VARCHAR","type":"VARCHAR","status":"VARCHAR",'
        '"updated_at":"BIGINT",'
        f'"market_lines":[{{"id":"VARCHAR","name":"VARCHAR","line":"DOUBLE",'
        f'"favourite":"VARCHAR","type":"VARCHAR","selections":{sel_t}}}],'
        f'"selections":{sel_t}}}]}}]'
    )

    def render_aware(ts_expr: str, tz: str) -> str:
        # Python str(aware datetime): local wall clock, '.ffffff' only
        # when nonzero, '±HH:MM' offset recovered by epoch difference.
        loc = f"timezone('{tz}', timezone('UTC', {ts_expr}))"
        off = f"(epoch({loc}) - epoch({ts_expr}))::BIGINT"
        frac = (
            f"(CASE WHEN strftime({loc}, '%f') != '000000' "
            f"THEN '.' || strftime({loc}, '%f') ELSE '' END)"
        )
        offs = (
            f"(CASE WHEN {off} < 0 THEN '-' ELSE '+' END || "
            f"lpad(CAST(abs({off}) // 3600 AS VARCHAR), 2, '0') || ':' || "
            f"lpad(CAST((abs({off}) // 60) % 60 AS VARCHAR), 2, '0'))"
        )
        return f"(strftime({loc}, '%Y-%m-%d %H:%M:%S') || {frac} || {offs})"

    sched = render_aware("strptime(e.scheduled, '%Y-%m-%dT%H:%M:%SZ')", "America/New_York")
    upd = render_aware("make_timestamp(mk.updated_at // 1000)", "US/Eastern")

    def s(x: str) -> str:
        return f"coalesce(CAST({x} AS VARCHAR), '')"

    ev_cols = f'''
      {s("e.event_id")} AS "Event ID",
      {s(sched)} AS "Event Scheduled Time",
      {s("e.display_name")} AS "Event Name",
      {s("e.competitors[1].display_name")} AS "Event Competitor 1",
      {s("e.competitors[1].abbreviation")} AS "Event Competitor 1 Abbreviation",
      {s("e.competitors[1].side")} AS "Event Competitor 1 Side",
      {s("e.competitors[2].display_name")} AS "Event Competitor 2",
      {s("e.competitors[2].abbreviation")} AS "Event Competitor 2 Abbreviation",
      {s("e.competitors[2].side")} AS "Event Competitor 2 Side",
      {s("mk.id")} AS "Market ID",
      {s("mk.name")} AS "Market Name",
      {s("mk.type")} AS "Market Type",
      {s("mk.status")} AS "Market Status"'''
    sel_cols = f'''
      {s("sel.line_id")} AS "Selection ID",
      {s("sel.display_name")} AS "Selection Name",
      {s("sel.odds")} AS "Selection Odds",
      {s("e.status")} AS "Event Status",
      {s("sel.stake")} AS "Selection Stake",
      {s("sel.value")} AS "Selection Value",
      {s(upd)} AS "Market Updated"'''

    return f"""
    WITH ev AS (
      SELECT unnest(json_transform('{tree_json}', '{struct_t}')) AS e
    ), m AS (
      SELECT e, unnest(e.markets) AS mk FROM ev
    ), a1 AS (
      SELECT e, mk, unnest(ml.selections) AS sel_group, ml
      FROM (SELECT e, mk, unnest(mk.market_lines) AS ml FROM m
            WHERE mk.market_lines IS NOT NULL)
    ), a2 AS (
      SELECT e, mk, ml, sel_group[1] AS sel FROM a1
    ), b1 AS (
      SELECT e, mk, unnest(sel_group) AS sel
      FROM (SELECT e, mk, unnest(mk.selections) AS sel_group FROM m
            WHERE mk.market_lines IS NULL)
    )
    SELECT {ev_cols},
      {s("ml.id")} AS "Market Line ID",
      {s("ml.name")} AS "Market Line Name",
      {s("ml.line")} AS "Market Line",
      coalesce(ml.favourite, 'NA') AS "Market Line Favourite",
      {s("ml.type")} AS "Market Line Type",
      {sel_cols}
    FROM a2
    UNION ALL
    SELECT {ev_cols},
      'NA' AS "Market Line ID", 'NA' AS "Market Line Name", 'NA' AS "Market Line",
      'NA' AS "Market Line Favourite", 'NA' AS "Market Line Type",
      {sel_cols}
    FROM b1
    """


@register("p01_flatten_sheet", oracle=_p01_oracle_sql())
def p01_flatten_sheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P4 centerpiece: nested betting tree → 25-col sheet table.

    Hash-checked driver oracle: the reference's two-branch flatten re-derived in
    DuckDB UNNEST SQL over the same JSON-literal tree (cell-identical,
    see _p01_oracle_sql). Both fidelity modes additionally pinned in
    tests/test_flatten.py goldens.
    """
    return flatten_sheet(betting_tree_df(spark), fidelity=False)


@register(
    "p02_nest_unnest_roundtrip",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus,
           l.l_linenumber,
           round(l.l_quantity, 2) AS qty,
           round(l.l_extendedprice, 2) AS price
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey % 20 = 0
    """,
)
def p02_nest_unnest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 mechanics, oracle-checked: build the nested shape
    (order → array<struct<lineitem>>) with collect_list(struct(...)),
    then explode it back flat. The oracle is the equivalent flat join —
    the roundtrip must be lossless.

    Scale: the nest groupBy shuffles on o_orderkey once; the explode is
    shuffle-free. This is exactly the markets-array attach J1 performs
    (mm_calls.py:100-105) followed by the main.py flatten.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        F.pmod(F.col("o_orderkey"), F.lit(20)) == 0
    )
    li = load_table(spark, sf_dir, "lineitem")
    nested = orders.join(
        li.groupBy("l_orderkey").agg(
            F.collect_list(
                F.struct("l_linenumber", "l_quantity", "l_extendedprice")
            ).alias("items")
        ),
        on=[orders.o_orderkey == F.col("l_orderkey")],
        how="inner",
    )
    return (
        nested.select("o_orderkey", "o_orderstatus", F.explode("items").alias("it"))
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.col("it.l_linenumber").alias("l_linenumber"),
            F.round("it.l_quantity", 2).alias("qty"),
            F.round("it.l_extendedprice", 2).alias("price"),
        )
    )


@register(
    "p03_two_branch_union",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_returnflag = 'R' THEN 'NA'
                ELSE CAST(l_quantity AS VARCHAR) END AS qty_str,
           CASE WHEN l_returnflag = 'R' THEN 'NA'
                ELSE l_linestatus END AS status_str,
           l_returnflag
    FROM lineitem
    WHERE l_orderkey % 50 = 0
    """,
)
def p03_two_branch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P3 mechanics, oracle-checked: split rows into two branches on
    a predicate, project one branch with literal 'NA' columns (the
    reference's branch-B literals, main.py:161-165), and unionByName —
    the oracle expresses the same as CASE WHEN."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.pmod(F.col("l_orderkey"), F.lit(50)) == 0
    )
    base = li.select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity", "l_linestatus")
    # branch A is the COMPLEMENT of branch B's predicate — including
    # NULL flags, exactly like the oracle's CASE ELSE; a bare != 'R'
    # drops NULL-flag rows from BOTH branches (fuzz_oracle nulls
    # variant; the mv01/src05 incomplete-partition lesson)
    branch_a = base.filter(
        F.col("l_returnflag").isNull() | (F.col("l_returnflag") != "R")
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("string").alias("qty_str"),
        F.col("l_linestatus").alias("status_str"),
        "l_returnflag",
    )
    branch_b = base.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey",
        "l_linenumber",
        F.lit("NA").alias("qty_str"),
        F.lit("NA").alias("status_str"),
        "l_returnflag",
    )
    return branch_a.unionByName(branch_b)


@register(
    "p04_struct_access",
    # upper() case-mapping contract (mirror of q_llm._lower_sql): the
    # engine's upper() is the JVM FULL mapping (ß→SS, ﬁ→FI, ﬂ→FL),
    # DuckDB's is utf8proc SIMPLE (ß→ẞ, ligatures unchanged). The
    # replace chain covers exactly the divergent codepoints the
    # unicode fuzz variant injects; the full SpecialCasing uppercase
    # table is impractical in SQL and unneeded — the engine's
    # behavior IS the contract (README "case-mapping oracle contract").
    oracle="""
    SELECT c_custkey,
           c_name            AS contact_name,
           upper(replace(replace(replace(c_mktsegment,
                 'ß', 'SS'), 'ﬁ', 'FI'), 'ﬂ', 'FL')) AS segment_uc,
           round(c_acctbal, 2) AS balance
    FROM customer
    WHERE c_custkey % 10 = 0
    """,
)
def p04_struct_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: nested struct field access — pack columns into a struct and
    read them back via getField (competitors[i].field shape,
    main.py:97-110)."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.pmod(F.col("c_custkey"), F.lit(10)) == 0
    )
    packed = cust.select(
        "c_custkey",
        F.struct(
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("segment"),
            F.col("c_acctbal").alias("balance"),
        ).alias("contact"),
    )
    return packed.select(
        "c_custkey",
        F.col("contact").getField("name").alias("contact_name"),
        F.upper(F.col("contact").getField("segment")).alias("segment_uc"),
        F.round(F.col("contact").getField("balance"), 2).alias("balance"),
    )
