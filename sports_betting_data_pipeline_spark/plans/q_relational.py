"""Relational query catalog: filters, joins, aggregations, windows,
set ops — the F/J/A surface of SURVEY.md §2.3-§2.7 exercised over the
driver's TPC-H-ish tables, each with a DuckDB oracle.

Scale posture per query is noted inline: which side broadcasts, where
the shuffle lands, what AQE is expected to do at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sports_betting_data_pipeline_spark.io import load_table
from sports_betting_data_pipeline_spark.operators.relational import (
    csv_concat_per_group,
    deterministic_sample,
    enrich_join,
    running_total,
    semi_join,
    stratified_sample,
    topk_per_group,
    whitelist_filter,
)
from sports_betting_data_pipeline_spark.plans.catalog import (
    json_k_extract,
    json_k_strict_bigint,
    register,
    sql_try_bigint,
)


# ---------------------------------------------------------------------------
# Aggregation suite (SURVEY.md §2.7) — flagship.
# ---------------------------------------------------------------------------
@register(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                      AS sum_qty,
           round(sum(l_extendedprice), 2)                                 AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)              AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 6)                                      AS avg_qty,
           round(avg(l_extendedprice), 6)                                 AS avg_price,
           round(avg(l_discount), 6)                                      AS avg_disc,
           count(*)                                                       AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-shaped pricing summary (scan→filter→agg→sort).

    Scale: partial aggregation map-side; shuffle carries only
    2-grouping-key × 8-agg partials (a few KB per task regardless of
    input size). Filter and 7-column projection push into the parquet
    scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "a01_global_counts",
    oracle="""
    SELECT count(*)                          AS n_orders,
           count(DISTINCT o_custkey)         AS n_customers,
           round(sum(o_totalprice), 2)       AS total_value,
           round(avg(o_totalprice), 6)       AS avg_value,
           round(min(o_totalprice), 2)       AS min_value,
           round(max(o_totalprice), 2)       AS max_value
    FROM orders
    """,
)
def a01_global_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A3: global scalar aggregates (count/countDistinct/sum/avg/min/max).

    The reference's `len(...)` summary counts (mm_calls.py:114-115) and
    balance scalar (mm_calls.py:219) as one single-row aggregate.
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.round(F.sum("o_totalprice"), 2).alias("total_value"),
        F.round(F.avg("o_totalprice"), 6).alias("avg_value"),
        F.round(F.min("o_totalprice"), 2).alias("min_value"),
        F.round(F.max("o_totalprice"), 2).alias("max_value"),
    )


@register(
    "a02_csv_concat_per_group",
    oracle="""
    SELECT o_custkey,
           string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS id_csv,
           count(*) AS n_ids
    FROM orders
    WHERE o_custkey % 100 = 0
    GROUP BY o_custkey
    """,
)
def a02_csv_concat_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/P5: per-group sorted CSV of ids (mm_calls.py:94's
    ','.join(event_ids) per tournament)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.pmod(F.col("o_custkey"), F.lit(100)) == 0
    )
    return csv_concat_per_group(orders, "o_custkey", "o_orderkey")


# ---------------------------------------------------------------------------
# Filters (SURVEY.md §2.3).
# ---------------------------------------------------------------------------
@register(
    "f01_whitelist_filter",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_customers,
           round(sum(c_acctbal), 2) AS total_acctbal
    FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def f01_whitelist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: IN-list whitelist (tournament whitelist, mm_calls.py:81-84).

    The IN-predicate is pushed into the parquet scan (PushedFilters).
    """
    cust = load_table(spark, sf_dir, "customer")
    kept = whitelist_filter(cust, "c_mktsegment", ["BUILDING", "AUTOMOBILE", "MACHINERY"])
    return (
        kept.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "f02_equality_filter",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           count(*) AS n_purchases,
           round(sum(value), 2) AS revenue
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY 1
    ORDER BY 1
    """,
)
def f02_equality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: equality predicate (market['type'] == 'moneyline',
    mm_calls.py:239) + daily rollup of the event stream."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("revenue"),
        )
        .orderBy("day")
    )


@register(
    "f03_json_field_existence",
    # try_cast contract (badjson variant): the engine's k is
    # try_cast(get_json_object(...) AS long) — NULL for any
    # non-integral extracted string; sql_try_bigint is the exact
    # DuckDB spelling (plans/catalog.py JSON coercion contract).
    oracle=f"""
    SELECT event_type,
           count(*) AS n_events,
           round(avg({sql_try_bigint(json_k_extract())}), 6) AS avg_k
    FROM events
    WHERE {sql_try_bigint(json_k_extract())} IS NOT NULL
      AND {sql_try_bigint(json_k_extract())} > 50
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def f03_json_field_existence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 + C6: existence predicate on a nested/JSON field
    ('market_lines' in market.keys(), main.py:82; JSON payload decode,
    mm_calls.py:167-174) via get_json_object."""
    events = load_table(spark, sf_dir, "events")
    # try_cast, not cast: Spark 4 defaults to ANSI mode, where one
    # corrupt props value ('{"k": "oops"}') ABORTS the whole query —
    # at 100 TB some payloads WILL be corrupt (badjson fuzz variant)
    k = F.get_json_object("props", "$.k").try_cast("long")
    return (
        events.withColumn("k", k)
        .filter(F.col("k").isNotNull() & (F.col("k") > 50))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("k"), 6).alias("avg_k"),
        )
        .orderBy("event_type")
    )


@register(
    "f06_deterministic_sample",
    oracle="""
    SELECT event_type, count(*) AS n_sampled
    FROM events
    WHERE event_id % 10 < 3
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def f06_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: ~30% sample, deterministic key-modulo form of the
    reference's random.random() < 0.3 (mm_calls.py:241)."""
    events = load_table(spark, sf_dir, "events")
    return (
        deterministic_sample(events, "event_id", keep=3, out_of=10)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY.md §2.4).
# ---------------------------------------------------------------------------
@register(
    "j01_enrichment_join",
    oracle="""
    SELECT r.r_name AS region,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY r.r_name
    """,
)
def j01_enrichment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: fact->dim enrichment chain as broadcast hash joins.

    The reference's map_market_by_event_id probe (mm_calls.py:98-105)
    is a hash join with an in-memory build side; here every dim
    (customer/nation/region) broadcasts, so the 100 TB orders fact
    never shuffles — one scan, map-side joins, then a 5-group agg.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    joined = enrich_join(
        enrich_join(
            enrich_join(orders, cust, on=[orders.o_custkey == cust.c_custkey]),
            nation,
            on=[F.col("c_nationkey") == nation.n_nationkey],
        ),
        region,
        on=[F.col("n_regionkey") == region.r_regionkey],
    )
    return (
        joined.groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("region")
    )


@register(
    "j02_semi_join_whitelist",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer
    WHERE c_nationkey IN (
        SELECT n_nationkey FROM nation n
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE'
    )
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def j02_semi_join_whitelist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/F1: whitelist as a broadcast LEFT SEMI join (EXISTS)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    euro_nations = enrich_join(
        nation, region, on=[nation.n_regionkey == region.r_regionkey]
    ).select(F.col("n_nationkey").alias("c_nationkey"))
    return (
        semi_join(cust, euro_nations, on="c_nationkey")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


@register(
    "j03_anti_join",
    oracle="""
    SELECT n.n_name AS nation, count(*) AS n_idle_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def j03_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS): customers with no urgent orders — the
    `key not in wagers` guard shape (mm_calls.py:305-306) as a set op."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    order_keys = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    idle = cust.join(order_keys, on="c_custkey", how="left_anti")
    return (
        enrich_join(idle, nation, on=[idle.c_nationkey == nation.n_nationkey])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_idle_customers"))
        .orderBy("nation")
    )


@register(
    "j04_lookup_join_contains",
    oracle="""
    SELECT p.p_brand AS brand,
           count(*) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_type LIKE '%AR%'
    GROUP BY p.p_brand
    ORDER BY p.p_brand
    """,
)
def j04_lookup_join_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 lookup join + C9 string-contains predicate
    ('broadcast' in channel_name, mm_calls.py:185)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type").contains("AR"))
    joined = enrich_join(li, part, on=[li.l_partkey == part.p_partkey])
    return (
        joined.groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# Windows, sort/limit, set ops, multi-dim aggregates (SURVEY.md §2.7).
# ---------------------------------------------------------------------------
@register(
    "w01_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS BIGINT) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def w01_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via row_number window (deterministic tiebreak).

    Scale: Spark inserts WindowGroupLimit (partial top-k before the
    shuffle), so the full per-customer sort never materializes.
    """
    orders = load_table(spark, sf_dir, "orders")
    ranked = topk_per_group(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        partition_by=["o_custkey"],
        order_by=[F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=3,
    )
    return ranked.withColumn("rn", F.col("rn").cast("long"))


@register(
    "w02_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate NULLS FIRST, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS running_total
    FROM orders
    WHERE o_custkey % 50 = 0
    """,
)
def w02_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) revenue per customer in order-date order."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.pmod(F.col("o_custkey"), F.lit(50)) == 0
    )
    out = running_total(
        orders,
        partition_by=["o_custkey"],
        order_by=[F.col("o_orderdate"), F.col("o_orderkey")],
        value="o_totalprice",
    )
    return out.select(
        "o_custkey", "o_orderkey", F.round("running_total", 2).alias("running_total")
    )


@register(
    "t01_orderby_limit",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 10
    """,
)
def t01_orderby_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-N: orderBy+limit compiles to TakeOrderedAndProject —
    per-partition heaps, no global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(10)
    )


@register(
    "s01_except",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
                                   AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                                   AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    """,
)
def s01_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference: customers active in 1995 but not 1996."""
    orders = load_table(spark, sf_dir, "orders")

    def active(year: int) -> DataFrame:
        return orders.filter(
            (F.col("o_orderdate") >= F.lit(f"{year}-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{year + 1}-01-01").cast("timestamp"))
        ).select("o_custkey")

    return active(1995).subtract(active(1996))


@register(
    "s02_union_distinct",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    UNION
    SELECT c_custkey AS o_custkey FROM customer WHERE c_acctbal > 9000
    """,
)
def s02_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of two branches + distinct — the P1∪P2 two-branch union
    shape (main.py:85/137) on relational data."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = cust.filter(F.col("c_acctbal") > 9000).select(
        F.col("c_custkey").alias("o_custkey")
    )
    return a.unionByName(b).distinct()


@register(
    "s03_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
    """,
)
def s03_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection: customers with both urgent and low orders."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = orders.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    return a.intersect(b)


@register(
    "d01_distinct",
    oracle="""
    SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    """,
)
def d01_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT projection (dedup on all projected columns)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select("o_orderstatus", "o_orderpriority").distinct()


@register(
    "r01_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_items,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    -- HAVING count(*) > 0: pins Spark's empty-input behavior — the
    -- Expand-based rollup/cube/grouping-sets emit NO grand-total row
    -- over an empty table (the SQL standard's () set would emit one
    -- with count 0); a no-op on any non-empty input since every
    -- grouping-set row aggregates >= 1 source row (fuzz_oracle
    -- empty_facts variant)
    HAVING count(*) > 0
    """,
)
def r01_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (subtotal + grand-total rows)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "r02_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    -- HAVING count(*) > 0: pins Spark's empty-input behavior — the
    -- Expand-based rollup/cube/grouping-sets emit NO grand-total row
    -- over an empty table (the SQL standard's () set would emit one
    -- with count 0); a no-op on any non-empty input since every
    -- grouping-set row aggregates >= 1 source row (fuzz_oracle
    -- empty_facts variant)
    HAVING count(*) > 0
    """,
)
def r02_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping-set combinations."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@register(
    "r03_pivot",
    oracle="""
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_O,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def r03_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one column per l_linestatus value (explicit value list so
    the plan needs no extra distinct-values job)."""
    li = load_table(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .orderBy("l_returnflag")
    )
    return out.select(
        "l_returnflag", F.col("O").alias("qty_O"), F.col("F").alias("qty_F")
    )


# ---------------------------------------------------------------------------
# Scalar-function projections (SURVEY.md §2.6).
# ---------------------------------------------------------------------------
@register(
    "c09_string_functions",
    # upper(): JVM FULL vs utf8proc SIMPLE mapping — replace chain for
    # the divergent codepoints the unicode fuzz injects (ß/ﬁ/ﬂ); see
    # q_flatten.p04 and README "case-mapping oracle contract".
    oracle="""
    SELECT CAST(p_partkey AS VARCHAR)            AS key_str,
           'P#' || CAST(p_partkey AS VARCHAR)    AS tagged,
           CAST(length(p_name) AS BIGINT)        AS name_len,
           upper(replace(replace(replace(p_brand,
                 'ß', 'SS'), 'ﬁ', 'FI'), 'ﬂ', 'FL')) AS brand_upper,
           CASE WHEN p_type LIKE '%AR%' THEN 'large_std' ELSE 'other' END AS family
    FROM part
    WHERE p_size <= 10
    """,
)
def c09_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9/C10: casts, concat, contains, length, case mapping —
    the str() key coercions (mm_calls.py:94,102) and contains checks
    (mm_calls.py:185,230) as JVM-side expressions."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    return part.select(
        F.col("p_partkey").cast("string").alias("key_str"),
        F.concat(F.lit("P#"), F.col("p_partkey").cast("string")).alias("tagged"),
        F.length("p_name").cast("long").alias("name_len"),
        F.upper("p_brand").alias("brand_upper"),
        F.when(F.col("p_type").contains("AR"), F.lit("large_std"))
        .otherwise("other")
        .alias("family"),
    )


@register(
    "c05_null_defaulting",
    oracle="""
    SELECT o_orderkey,
           coalesce(NULLIF(o_orderstatus, 'P'), 'NA') AS status_or_na,
           CASE WHEN o_totalprice > 200000 THEN o_totalprice ELSE 0.0 END AS big_price
    FROM orders
    WHERE o_orderkey % 7 = 0
    """,
)
def c05_null_defaulting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: absent-value defaulting — the reference's .get(k, '') /
    'NA' literals (main.py:96-125, 161-165) as coalesce/when chains."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.pmod(F.col("o_orderkey"), F.lit(7)) == 0
    )
    return orders.select(
        "o_orderkey",
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("NA")
        ).alias("status_or_na"),
        F.when(F.col("o_totalprice") > 200000, F.col("o_totalprice"))
        .otherwise(F.lit(0.0))
        .alias("big_price"),
    )


@register(
    "r04_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    -- HAVING count(*) > 0: pins Spark's empty-input behavior — the
    -- Expand-based rollup/cube/grouping-sets emit NO grand-total row
    -- over an empty table (the SQL standard's () set would emit one
    -- with count 0); a no-op on any non-empty input since every
    -- grouping-set row aggregates >= 1 source row (fuzz_oracle
    -- empty_facts variant)
    HAVING count(*) > 0
    """,
)
def r04_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS (completes the rollup/cube/pivot §2.7 family):
    per-flag totals, per-status totals, and the grand total in one
    pass — Spark expands to a single Expand + hash aggregate, one
    shuffle."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               count(*) AS n
        FROM v_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "a03_percentiles",
    oracle="""
    SELECT event_type,
           round(median(value), 6) AS med_value,
           round(quantile_cont(value, 0.9), 6) AS p90_value,
           CAST(count(*) AS BIGINT) AS n
    FROM events WHERE value IS NOT NULL
    GROUP BY 1
    """,
)
def a03_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (median + p90).

    Scale note: exact percentiles buffer each group's values — at
    100 TB switch to ``percentile_approx`` (t-digest, mergeable
    map-side); exact is used here because the oracle comparison needs
    bit-equal interpolation."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med_value"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90_value"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "a04_argmax_countif",
    oracle="""
    -- struct-wrapped arg_max/arg_min: the payload of the extreme row
    -- even when that payload is NULL (Spark max_by/min_by semantics);
    -- bare DuckDB arg_max skips NULL payloads and silently answers
    -- from a DIFFERENT row (fuzz_oracle nulls variant)
    SELECT user_id,
           (arg_max({'v': value}, event_id)).v AS latest_value,
           (arg_min({'v': event_type}, event_id)).v AS first_type,
           CAST(count(*) FILTER (WHERE value > 50) AS BIGINT) AS n_big,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1
    """,
)
def a04_argmax_countif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argument aggregates + filtered counts: max_by/min_by keyed on
    the unique event_id (deterministic ties) and count_if — all
    algebraic, all partial-aggregated map-side."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        F.max_by("value", "event_id").alias("latest_value"),
        F.min_by("event_type", "event_id").alias("first_type"),
        F.count_if(F.col("value") > 50).alias("n_big"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "w03_lag_delta",
    oracle="""
    SELECT user_id, event_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
           ) AS delta_us,
           lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
           ) AS next_type
    FROM events WHERE user_id % 7 = 0
    """,
)
def w03_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead windows: inter-event gaps and next-event lookahead per
    user (the sessionization building block) — one shuffle on
    user_id, both windows share the same sort."""
    events = load_table(spark, sf_dir, "events").filter(
        F.pmod(F.col("user_id"), F.lit(7)) == 0
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    return events.select(
        "user_id",
        "event_id",
        (us - F.lag(us).over(w)).alias("delta_us"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@register(
    "q02_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1995-03-15'
      AND l.l_shipdate > DATE '1995-03-15'
    GROUP BY 1, 3, 4
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q02_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter (customer segment)
    broadcast into the orders⋈lineitem fact join, aggregate, global
    top-10 via TakeOrderedAndProject. At 100 TB the date predicates
    prune partitions on both fact scans before any join."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1995-03-15"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1995-03-15"
    )
    return (
        o.join(F.broadcast(c.select("c_custkey")), o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "q03_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate < DATE '1997-01-01'
    GROUP BY 1
    """,
)
def q03_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table join — three broadcast dims
    (region→nation→supplier chain pre-reduced driver-free), one
    fact-fact hash join, one aggregate shuffle. The region filter
    cascades through the broadcast chain so only ASIA suppliers ever
    reach the probe side."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")

    nr = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    s_asia = s.join(F.broadcast(nr), s.s_nationkey == F.col("n_nationkey")).select(
        "s_suppkey", "s_nationkey", "n_name"
    )
    return (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s_asia), li.l_suppkey == F.col("s_suppkey"))
        .join(
            c,
            (c.c_custkey == o.o_custkey)
            & (c.c_nationkey == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "c07_json_typed_extract",
    # strict from_json struct contract (badjson variant): only
    # JSON-typed integers parse into struct<k: bigint> — see
    # plans/catalog.py json_k_strict_bigint.
    oracle=f"""
    SELECT event_type,
           CAST(sum({json_k_strict_bigint()}) AS BIGINT)
               AS sum_k,
           CAST(max({json_k_strict_bigint()}) AS BIGINT)
               AS max_k,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1
    """,
)
def c07_json_typed_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6's batch half: parse the JSON props payload against a
    declared schema (from_json, JVM-side — never Python json.loads)
    and aggregate the typed field."""
    events = load_table(spark, sf_dir, "events")
    k = F.from_json(
        F.col("props"), "struct<k: bigint>"
    ).getField("k")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "q04_priority_exists",
    oracle="""
    SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate < DATE '1996-07-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY 1
    """,
)
def q04_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS with a non-equi predicate —
    in Spark a LEFT SEMI join on the key plus the inequality in the
    join condition (one shuffle; the semi join stops probing each
    order at its first matching lineitem)."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > o.o_orderdate),
            how="left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "d02_count_distinct",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT user_id % 10) AS BIGINT) AS n_cohorts,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1
    """,
)
def d02_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column COUNT DISTINCT per group (Spark expands to
    an Expand + two-phase aggregate — one extra shuffle per distinct
    column set; at 100 TB prefer approx_count_distinct, whose HLL
    sketches merge map-side, pinned for accuracy in unit tests)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.pmod(F.col("user_id"), F.lit(10))).alias("n_cohorts"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "a05_statistical_aggregates",
    oracle="""
    -- corr spelled as covar/(sd*sd): the SAME float expression the
    -- engine computes (its try_divide form), so the two sides round
    -- identically at 6dp; the built-in corr()'s internal co-moment
    -- path can differ in the last ulp right at a rounding boundary
    -- (fuzz_oracle nulls variant). NULL on zero variance either way.
    SELECT event_type,
           round(stddev_samp(value), 6) AS sd_value,
           round(var_samp(value), 6) AS var_value,
           round(covar_samp(value, CAST(user_id AS DOUBLE))
                 / (stddev_samp(value)
                    * stddev_samp(CAST(user_id AS DOUBLE))), 6) AS corr_vu,
           round(covar_samp(value, CAST(user_id AS DOUBLE)), 6) AS cov_vu
    FROM events WHERE value IS NOT NULL
    GROUP BY 1
    """,
)
def a05_statistical_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregates (stddev/variance/correlation/
    covariance): all algebraic — partial (sum, sum², sum×y) merges
    map-side, so one shuffle regardless of group size."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    u = F.col("user_id").cast("double")
    # corr as try_divide(covar, sd*sd) — algebraically identical, but
    # a zero-variance group (one distinct value, or one row) yields
    # NULL like DuckDB/Postgres instead of ANSI Spark's built-in corr
    # throwing DIVIDE_BY_ZERO (fuzz_oracle ties/tiny variants)
    return events.groupBy("event_type").agg(
        F.round(F.stddev_samp("value"), 6).alias("sd_value"),
        F.round(F.var_samp("value"), 6).alias("var_value"),
        F.round(
            F.try_divide(
                F.covar_samp(F.col("value"), u),
                F.stddev_samp("value") * F.stddev_samp(u),
            ),
            6,
        ).alias("corr_vu"),
        F.round(F.covar_samp(F.col("value"), u), 6).alias("cov_vu"),
    )


@register(
    "c08_date_arithmetic",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
           CAST(last_day(o_orderdate) AS DATE) AS month_end,
           CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter_start,
           CAST(date_diff('day', o_orderdate, DATE '2000-01-01') AS BIGINT)
               AS days_to_y2k
    FROM orders WHERE o_orderkey % 100 = 0
    """,
)
def c08_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic kit: offset, month-end, quarter truncation,
    day difference — completing the C-family temporal surface with
    calendar (not instant) math."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.pmod(F.col("o_orderkey"), F.lit(100)) == 0
    )
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_add(d, 30).alias("due_date"),
        F.last_day(d).alias("month_end"),
        F.to_date(F.date_trunc("quarter", d)).alias("quarter_start"),
        F.datediff(F.to_date(F.lit("2000-01-01")), d).cast("long").alias(
            "days_to_y2k"
        ),
    )


# ANSI text valid in BOTH Spark SQL and DuckDB: the same string is the
# query and its oracle, demonstrating the spark.sql surface end-to-end.
_SQL01 = """
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(c.c_acctbal), 2) AS total_balance,
           round(avg(CASE WHEN c.c_acctbal > 0 THEN c.c_acctbal END), 6)
               AS avg_positive_balance
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
"""


@register("sql01_pure_sql", oracle=_SQL01)
def sql01_pure_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL string surface: fixture tables registered as views and
    ONE dialect-shared ANSI string executed by both engines — Catalyst
    plans it identically to the DataFrame form (broadcast dim join +
    partial aggregation)."""
    from sports_betting_data_pipeline_spark.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL01)


@register(
    "a06_approx_count_distinct",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           TRUE AS approx_within_2pct,
           count(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
    """,
)
def a06_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct counts per market segment —
    the sketch that replaces exact count-distinct at 100 TB (exact
    needs a full shuffle of every distinct key; the sketch is a fixed
    few-KB buffer per group, mergeable map-side).

    Oracle design: raw sketch values are engine-specific (DuckDB's
    approx_count_distinct is a different sketch), so the query emits
    the engine-INDEPENDENT contract instead — the exact count plus a
    flag asserting the HLL estimate landed within its ≤2% relative
    error bound. The oracle computes the exact count and expects the
    flag TRUE, so the driver hash-checks both the aggregation pipeline
    and the sketch's accuracy contract (upgraded from rows-only, r4;
    the same bound is pinned with raw values in tests/test_plans.py).
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    # Two-level rewrite: dedupe (segment, custkey) FIRST, then sketch +
    # count over the distinct keys. HLL is duplicate-insensitive, so
    # the estimate is identical — but the 2^14-register rsd=0.01
    # sketch now updates once per DISTINCT key instead of once per
    # expanded fact row, and the exact count needs no distinct-expand
    # at all (it's a plain count of the deduped rows). 3.4s → 1.1s at
    # sf0.1; at 100 TB the first level is the standard partial-combine
    # shuffle and the sketch level is O(|keys|).
    per_cust = (
        orders.join(
            F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey")
        )
        .groupBy("c_mktsegment", "o_custkey")
        .agg(F.count(F.lit(1)).alias("_n_cust_orders"))
    )
    return (
        per_cust.groupBy("c_mktsegment")
        .agg(
            F.approx_count_distinct("o_custkey", rsd=0.01).alias("_approx"),
            F.count(F.lit(1)).alias("exact_customers"),
            F.sum("_n_cust_orders").alias("n_orders"),
        )
        .select(
            "c_mktsegment",
            "exact_customers",
            (
                F.abs(F.col("_approx") - F.col("exact_customers"))
                <= 0.02 * F.col("exact_customers")
            ).alias("approx_within_2pct"),
            "n_orders",
        )
    )


@register(
    "f07_stratified_sample",
    oracle="""
    SELECT event_type, count(*) AS n_sampled
    FROM events
    WHERE (event_type = 'view' AND event_id % 10 < 1)
       OR (event_type = 'click' AND event_id % 10 < 2)
       OR (event_type = 'purchase' AND event_id % 2 < 1)
       -- IS NULL spelled out: a NULL stratum is a rare stratum kept
       -- whole (the engine's pinned behavior), but NULL NOT IN (...)
       -- is NULL, silently dropping the group (fuzz_oracle nulls)
       OR event_type IS NULL
       OR event_type NOT IN ('view', 'click', 'purchase')
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def f07_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling: downsample the high-volume strata (views
    10%, clicks 20%, purchases 50%) and keep the rare ones whole — the
    class-rebalancing shape of a training-data pipeline, in the
    deterministic key-modulo form so it is oracle-checkable.

    Scale: a pure scan-side predicate — no shuffle, no RNG state;
    rebalancing 100 TB costs one pass.
    """
    events = load_table(spark, sf_dir, "events")
    sampled = stratified_sample(
        events,
        key="event_id",
        strata_col="event_type",
        rates={"view": (1, 10), "click": (2, 10), "purchase": (1, 2)},
    )
    return (
        sampled.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .orderBy("event_type")
    )


@register(
    "w04_funnel_conversion",
    oracle="""
    WITH u AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
               max(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase,
               count(CASE WHEN event_type = 'view' THEN 1 END) AS n_views,
               count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases
        FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           CAST(sum(CASE WHEN n_views > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_viewers,
           CAST(sum(CASE WHEN n_purchases > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_purchasers,
           CAST(sum(CASE WHEN n_views > 0 AND last_purchase >= first_view
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
    FROM u
    """,
)
def w04_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analytics: per-user view→purchase conversion via
    conditional min/max aggregates (no self-join — the funnel edges
    come out of one grouped pass).

    Scale: one user_id shuffle carrying 4 partial aggregates per user;
    the final global rollup is a single-row reduce.
    """
    events = load_table(spark, sf_dir, "events")
    is_view = F.col("event_type") == "view"
    is_purch = F.col("event_type") == "purchase"
    u = events.groupBy("user_id").agg(
        F.min(F.when(is_view, F.col("ts"))).alias("first_view"),
        F.max(F.when(is_purch, F.col("ts"))).alias("last_purchase"),
        F.count(F.when(is_view, F.lit(1))).alias("n_views"),
        F.count(F.when(is_purch, F.lit(1))).alias("n_purchases"),
    )
    converted = (
        (F.col("n_views") > 0)
        & F.col("last_purchase").isNotNull()
        & (F.col("last_purchase") >= F.col("first_view"))
    )
    return u.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("n_views") > 0, 1).otherwise(0)).alias("n_viewers"),
        F.sum(F.when(F.col("n_purchases") > 0, 1).otherwise(0)).alias(
            "n_purchasers"
        ),
        F.sum(F.when(converted, 1).otherwise(0)).alias("n_converted"),
    )


@register(
    "a07_approx_quantiles",
    oracle="""
    WITH b AS (
        SELECT count(*) AS n_orders,
               quantile_cont(o_totalprice, [0.24, 0.49, 0.89, 0.98]) AS lo,
               quantile_cont(o_totalprice, [0.26, 0.51, 0.91, 1.00]) AS hi
        FROM orders
    ), p AS (
        SELECT unnest([0.25, 0.5, 0.9, 0.99]) AS p,
               unnest([1, 2, 3, 4]) AS i
    )
    -- empty input: still one row per requested p, with NULL bounds
    -- and a NULL (unknown) accuracy flag — there is no estimate to be
    -- inside or outside the window (fuzz_oracle empty_facts variant)
    SELECT p.p,
           round(b.lo[p.i], 6) AS rank_lo,
           round(b.hi[p.i], 6) AS rank_hi,
           CASE WHEN b.n_orders = 0 THEN NULL ELSE TRUE END
               AS within_rank_error,
           b.n_orders
    FROM p, b
    """,
)
def a07_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate quantiles of order value — the
    mergeable quantile sketch that replaces exact percentiles at
    100 TB (exact needs a global sort; the sketch is a bounded buffer
    merged map-side).

    Oracle design: raw sketch values are engine-specific (DuckDB's
    approx_quantile is a t-digest), so the query emits the
    engine-INDEPENDENT contract — for each p, the exact percentiles at
    p ± 1% (exact interpolated percentiles DO hash-match cross-engine,
    see a03) and a flag asserting the GK estimate (accuracy=10000)
    landed inside that rank-error window. The oracle recomputes the
    window and expects TRUE, so the driver hash-checks the sketch's
    accuracy contract (upgraded from rows-only, r4; raw values pinned
    in tests/test_plans.py). One scalar row per p — array columns
    don't canonicalize in the driver harness (r3 adjudication).
    """
    orders = load_table(spark, sf_dir, "orders")
    probs = [0.25, 0.5, 0.9, 0.99]
    lo_ps = [0.24, 0.49, 0.89, 0.98]
    hi_ps = [0.26, 0.51, 0.91, 1.00]
    agg = orders.agg(
        F.percentile_approx("o_totalprice", probs, 10000).alias("qs"),
        F.expr(
            f"percentile(o_totalprice, array({','.join(map(str, lo_ps))}))"
        ).alias("los"),
        F.expr(
            f"percentile(o_totalprice, array({','.join(map(str, hi_ps))}))"
        ).alias("his"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    prob_arr = F.array(*[F.lit(p) for p in probs])
    idx = F.col("pos") + 1
    # empty input: the sketch aggregate is NULL and posexplode(NULL)
    # would drop ALL output rows — explode a NULL-filled array instead
    # so each requested p still reports (NULL bounds, NULL flag), the
    # oracle's shape (fuzz_oracle empty_facts variant)
    null_qs = F.array(*[F.lit(None).cast("double") for _ in probs])
    return (
        agg.select(
            F.posexplode(F.coalesce(F.col("qs"), null_qs)).alias("pos", "qv"),
            "los",
            "his",
            "n_orders",
        )
        .select(
            F.element_at(prob_arr, idx).alias("p"),
            F.round(F.element_at("los", idx), 6).alias("rank_lo"),
            F.round(F.element_at("his", idx), 6).alias("rank_hi"),
            (
                (F.col("qv") >= F.element_at("los", idx))
                & (F.col("qv") <= F.element_at("his", idx))
            ).alias("within_rank_error"),
            "n_orders",
        )
        .orderBy("p")
    )


@register(
    "w05_sessionization",
    oracle="""
    WITH d AS (
        SELECT user_id, event_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 6 HOUR
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
    ), s AS (
        SELECT user_id, ts,
               CAST(sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS BIGINT) AS session_no
        FROM d
    )
    SELECT user_id, session_no,
           count(*) AS n_events,
           epoch_us(min(ts)) AS start_us,
           epoch_us(max(ts)) AS end_us
    FROM s GROUP BY user_id, session_no
    """,
)
def w05_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): a new session starts
    after a >6h silence; session_no is the running count of session
    starts — the batch mirror of the streaming session_window (st03).

    Scale: both windows share ONE user_id partitioning, so the whole
    query is a single shuffle followed by two linear per-key passes;
    ties on ts break on event_id so islands are engine-independent.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 6 * 3600 * 1_000_000
    d = events.withColumn(
        "new_sess",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > gap_us
            ),
            1,
        ).otherwise(0),
    )
    s = d.withColumn(
        "session_no",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return s.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.unix_micros(F.min("ts")).alias("start_us"),
        F.unix_micros(F.max("ts")).alias("end_us"),
    )


@register(
    "s04_except_all",
    oracle="""
    SELECT l_orderkey AS orderkey,
           count(*) AS n_extra_copies
    FROM (
        SELECT l_orderkey FROM lineitem
        EXCEPT ALL
        SELECT o_orderkey FROM orders
    )
    GROUP BY 1
    HAVING count(*) >= 3
    ORDER BY n_extra_copies DESC, orderkey
    """,
)
def s04_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset difference (EXCEPT ALL): per-key copy counting, not the
    set semantics of s01 — an orderkey with 5 lineitems and 1 order row
    survives with 4 copies. The classic use is diffing two loads of the
    same feed where duplicate ROWS (not just duplicate keys) matter.

    Scale: Spark plans exceptAll as a tagged union + grouped count-diff
    + generate — one shuffle on the compared columns, no join; the
    HAVING keeps the output to the multi-line orders only.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey")
    )
    return (
        li.exceptAll(orders)
        .groupBy("orderkey")
        .agg(F.count(F.lit(1)).alias("n_extra_copies"))
        .filter(F.col("n_extra_copies") >= 3)
        .orderBy(F.desc("n_extra_copies"), F.asc("orderkey"))
    )


@register(
    "w06_ntile_quartiles",
    oracle="""
    WITH t AS (
        SELECT c_mktsegment, c_acctbal,
               -- NULLS FIRST: the engine contract (Spark ASC default)
               ntile(4) OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY c_acctbal NULLS FIRST, c_custkey
               ) AS quartile
        FROM customer
    )
    SELECT c_mktsegment, quartile,
           count(*) AS n_customers,
           round(min(c_acctbal), 2) AS min_bal,
           round(avg(c_acctbal), 6) AS avg_bal,
           round(max(c_acctbal), 2) AS max_bal
    FROM t
    GROUP BY c_mktsegment, quartile
    ORDER BY c_mktsegment, quartile
    """,
)
def w06_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency bucketing: ntile(4) within each market segment,
    then per-quartile balance stats — the quantile-binning shape used
    for cohort features (and for choosing range-partition bounds).
    Tie-broken on c_custkey so bucket edges are engine-independent.

    Scale: one shuffle on c_mktsegment; ntile needs the whole partition
    ordered, which is exactly what a range-partitioned sort gives. For
    a skewed segment at 100 TB the same result comes from approx
    quantile cuts (a07's sketch) + a scan-side bucket join — this query
    pins the exact small-cardinality form.
    """
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        customer.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("c_mktsegment", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
        .orderBy("c_mktsegment", "quartile")
    )


@register(
    "w07_time_range_moving_avg",
    oracle="""
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           CAST(count(*) OVER w AS BIGINT) AS n_in_hour,
           round(avg(value) OVER w, 6) AS avg_in_hour
    FROM events
    WHERE user_id < 30
    WINDOW w AS (
        PARTITION BY user_id
        ORDER BY ts
        RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
    )
    """,
)
def w07_time_range_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frame: per user, the count and mean of
    event values in the trailing hour at each event — the moving
    average every odds/price stream chart draws, and the frame type
    ROWS windows cannot express (events are irregularly spaced, so
    "last N rows" is not "last hour").

    Scale: one shuffle on user_id + per-partition sort on ts — the
    RANGE frame is evaluated by a sliding two-pointer pass over each
    sorted partition, O(rows) amortized, state bounded by the widest
    hour. Spark's RANGE frames need a numeric ordering key, so the
    frame orders by epoch seconds (identical ordering to ts; the
    rendered ts_us output column stays exact µs).
    """
    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3600 * 1000 * 1000, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.count(F.lit(1)).over(w).alias("n_in_hour"),
        F.round(F.avg("value").over(w), 6).alias("avg_in_hour"),
    )


@register(
    "a08_equiheight_histogram",
    oracle="""
    WITH cuts AS (
        SELECT list_transform(
                   quantile_cont(l_extendedprice,
                                 [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
                   q -> round(q, 4)
               ) AS qs
        FROM lineitem
    )
    SELECT CAST(len(list_filter(qs, q -> l_extendedprice > q)) AS INT)
               AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(min(l_extendedprice), 2) AS lo,
           round(max(l_extendedprice), 2) AS hi
    FROM lineitem, cuts
    GROUP BY 1
    ORDER BY 1
    """,
)
def a08_equiheight_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-height (equi-depth) histogram — the statistic every
    cost-based optimizer keeps per column: exact interpolated decile
    cuts, then each row bucketed by how many cuts it exceeds. Bucket
    populations should be ~10% each; the (lo, hi) bounds expose the
    value ranges.

    Cuts are rounded to 4dp on BOTH engines before bucketing so the
    boundary comparisons are bit-identical (an interpolated cut is
    arithmetic-order-sensitive in its last ulp; a 2dp price never
    collides with a 4dp-rounded cut except when the cut IS that exact
    data point, which rounds exactly on both sides).

    Scale: pass 1 computes the cuts with the DISTRIBUTED exact
    quantile operator (operators/quantiles.py, r7: iterative bucket
    refinement — histogram scans with map-side combine steer each
    target rank into an ever-narrower candidate set; only histogram
    partials ever shuffle, and the final window ranks a
    threshold-bounded candidate slice) — builtin ``percentile`` is
    also exact but funnels every value through one final merge buffer,
    the shape that dies at 100 TB, and the r6 range-partition+sort
    design shuffled the whole column to answer 18 ranks. Pass 2
    re-scans with the cuts BROADCAST as a 1-row scalar and buckets
    map-side — the same two-pass scan-heavy/shuffle-light shape as
    l33's budget cutoff.
    """
    from sports_betting_data_pipeline_spark.operators.quantiles import (
        exact_quantile_cuts,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    cuts = exact_quantile_cuts(
        li, "l_extendedprice", [p / 10.0 for p in range(1, 10)]
    )
    # Unrolled comparison sum, not an F.aggregate fold: HOF folds run
    # interpreted per row, while this 9-term IF-sum stays inside
    # whole-stage codegen (measured ~0.4 s on the 600k-row probe at
    # sf0.1; identical output). The small-unroll regime — at ~10 terms
    # codegen wins, at 64 (MinHash) the unroll loses to the fold
    # (SCALE.md, measured-and-rejected there).
    bucket = F.expr(
        " + ".join(
            f"IF(l_extendedprice > element_at(qs, {i}), 1, 0)"
            for i in range(1, 10)
        )
    )
    return (
        li.join(F.broadcast(cuts))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("l_extendedprice"), 2).alias("lo"),
            F.round(F.max("l_extendedprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


@register(
    "f08_weighted_sample",
    oracle="""
    WITH keyed AS (
        SELECT c_mktsegment, c_custkey, round(c_acctbal, 2) AS weight,
               ln((('0x' || left(md5(CAST(c_custkey AS VARCHAR)), 8))::BIGINT
                   + 1.0) / 4294967296.0) / c_acctbal AS es_key
        FROM customer
        WHERE c_acctbal > 0.0
    )
    SELECT c_mktsegment, c_custkey, weight, rank
    FROM (
        SELECT c_mktsegment, c_custkey, weight,
               CAST(row_number() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY es_key DESC, c_custkey
               ) AS BIGINT) AS rank
        FROM keyed
    ) WHERE rank <= 5
    """,
)
def f08_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-Res): 5 customers per market segment, drawn
    with probability proportional to account balance — the
    quality-weighted corpus-sampling primitive (sample shards
    proportional to quality score, upsample high-value sources).

    The per-row uniform is md5-derived (engine-portable randomness, as
    l26/wg01): u = (uint32 of the first 8 md5 hex chars + 1)/2^32;
    rows compete on ln(u)/weight and the top-5 per segment win. Both
    engines compute the identical draw, so the "random" sample itself
    is hash-checked.

    Scale: key computation is map-only; the per-group top-5 is a
    WindowGroupLimit-pruned shuffle on the segment key — the same
    one-shuffle top-k shape as w01, with the weighting folded into the
    sort key instead of a separate pass.
    """
    from sports_betting_data_pipeline_spark.operators.relational import (
        weighted_sample,
    )

    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") > 0.0
    )
    out = weighted_sample(
        customer,
        k=5,
        weight_col="c_acctbal",
        key_cols=["c_custkey"],
        partition_by="c_mktsegment",
    )
    return out.select(
        "c_mktsegment",
        "c_custkey",
        F.round("c_acctbal", 2).alias("weight"),
        F.col("_rank").alias("rank"),
    )


@register(
    "a09_mode_per_group",
    oracle="""
    SELECT c_mktsegment, o_orderpriority AS mode_priority,
           CAST(n AS BIGINT) AS n_orders
    FROM (
        SELECT c_mktsegment, o_orderpriority, count(*) AS n,
               row_number() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY count(*) DESC, o_orderpriority
               ) AS rn
        FROM orders JOIN customer ON c_custkey = o_custkey
        GROUP BY c_mktsegment, o_orderpriority
    ) WHERE rn = 1
    """,
)
def a09_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group with a DETERMINISTIC tiebreak
    (highest count, then lexicographically smallest value) — built-in
    ``mode()`` is non-deterministic on ties in both engines, which is
    exactly the kind of silent nondeterminism an oracle-checked
    catalog can't ship.

    Scale: count per (group, value) is one map-side-combined shuffle;
    the argmax is a WindowGroupLimit-pruned window over the count
    table (|groups|×|distinct values| rows — tiny), never over the
    fact.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    counts = (
        orders.join(F.broadcast(customer), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("n"), F.asc("o_orderpriority")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("n_orders"),
        )
    )


@register(
    "a10_skew_report",
    oracle="""
    WITH counts AS (
        SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY l_suppkey
    ), stats AS (
        SELECT avg(n) AS mean_n, sum(n) AS total_n FROM counts
    )
    SELECT l_suppkey,
           CAST(n AS BIGINT) AS n_rows,
           round(100.0 * n / total_n, 4) AS pct_of_total,
           round(n / mean_n, 4) AS skew_factor
    FROM counts, stats
    ORDER BY n_rows DESC, l_suppkey
    LIMIT 5
    """,
)
def a10_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key skew diagnosis — the report you run BEFORE
    deciding to salt (j05) or split: per-key row counts with each
    key's share of the table and its skew factor against the mean,
    top-5 offenders. A skew_factor near 1 means a uniform keyspace;
    10+ on a big key is the straggler that pins one reducer at 100 TB.

    Scale: one map-side-combined count shuffle (|keys| rows out), the
    mean/total as a 1-row broadcast scalar, and a TakeOrdered top-5 —
    the diagnosis costs one scan regardless of table size.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey")
    counts = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("n"))
    stats = counts.agg(
        F.avg("n").alias("_mean_n"), F.sum("n").alias("_total_n")
    )
    return (
        counts.join(F.broadcast(stats))
        .select(
            "l_suppkey",
            F.col("n").alias("n_rows"),
            F.round(100.0 * F.col("n") / F.col("_total_n"), 4).alias(
                "pct_of_total"
            ),
            F.round(F.col("n") / F.col("_mean_n"), 4).alias("skew_factor"),
        )
        .orderBy(F.desc("n_rows"), F.asc("l_suppkey"))
        .limit(5)
    )


@register(
    "a11_weighted_median",
    oracle="""
    WITH cum AS (
        SELECT l_returnflag, l_extendedprice, l_quantity,
               -- NULLS FIRST on the nullable keys: the engine contract
               -- (Spark ASC default); DuckDB defaults NULLS LAST
               sum(l_quantity) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice NULLS FIRST, l_orderkey,
                            l_linenumber NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_w,
               sum(l_quantity) OVER (PARTITION BY l_returnflag) AS total_w
        FROM lineitem
    )
    SELECT l_returnflag,
           round(min(l_extendedprice), 2) AS weighted_median,
           round(max(total_w), 2) AS total_weight
    FROM cum
    WHERE cum_w >= total_w / 2
    GROUP BY l_returnflag
    """,
)
def a11_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median per group: the smallest l_extendedprice whose
    cumulative l_quantity weight reaches half the group's total — the
    robust "typical price per shipped unit" statistic that a plain
    median (each ROW weighted equally) misstates whenever quantity and
    price correlate. Neither engine has a weighted-median builtin; the
    cumulative-weight formulation is the standard distributed one.

    Ordering ties are broken by (l_orderkey, l_linenumber) so the
    running weight — and therefore the selected row — is fully
    deterministic in both engines.

    Scale: one composite sort-window per group partition plus a
    trivial aggregate; partitions by l_returnflag (low cardinality —
    at 100 TB swap in a higher-cardinality group key or pre-bucket by
    (flag, price-range) and merge partial CDFs; the window itself is
    sort-based, it spills rather than OOMs).
    """
    li = load_table(spark, sf_dir, "lineitem")
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("l_returnflag")
    cum = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("l_quantity").over(wcum).alias("cum_w"),
        F.sum("l_quantity").over(wall).alias("total_w"),
    )
    return (
        cum.filter(F.col("cum_w") >= F.col("total_w") / 2)
        .groupBy("l_returnflag")
        .agg(
            F.round(F.min("l_extendedprice"), 2).alias("weighted_median"),
            F.round(F.max("total_w"), 2).alias("total_weight"),
        )
    )


@register(
    "w08_cumulative_distinct",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN row_number() OVER (
                   PARTITION BY user_id, event_type ORDER BY ts NULLS FIRST, event_id
               ) = 1 THEN 1 ELSE 0 END AS first_seen
        FROM events
        WHERE user_id < 10
    )
    SELECT user_id, event_id,
           CAST(sum(first_seen) OVER (
               PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS types_seen_so_far
    FROM flagged
    """,
)
def w08_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over an ordered stream — how many
    distinct event types each user has produced as of every event.
    Neither engine allows DISTINCT inside a running window frame; the
    standard rewrite marks each (user, type)'s first occurrence with a
    row_number window, then running-sums the 0/1 marks. Feature
    engineering's "breadth of behavior so far" signal.

    Scale: two sort-windows, the second's (user_id) partitioning a
    prefix of the first's (user_id, event_type) — one exchange under
    AQE; no distinct-state kept per frame (that rewrite is what makes
    the query linear instead of quadratic in events-per-user).
    """
    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    wfirst = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.row_number().over(wfirst) == 1, 1).otherwise(0).alias("first_seen"),
    )
    return flagged.select(
        "user_id",
        "event_id",
        F.sum("first_seen").over(wrun).alias("types_seen_so_far"),
    )


@register(
    "pl05_feature_store",
    oracle="""
    WITH lagged AS (
        SELECT user_id, ts, event_id, event_type, value,
               -- NULLS FIRST: the engine contract (Spark's ASC
               -- default); DuckDB windows default NULLS LAST, which
               -- silently reorders NULL-ts rows (fuzz_oracle nulls)
               lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
               ) AS prev_ts
        FROM events
    )
    SELECT user_id,
           CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
               AS frequency,
           round(coalesce(sum(value) FILTER (event_type = 'purchase'), 0.0), 2)
               AS monetary,
           CAST((1706745600000000
                 - epoch_us(max(ts) FILTER (event_type = 'purchase')))
                // 1000000 AS BIGINT) AS recency_s,
           CAST(count(DISTINCT event_type) AS BIGINT) AS breadth,
           CAST(sum(CASE WHEN prev_ts IS NULL
                          OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           CASE WHEN (('0x' || left(md5(CAST(user_id AS VARCHAR)), 8))::BIGINT
                      % 10) < 8 THEN 'train'
                WHEN (('0x' || left(md5(CAST(user_id AS VARCHAR)), 8))::BIGINT
                      % 10) = 8 THEN 'val'
                ELSE 'test' END AS split
    FROM lagged
    GROUP BY user_id
    """,
)
def pl05_feature_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end FEATURE-STORE pipeline over the event stream: one
    pass produces the classic user-level training features — RFM
    (recency of last purchase in seconds before the cutoff, purchase
    frequency, monetary total), behavioral breadth (distinct event
    types), session count (30-minute-gap sessionization folded into
    the same pass as a lag-window + conditional sum), and the
    deterministic md5-derived train/val/test split (l44's idiom keyed
    on user) — the table a downstream model trains from.

    Scale: ONE lag window and ONE grouped aggregate, both keyed
    user_id — a single exchange under AQE; sessionization costs no
    extra shuffle because counting session STARTS (gap > 30 min)
    needs only the lag, not session ids. The split column is pure
    map-side arithmetic. The distinct-breadth aggregate rides the
    same shuffle via Spark's expand; everything else is partial-agg.
    """
    events = load_table(spark, sf_dir, "events")
    # asc_nulls_first IS Spark's ASC default — written out because the
    # oracle must pin the same placement explicitly (DuckDB defaults
    # NULLS LAST in window ORDER BY)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_first(), "event_id"
    )
    lagged = events.select(
        "user_id",
        "ts",
        "event_type",
        "value",
        F.lag("ts").over(w).alias("prev_ts"),
    )
    is_purchase = F.col("event_type") == "purchase"
    gap_us = F.unix_micros("ts") - F.unix_micros("prev_ts")
    cutoff_us = F.lit(1706745600000000)  # 2024-02-01 00:00:00 UTC in µs
    split_bucket = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 10
    )
    return lagged.groupBy("user_id").agg(
        F.count(F.when(is_purchase, 1)).alias("frequency"),
        F.round(
            F.coalesce(F.sum(F.when(is_purchase, F.col("value"))), F.lit(0.0)), 2
        ).alias("monetary"),
        (
            (cutoff_us - F.unix_micros(F.max(F.when(is_purchase, F.col("ts")))))
            / F.lit(1000000)
        )
        .cast("long")
        .alias("recency_s"),
        F.count_distinct("event_type").alias("breadth"),
        F.sum(
            F.when(
                F.col("prev_ts").isNull() | (gap_us > 1800000000), 1
            ).otherwise(0)
        ).alias("n_sessions"),
        F.max(
            F.when(split_bucket < 8, "train")
            .when(split_bucket == 8, "val")
            .otherwise("test")
        ).alias("split"),
    )


@register(
    "dq01_expectations_report",
    oracle="""
    SELECT 'orders_pk_unique' AS check_name,
           count(*) AS n_checked,
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_failed
    FROM orders
    UNION ALL
    SELECT 'lineitem_fk_orders', count(*),
           CAST(count(*) FILTER (o_orderkey IS NULL) AS BIGINT)
    FROM lineitem LEFT JOIN orders ON o_orderkey = l_orderkey
    UNION ALL
    SELECT 'lineitem_quantity_le_45', count(*),
           CAST(count(*) FILTER (l_quantity > 45) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'events_value_ge_1', count(*),
           CAST(count(*) FILTER (coalesce(value, 0.0) < 1.0) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'events_props_has_k', count(*),
           CAST(count(*) FILTER (json_extract(CASE WHEN json_valid(props) THEN props END, '$.k') IS NULL) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'customer_acctbal_nonneg', count(*),
           CAST(count(*) FILTER (c_acctbal < 0) AS BIGINT)
    FROM customer
    """,
)
def dq01_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality EXPECTATIONS report (the Deequ/Great-Expectations
    shape): one pass per constraint class — primary-key uniqueness,
    referential integrity (lineitem→orders via a left join's
    null-side count), numeric range policies, JSON well-formedness,
    and sign constraints — each emitted as (check, n_checked,
    n_failed). The gate a production pipeline runs BEFORE publishing
    a partition; mixed zero and nonzero failure counts here prove the
    checks actually discriminate.

    Scale: every check is a partial-aggregable conditional count —
    full scans but one shuffled row each; the FK check is the only
    join and AQE plans it broadcast when the PK side is small, SMJ
    when it is not (both sides stay prunable to their key columns).
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")

    def one(name, df, n_failed_col):
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).alias("n_checked"),
            n_failed_col.cast("long").alias("n_failed"),
        ).select("check_name", "n_checked", "n_failed")

    pk = one(
        "orders_pk_unique",
        orders,
        F.count(F.lit(1)) - F.count_distinct("o_orderkey"),
    )
    fk = one(
        "lineitem_fk_orders",
        li.join(
            orders.select("o_orderkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left",
        ),
        F.count(F.when(F.col("o_orderkey").isNull(), 1)),
    )
    qty = one(
        "lineitem_quantity_le_45", li, F.count(F.when(F.col("l_quantity") > 45, 1))
    )
    val = one(
        "events_value_ge_1",
        events,
        F.count(F.when(F.coalesce(F.col("value"), F.lit(0.0)) < 1.0, 1)),
    )
    props = one(
        "events_props_has_k",
        events,
        F.count(F.when(F.get_json_object("props", "$.k").isNull(), 1)),
    )
    bal = one(
        "customer_acctbal_nonneg",
        customer,
        F.count(F.when(F.col("c_acctbal") < 0, 1)),
    )
    return pk.unionByName(fk).unionByName(qty).unionByName(val).unionByName(
        props
    ).unionByName(bal)


@register(
    "c10_map_functions",
    # badjson contracts: n_with_k via json_type (a {"k": null} entry
    # IS in the parsed map — json_extract would miss it); avg via
    # TRY_CAST (Spark-side try_cast — ANSI CAST of a non-numeric map
    # value would abort); max_keys unchanged (nested CASE below).
    oracle="""
    SELECT event_type,
           CAST(count(*) FILTER (json_type(CASE WHEN json_valid(props) THEN props END, '$.k') IS NOT NULL)
                AS BIGINT) AS n_with_k,
           CAST(count(*) AS BIGINT) AS n_total,
           round(avg(TRY_CAST(json_extract_string(CASE WHEN json_valid(props) THEN props END, '$.k') AS DOUBLE)), 6)
               AS avg_k,
           -- nested CASE (guaranteed eval order): json_keys must see
           -- only VALID JSON OBJECTS — from_json(map) yields a NULL
           -- map for anything else, malformed or scalar alike
           CAST(max(len(json_keys(
               CASE WHEN json_valid(props) THEN
                   CASE WHEN json_type(props) = 'OBJECT' THEN props END
               END))) AS BIGINT) AS max_keys
    FROM events
    GROUP BY event_type
    """,
)
def c10_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: parse the JSON props into a ``map<string,
    string>`` and operate on it AS a map — key membership
    (``map_contains_key``), value access (``element_at``), and
    cardinality (``size``/``map_keys``) — the semi-structured column
    shape for payloads whose keys are NOT known at schema time (c07's
    typed struct extract is the known-key sibling).

    Scale: ``from_json`` to map, aggregation, everything JVM-side in
    one map-side-combined shuffle; no schema inference pass.
    """
    events = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    return (
        events.select("event_type", m.alias("pm"))
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.map_contains_key("pm", "k"), 1)).alias("n_with_k"),
            F.count(F.lit(1)).alias("n_total"),
            F.round(
                # try_cast: a non-numeric map value ('{"k": "oops"}')
                # would abort the query under ANSI (badjson variant)
                F.avg(F.element_at("pm", "k").try_cast("double")), 6
            ).alias("avg_k"),
            F.max(F.size(F.map_keys("pm"))).cast("long").alias("max_keys"),
        )
    )


@register(
    "j08_full_outer_reconciliation",
    oracle="""
    WITH spend AS (
        SELECT user_id AS k, round(sum(value), 2) AS event_spend
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    bal AS (
        SELECT c_custkey AS k, round(sum(c_acctbal), 2) AS balance
        FROM customer GROUP BY 1
    )
    SELECT coalesce(s.k, b.k) AS entity_key,
           s.event_spend,
           b.balance,
           s.k IS NOT NULL AS has_activity,
           b.k IS NOT NULL AS has_account,
           round(coalesce(s.event_spend, 0.0) - coalesce(b.balance, 0.0), 2)
               AS net_position
    FROM spend s FULL OUTER JOIN bal b ON s.k = b.k
    """,
)
def j08_full_outer_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER reconciliation — the ledger-vs-activity audit: every
    entity from EITHER side appears once, with presence flags and the
    coalesced net position. Accounts with no activity and (were they
    to exist) activity with no account both surface instead of
    silently dropping — the join type the audit query needs and the
    rest of the catalog (inner/left/semi/anti) doesn't cover.

    Scale: both inputs pre-aggregate to one row per key BEFORE the
    join, so the full-outer shuffle carries |keys|, not |facts|; a
    full outer join cannot broadcast (both sides must be complete),
    so co-partitioning the two aggregates on the key is exactly what
    the engine's single exchange per side does.
    """
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    spend = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("k"))
        .agg(F.round(F.sum("value"), 2).alias("event_spend"))
    )
    bal = customer.groupBy(F.col("c_custkey").alias("k")).agg(
        F.round(F.sum("c_acctbal"), 2).alias("balance")
    )
    s, b = spend.alias("s"), bal.alias("b")
    return s.join(b, F.col("s.k") == F.col("b.k"), "full_outer").select(
        F.coalesce(F.col("s.k"), F.col("b.k")).alias("entity_key"),
        F.col("s.event_spend"),
        F.col("b.balance"),
        F.col("s.k").isNotNull().alias("has_activity"),
        F.col("b.k").isNotNull().alias("has_account"),
        F.round(
            F.coalesce(F.col("s.event_spend"), F.lit(0.0))
            - F.coalesce(F.col("b.balance"), F.lit(0.0)),
            2,
        ).alias("net_position"),
    )


@register(
    "scd01_dimension_history",
    oracle="""
    WITH upd AS (
        SELECT c_custkey, 'PROMOTED' AS seg
        FROM customer WHERE c_custkey % 10 = 3
        UNION ALL
        SELECT c_custkey, c_mktsegment
        FROM customer WHERE c_custkey % 10 = 7
        UNION ALL
        SELECT c_custkey + 100000, 'NEWCOMER'
        FROM customer WHERE c_custkey < 5
    )
    -- IS DISTINCT FROM, not <>: SCD2 change detection is null-safe
    -- (the engine's eqNullSafe) — NULL segment -> 'PROMOTED' IS a
    -- change, but plain <> returns NULL and silently skips the
    -- version close/open (fuzz_oracle nulls variant)
    SELECT c.c_custkey,
           c.c_mktsegment,
           DATE '1970-01-01' AS valid_from,
           CASE WHEN u.c_custkey IS NOT NULL
                     AND u.seg IS DISTINCT FROM c.c_mktsegment
                THEN DATE '2024-02-01' END AS valid_to,
           NOT (u.c_custkey IS NOT NULL
                AND u.seg IS DISTINCT FROM c.c_mktsegment)
               AS is_current
    FROM customer c LEFT JOIN upd u ON u.c_custkey = c.c_custkey
    UNION ALL
    SELECT u.c_custkey, u.seg, DATE '2024-02-01', NULL, TRUE
    FROM upd u LEFT JOIN customer c ON c.c_custkey = u.c_custkey
    WHERE c.c_custkey IS NULL OR u.seg IS DISTINCT FROM c.c_mktsegment
    """,
)
def scd01_dimension_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 merge (operators/scd.py): an
    update batch — segment promotions, no-op re-sends, and brand-new
    keys — applied to the customer dimension, producing the history
    table with closed/open versions and ``is_current`` flags. The
    lakehouse MERGE shape, expressed as one full-outer join + a
    conditional union so it needs no transactional MERGE support.
    The no-op re-send rows (same segment re-delivered) must NOT open
    a new version — change detection, not mere presence, drives the
    close/open.

    Scale: one co-partitioned full-outer join on the business key and
    a union; history grows by |changed|, never |dim|."""
    from sports_betting_data_pipeline_spark.operators.scd import scd2_apply

    customer = load_table(spark, sf_dir, "customer")
    dim = customer.select("c_custkey", "c_mktsegment")
    upd = (
        dim.filter(F.col("c_custkey") % 10 == 3)
        .select("c_custkey", F.lit("PROMOTED").alias("c_mktsegment"))
        .unionByName(dim.filter(F.col("c_custkey") % 10 == 7))
        .unionByName(
            dim.filter(F.col("c_custkey") < 5).select(
                (F.col("c_custkey") + 100000).alias("c_custkey"),
                F.lit("NEWCOMER").alias("c_mktsegment"),
            )
        )
    )
    return scd2_apply(
        dim, upd, "c_custkey", ["c_mktsegment"], effective="2024-02-01"
    )


@register(
    "w09_rank_statistics",
    oracle="""
    SELECT s_nationkey, s_suppkey,
           CAST(dense_rank() OVER w AS BIGINT) AS bal_dense_rank,
           round(percent_rank() OVER w, 6) AS bal_percent_rank,
           round(cume_dist() OVER w, 6) AS bal_cume_dist
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
    """,
)
def w09_rank_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rank-statistic window family the catalog hadn't pinned yet:
    dense_rank (no gaps), percent_rank ((r-1)/(n-1) — the normalized
    score feature engineering uses), and cume_dist (empirical CDF) in
    one windowed pass per nation.

    Scale: one sort-window partitioned by nation; all three statistics
    share the single sort."""
    supplier = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    return supplier.select(
        "s_nationkey",
        "s_suppkey",
        F.dense_rank().over(w).cast("long").alias("bal_dense_rank"),
        F.round(F.percent_rank().over(w), 6).alias("bal_percent_rank"),
        F.round(F.cume_dist().over(w), 6).alias("bal_cume_dist"),
    )


@register(
    "r05_pivot_multi_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) FILTER (l_linestatus = 'F') AS BIGINT) AS f_n,
           round(coalesce(sum(l_quantity) FILTER (l_linestatus = 'F'), 0.0), 2)
               AS f_qty,
           CAST(count(*) FILTER (l_linestatus = 'O') AS BIGINT) AS o_n,
           round(coalesce(sum(l_quantity) FILTER (l_linestatus = 'O'), 0.0), 2)
               AS o_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def r05_pivot_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with MULTIPLE aggregates per pivot value (count + sum per
    line status) — r03 pins the single-agg pivot; this pins the
    multi-measure wide report. Pivot values are declared explicitly
    so no distinct-value discovery pass runs.

    Scale: a pivot with declared values compiles to exactly the
    conditional-aggregate form the oracle writes out — one map-side-
    combined shuffle, measures × values columns out."""
    li = load_table(spark, sf_dir, "lineitem")
    pivoted = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.coalesce(F.sum("l_quantity"), F.lit(0.0)), 2).alias("qty"),
        )
    )
    # a pivot value with NO rows anywhere leaves a NULL cell, but the
    # conditional-aggregate semantics this query pins give count 0 /
    # sum 0.0 — coalesce the CELLS, the in-agg coalesce can't fill a
    # missing cell (fuzz_oracle tiny variant)
    return pivoted.select(
        "l_returnflag",
        F.coalesce(F.col("F_n"), F.lit(0)).alias("f_n"),
        F.coalesce(F.col("F_qty"), F.lit(0.0)).alias("f_qty"),
        F.coalesce(F.col("O_n"), F.lit(0)).alias("o_n"),
        F.coalesce(F.col("O_qty"), F.lit(0.0)).alias("o_qty"),
    )


@register(
    "sql02_cte_window_sql",
    oracle="""
    WITH nation_rev AS (
        SELECT n.n_name,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        GROUP BY n.n_name
    )
    SELECT n_name, revenue,
           CAST(rank() OVER (ORDER BY revenue DESC) AS BIGINT) AS rev_rank,
           round(100.0 * revenue / sum(revenue) OVER (), 4) AS rev_share_pct
    FROM nation_rev
    """,
)
def sql02_cte_window_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-SQL surface #2: CTE + window-over-aggregate (rank and
    share-of-total) submitted as ONE SQL string over registered temp
    views — the ad-hoc analyst path. sql01 pins joins/grouping; this
    pins CTEs and unpartitioned windows OVER A TINY AGGREGATE (25
    rows — the only place a global window is acceptable).
    """
    for t in ("lineitem", "supplier", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        WITH nation_rev AS (
            SELECT n.n_name,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                       AS revenue
            FROM lineitem l
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN nation n ON n.n_nationkey = s.s_nationkey
            GROUP BY n.n_name
        )
        SELECT n_name, revenue,
               CAST(rank() OVER (ORDER BY revenue DESC) AS BIGINT) AS rev_rank,
               round(100.0 * revenue / sum(revenue) OVER (), 4)
                   AS rev_share_pct
        FROM nation_rev
        """
    )


@register(
    "a12_trend_regression",
    oracle="""
    SELECT c_mktsegment,
           CAST(regr_count(o_totalprice,
                           date_diff('day', DATE '1995-01-01',
                                     CAST(o_orderdate AS DATE))) AS BIGINT)
               AS n_orders,
           round(regr_slope(o_totalprice,
                            date_diff('day', DATE '1995-01-01',
                                      CAST(o_orderdate AS DATE))), 4)
               AS usd_per_day,
           round(regr_intercept(o_totalprice,
                                date_diff('day', DATE '1995-01-01',
                                          CAST(o_orderdate AS DATE))), 2)
               AS baseline_usd,
           round(regr_r2(o_totalprice,
                         date_diff('day', DATE '1995-01-01',
                                   CAST(o_orderdate AS DATE))), 6)
               AS r2
    FROM orders JOIN customer ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def a12_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment order-value TREND via the SQL:2003 linear-regression
    aggregates — slope (dollars/day), intercept, and R² of
    o_totalprice against order date, per market segment. The
    closed-form OLS every metric dashboard fits, computed as
    partial-aggregable moments (no iterative solver, no collect).

    Scale: one broadcast dim join + one map-side-combined shuffle;
    the regression aggregates are sums/cross-moments with partial
    forms, so the fit costs exactly what a SUM costs.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    x = F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).cast(
        "double"
    )
    y = F.col("o_totalprice")
    return (
        orders.join(F.broadcast(customer), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.regr_count(y, x).alias("n_orders"),
            F.round(F.regr_slope(y, x), 4).alias("usd_per_day"),
            F.round(F.regr_intercept(y, x), 2).alias("baseline_usd"),
            F.round(F.regr_r2(y, x), 6).alias("r2"),
        )
    )


@register(
    "a13_equiwidth_histogram",
    oracle="""
    WITH bounds AS (
        SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
        FROM orders
    )
    -- degenerate range (hi = lo: one distinct value, or a 1-row
    -- table) puts every row in bucket 0 instead of dividing by zero
    SELECT CAST(CASE WHEN hi = lo THEN 0
                ELSE least(floor((o_totalprice - lo) / ((hi - lo) / 10.0)), 9)
                END AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(min(o_totalprice), 2) AS bucket_min,
           round(max(o_totalprice), 2) AS bucket_max
    FROM orders, bounds
    GROUP BY 1
    """,
)
def a13_equiwidth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-WIDTH histogram (a08's equi-height sibling): 10 fixed-width
    buckets spanning [min, max], top bucket closed. The distribution
    profile a first-look data audit draws; bucket arithmetic is the
    identical float expression on both engines so boundaries are
    bit-exact.

    Scale: pass 1 is a 2-scalar (min, max) aggregate broadcast as a
    1-row join; pass 2 buckets map-side and shuffles 10 rows. Same
    two-pass scan-heavy/shuffle-light shape as a08 without the
    quantile machinery.
    """
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    bounds = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    # degenerate range (hi == lo) -> one bucket, not a divide-by-zero
    # (ANSI Spark throws; fuzz_oracle ties/tiny variants)
    bucket = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.floor(
                (F.col("o_totalprice") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / 10.0)
            ),
            F.lit(9),
        )
    ).cast("long")
    return (
        orders.join(F.broadcast(bounds))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("o_totalprice"), 2).alias("bucket_min"),
            F.round(F.max("o_totalprice"), 2).alias("bucket_max"),
        )
    )


@register(
    "a14_drift_report",
    oracle="""
    WITH pop AS (
        SELECT c_mktsegment AS seg, o_totalprice AS v
        FROM orders JOIN customer ON c_custkey = o_custkey
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    bounds AS (SELECT min(v) AS lo, max(v) AS hi FROM pop),
    binned AS (
        -- degenerate pooled range (hi = lo) -> one bucket, not /0
        SELECT seg,
               CAST(CASE WHEN hi = lo THEN 0
                    ELSE least(floor((v - lo) / ((hi - lo) / 20.0)), 19)
                    END AS BIGINT) AS bucket
        FROM pop, bounds
    ),
    counts AS (
        SELECT bucket,
               count(*) FILTER (seg = 'BUILDING') AS n_a,
               count(*) FILTER (seg = 'MACHINERY') AS n_b
        FROM binned GROUP BY bucket
    ),
    totals AS (
        SELECT sum(n_a) AS t_a, sum(n_b) AS t_b FROM counts
    )
    SELECT bucket,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           round(n_a / t_a, 6) AS p_a,
           round(n_b / t_b, 6) AS p_b,
           round(abs(n_a / t_a - n_b / t_b), 6) AS gap
    FROM counts, totals
    """,
)
def a14_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-DRIFT report — the ML-monitoring comparison of two
    populations (here two market segments' order values; in
    production, this week's feature distribution vs the training
    snapshot): 20 shared equal-width bins over the pooled range, each
    bin's probability mass under both populations, and the per-bin
    gap whose maximum is the binned Kolmogorov-Smirnov statistic and
    whose half-sum is total-variation distance.

    Scale: one pooled 2-scalar bounds pass (broadcast), one
    map-side-combined conditional-count shuffle over the bins, one
    1-row totals broadcast — three scan-light passes; the bin
    arithmetic is the identical float expression on both engines so
    bucketing is bit-exact.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    pop = (
        orders.join(F.broadcast(customer), F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(F.col("c_mktsegment").alias("seg"), F.col("o_totalprice").alias("v"))
    )
    bounds = pop.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    # degenerate pooled range (hi == lo) -> one bucket, not an ANSI
    # divide-by-zero (fuzz_oracle ties variant; the a13 guard)
    bucket = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.floor(
                (F.col("v") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / 20.0)
            ),
            F.lit(19),
        )
    ).cast("long")
    counts = (
        pop.join(F.broadcast(bounds))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.when(F.col("seg") == "BUILDING", 1)).alias("n_a"),
            F.count(F.when(F.col("seg") == "MACHINERY", 1)).alias("n_b"),
        )
    )
    totals = counts.agg(
        F.sum("n_a").alias("t_a"), F.sum("n_b").alias("t_b")
    )
    # try_divide: an absent population (t=0 on tiny inputs) has no
    # mass fractions — NULL, DuckDB's /0 result; ANSI / throws
    p_a = F.try_divide(F.col("n_a"), F.col("t_a"))
    p_b = F.try_divide(F.col("n_b"), F.col("t_b"))
    return counts.join(F.broadcast(totals)).select(
        "bucket",
        "n_a",
        "n_b",
        F.round(p_a, 6).alias("p_a"),
        F.round(p_b, 6).alias("p_b"),
        F.round(F.abs(p_a - p_b), 6).alias("gap"),
    )


@register(
    "co01_cohort_retention",
    oracle="""
    WITH activity AS (
        -- floor(x/7.0), not integer //: DuckDB's // truncates
        -- toward zero on negatives where the engine floors
        -- (fuzz_oracle timewarp variant; the ts06 lesson)
        SELECT DISTINCT user_id,
               CAST(floor(date_diff('day', DATE '2024-01-01',
                                    CAST(ts AS DATE)) / 7.0)
                    AS BIGINT) AS week
        FROM events
    ),
    cohorts AS (
        SELECT user_id, min(week) AS cohort_week FROM activity GROUP BY 1
    ),
    sizes AS (
        SELECT cohort_week, count(*) AS cohort_size FROM cohorts GROUP BY 1
    ),
    ret AS (
        SELECT c.cohort_week,
               a.week - c.cohort_week AS week_offset,
               count(DISTINCT a.user_id) AS n_active
        FROM activity a JOIN cohorts c ON c.user_id = a.user_id
        GROUP BY 1, 2
    )
    SELECT r.cohort_week, r.week_offset,
           CAST(r.n_active AS BIGINT) AS n_active,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           CAST(10000 * r.n_active // s.cohort_size AS BIGINT)
               AS retention_bp
    FROM ret r JOIN sizes s ON s.cohort_week = r.cohort_week
    """,
)
def co01_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort RETENTION matrix — the product-analytics staple: users
    cohorted by first-active week, then each cohort's share still
    active k weeks later. Retention is reported in integer basis
    points (floor division) per the q14 lesson: ratios of integers
    can tie exactly at a rounding boundary, so they never pass
    through decimal rounding.

    Scale: the distinct (user, week) activity grid is one map-side-
    combined shuffle; cohorts are a per-user MIN over it; both
    downstream joins key on user/cohort and stay co-partitioned. The
    matrix is |cohorts| × |offsets| — tiny output from any input.
    """
    events = load_table(spark, sf_dir, "events")
    week = (
        F.floor(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) / 7
        )
    ).cast("long")
    activity = events.select("user_id", week.alias("week")).distinct()
    cohorts = activity.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = cohorts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    ret = (
        activity.join(cohorts, "user_id")
        .groupBy(
            "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )
    return ret.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_size",
        F.expr("10000 * n_active div cohort_size").alias("retention_bp"),
    )


@register(
    "mk01_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
               ) AS next_type
        FROM events
    ),
    trans AS (
        SELECT event_type AS from_type, next_type AS to_type,
               count(*) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    ),
    row_tot AS (
        SELECT from_type, sum(n) AS tot FROM trans GROUP BY 1
    )
    SELECT t.from_type, t.to_type,
           CAST(t.n AS BIGINT) AS n_transitions,
           CAST(10000 * t.n // r.tot AS BIGINT) AS prob_bp
    FROM trans t JOIN row_tot r ON r.from_type = t.from_type
    """,
)
def mk01_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov TRANSITION matrix over each user's event
    sequence — which action follows which (the behavioral-flow /
    Sankey input, and the empirical transition model session-replay
    simulators sample from). Probabilities in integer basis points
    (floor) — the q14 rounding-tie rule.

    Scale: one lead window partitioned by user, one (from, to) count
    shuffle (≤ |types|² rows out), row totals as a broadcast join.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    row_tot = trans.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return trans.join(F.broadcast(row_tot), "from_type").select(
        "from_type",
        "to_type",
        F.col("n").alias("n_transitions"),
        F.expr("10000 * n div tot").alias("prob_bp"),
    )


@register(
    "a15_chi_square_independence",
    oracle="""
    WITH obs AS (
        SELECT c_mktsegment AS seg, o_orderpriority AS pri,
               count(*) AS o
        FROM orders JOIN customer ON c_custkey = o_custkey
        GROUP BY 1, 2
    ),
    margins AS (
        SELECT o.*,
               sum(o.o) OVER (PARTITION BY seg) AS row_tot,
               sum(o.o) OVER (PARTITION BY pri) AS col_tot,
               sum(o.o) OVER () AS n
        FROM obs o
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST((count(DISTINCT seg) - 1) * (count(DISTINCT pri) - 1)
                AS BIGINT) AS dof,
           round(sum(power(o - row_tot * col_tot / n, 2)
                     / (row_tot * col_tot / n)), 6) AS chi2
    FROM margins
    """,
)
def a15_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between market segment and
    order priority — the categorical-association screen a feature-
    selection or A/B sanity pass runs. Expected counts come from the
    margins of the observed contingency table; the statistic and
    degrees of freedom are emitted (compare to the critical value
    client-side — no distribution tables in either engine).

    Scale: the contingency table is one map-side-combined shuffle
    (|seg|×|pri| cells); margins are windows OVER THE TINY CELL TABLE
    (25 rows), not the fact; the statistic is one aggregate over it.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    obs = (
        orders.join(F.broadcast(customer), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
    )
    obs = obs.select(
        "seg",
        "pri",
        "o",
        F.sum("o").over(Window.partitionBy("seg")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("pri")).alias("col_tot"),
        F.sum("o").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    e = F.col("row_tot") * F.col("col_tot") / F.col("n")
    return obs.agg(
        F.count(F.lit(1)).alias("n_cells"),
        (
            (F.count_distinct("seg") - 1) * (F.count_distinct("pri") - 1)
        ).alias("dof"),
        F.round(F.sum(F.pow(F.col("o") - e, 2) / e), 6).alias("chi2"),
    )


@register(
    "geo01_nearest_supplier",
    oracle="""
    WITH cust AS (
        SELECT c_custkey,
               (('0x' || left(md5(CAST(c_custkey AS VARCHAR) || '|lat'), 8))
                ::BIGINT % 1700) / 10.0 - 85.0 AS lat,
               (('0x' || left(md5(CAST(c_custkey AS VARCHAR) || '|lon'), 8))
                ::BIGINT % 3600) / 10.0 - 180.0 AS lon
        FROM customer WHERE c_custkey < 200
    ),
    supp AS (
        SELECT s_suppkey,
               (('0x' || left(md5('s' || CAST(s_suppkey AS VARCHAR) || '|lat'),
                              8))::BIGINT % 1700) / 10.0 - 85.0 AS lat,
               (('0x' || left(md5('s' || CAST(s_suppkey AS VARCHAR) || '|lon'),
                              8))::BIGINT % 3600) / 10.0 - 180.0 AS lon
        FROM supplier
    ),
    dists AS (
        SELECT c.c_custkey, s.s_suppkey,
               2 * 6371.0 * asin(sqrt(
                   power(sin(radians(s.lat - c.lat) / 2), 2)
                   + cos(radians(c.lat)) * cos(radians(s.lat))
                     * power(sin(radians(s.lon - c.lon) / 2), 2)
               )) AS d_km
        FROM cust c, supp s
    )
    SELECT c_custkey,
           s_suppkey AS nearest_suppkey,
           round(d_km, 3) AS distance_km
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY c_custkey ORDER BY d_km, s_suppkey
        ) AS rn FROM dists
    ) WHERE rn = 1
    """,
)
def geo01_nearest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIT-ONLY geospatial nearest-neighbor: each customer's closest
    supplier by great-circle (haversine) distance over deterministic
    md5-derived coordinates (the engine has no geo columns in the
    fixtures; the coordinate synthesis IS the portable-fixture idiom,
    and the distance/join machinery is the real operator). Trig stays
    JVM-side; the argmin is a WindowGroupLimit per customer.

    The |cust|×|supp| broadcast cross product makes this the brute
    audit for the production twin geo02_nearest_supplier_blocked
    (grid-cell equi-joins + certified exactness, no BNLJ), the same
    audit/production split as l42/l43 and l56/l57. Keep for small
    cohorts and as the equivalence oracle; register-scale runs use
    geo02.
    """
    cust, supp = _geo_tables(spark, sf_dir)
    dists = cust.crossJoin(F.broadcast(supp)).select(
        "c_custkey", "s_suppkey", _geo_d_km().alias("d_km")
    )
    w = Window.partitionBy("c_custkey").orderBy("d_km", "s_suppkey")
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_custkey",
            F.col("s_suppkey").alias("nearest_suppkey"),
            F.round("d_km", 3).alias("distance_km"),
        )
    )


def _geo_coord(prefix: str, key: Column, salt: str, mod: int, scale: float, off: float):
    """Deterministic md5-derived coordinate (shared by geo01/geo02 so
    the twins stay bit-identical)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(prefix), key.cast("string"), F.lit(salt))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return (h % mod) / scale - off


def _geo_tables(spark: SparkSession, sf_dir: str):
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") < 200
    )
    supplier = load_table(spark, sf_dir, "supplier")
    cust = customer.select(
        "c_custkey",
        _geo_coord("", F.col("c_custkey"), "|lat", 1700, 10.0, 85.0).alias("clat"),
        _geo_coord("", F.col("c_custkey"), "|lon", 3600, 10.0, 180.0).alias("clon"),
    )
    supp = supplier.select(
        "s_suppkey",
        _geo_coord("s", F.col("s_suppkey"), "|lat", 1700, 10.0, 85.0).alias("slat"),
        _geo_coord("s", F.col("s_suppkey"), "|lon", 3600, 10.0, 180.0).alias("slon"),
    )
    return cust, supp


def _geo_d_km() -> Column:
    """Haversine km between (clat, clon) and (slat, slon) — the ONE
    distance expression both geo twins share, so their floats (and the
    deterministic (d_km, s_suppkey) argmin tiebreak) agree bitwise."""
    return (
        2
        * 6371.0
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(F.col("slat") - F.col("clat")) / 2), 2)
                + F.cos(F.radians("clat"))
                * F.cos(F.radians("slat"))
                * F.pow(F.sin(F.radians(F.col("slon") - F.col("clon")) / 2), 2)
            )
        )
    )


@register(
    "geo02_nearest_supplier_blocked",
    oracle="""
    WITH cust AS (
        SELECT c_custkey,
               (('0x' || left(md5(CAST(c_custkey AS VARCHAR) || '|lat'), 8))
                ::BIGINT % 1700) / 10.0 - 85.0 AS lat,
               (('0x' || left(md5(CAST(c_custkey AS VARCHAR) || '|lon'), 8))
                ::BIGINT % 3600) / 10.0 - 180.0 AS lon
        FROM customer WHERE c_custkey < 200
    ),
    supp AS (
        SELECT s_suppkey,
               (('0x' || left(md5('s' || CAST(s_suppkey AS VARCHAR) || '|lat'),
                              8))::BIGINT % 1700) / 10.0 - 85.0 AS lat,
               (('0x' || left(md5('s' || CAST(s_suppkey AS VARCHAR) || '|lon'),
                              8))::BIGINT % 3600) / 10.0 - 180.0 AS lon
        FROM supplier
    ),
    dists AS (
        SELECT c.c_custkey, s.s_suppkey,
               2 * 6371.0 * asin(sqrt(
                   power(sin(radians(s.lat - c.lat) / 2), 2)
                   + cos(radians(c.lat)) * cos(radians(s.lat))
                     * power(sin(radians(s.lon - c.lon) / 2), 2)
               )) AS d_km
        FROM cust c, supp s
    )
    SELECT c_custkey,
           s_suppkey AS nearest_suppkey,
           round(d_km, 3) AS distance_km
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY c_custkey ORDER BY d_km, s_suppkey
        ) AS rn FROM dists
    ) WHERE rn = 1
    """,
)
def geo02_nearest_supplier_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION geospatial nearest-neighbor: geo01's exact result
    (the oracle is geo01's brute-force SQL, so equivalence is
    hash-checked, not argued) with grid-cell EQUI-joins instead of the
    cross product — the last audit-only BNLJ shape retired (VERDICT r5
    next-#8).

    Mechanics: 30° grid cells; each supplier lands in its own cell,
    each customer probes its 3×3 neighborhood (longitude wraps, the
    latitude band clips at the poles), and the per-customer argmin is
    ``min(struct(d_km, s_suppkey))`` — a map-side-combining aggregate
    with geo01's exact (distance, key) tiebreak. A candidate is
    CERTIFIED globally nearest when its distance beats the provable
    lower bound on any supplier outside the probed region, derived
    from the haversine formula itself: sin²(θ/2) ≥ sin²(Δφ/2) gives
    θ ≥ dφ_edge across the latitude edges, and sin²(θ/2) ≥
    cosφ_p·cosφ_q·sin²(Δλ/2) ≥ cos²φ_m·sin²(Δλ/2) gives θ ≥
    2·asin(cos φ_m · sin(dλ_edge/2)) across the longitude edges
    (φ_m = the probed band's extreme |latitude|). Customers whose
    candidate fails the bound — or whose 3×3 neighborhood is empty —
    fall back to an explode-over-all-72-cells EQUI-join against the
    full supplier table: still no cartesian/BNLJ node, linear in
    |fallback|×|cells|, and exact by construction.

    Scale: suppliers shuffle once on cell id; customers explode ×9
    (probe fan-out) and join per cell — the join key space is the
    occupied-cell set, so hot regions parallelize by cell rather than
    serializing through one broadcast-nested-loop stage. The
    certified fraction rises with supplier density (at fixture scale
    most cells hold suppliers, so fallback is the sparse-pole tail);
    the bound is conservative, which can only cost fallback work,
    never correctness.
    """
    cust, supp = _geo_tables(spark, sf_dir)
    return blocked_nearest_supplier(cust, supp)


def blocked_nearest_supplier(cust: DataFrame, supp: DataFrame) -> DataFrame:
    """The geo02 machinery over arbitrary coordinate tables
    (c_custkey, clat, clon) × (s_suppkey, slat, slon) — exposed so the
    certification bound can be property-tested on random coordinates,
    not just the fixture's md5-derived ones (tests/test_properties.py).
    """
    cell = 30.0

    cgrid = cust.select(
        "c_custkey",
        "clat",
        "clon",
        F.floor((F.col("clat") + 90.0) / cell).cast("int").alias("_ci"),
        F.floor((F.col("clon") + 180.0) / cell).cast("int").alias("_cj"),
    )
    # probed region (3x3 neighborhood) bounds + outside-distance lower
    # bound, all per customer. Latitude band clips at the poles to
    # match the cells that actually exist.
    lo_lat = F.greatest(F.lit(-90.0), (F.col("_ci") - 1) * cell - 90.0)
    hi_lat = F.least(F.lit(90.0), (F.col("_ci") + 2) * cell - 90.0)
    lo_lon = (F.col("_cj") - 1) * cell - 180.0  # unwrapped; width 90 < 360
    hi_lon = (F.col("_cj") + 2) * cell - 180.0
    dphi_edge = F.least(F.col("clat") - lo_lat, hi_lat - F.col("clat"))
    dlam_edge = F.least(F.col("clon") - lo_lon, hi_lon - F.col("clon"))
    phi_m = F.greatest(F.abs(lo_lat), F.abs(hi_lat))
    bound_km = 6371.0 * F.least(
        F.radians(dphi_edge),
        2.0 * F.asin(F.cos(F.radians(phi_m)) * F.sin(F.radians(dlam_edge) / 2.0)),
    )
    cbounded = cgrid.withColumn("_bound_km", bound_km)

    # Clamp supplier cell ids into the valid grid (ADVICE r6): slat=90
    # floors to band 6 and slon=180 to column 12, cells no probe (or
    # the 72-cell fallback) ever joins, making exact-boundary suppliers
    # invisible. least() folds the lat edge into the last band;
    # pmod folds lon 180 onto -180 (the same physical meridian).
    sgrid = supp.select(
        "s_suppkey",
        "slat",
        "slon",
        F.least(
            F.floor((F.col("slat") + 90.0) / cell).cast("int"), F.lit(5)
        ).alias("_si"),
        F.pmod(
            F.floor((F.col("slon") + 180.0) / cell).cast("int"), F.lit(12)
        ).alias("_sj"),
    )

    probes = (
        cbounded.select(
            "c_custkey",
            "clat",
            "clon",
            "_bound_km",
            F.explode(
                F.expr(
                    "array(-1, 0, 1)"
                )
            ).alias("_di"),
            F.col("_ci"),
            F.col("_cj"),
        )
        .select(
            "c_custkey",
            "clat",
            "clon",
            "_bound_km",
            (F.col("_ci") + F.col("_di")).alias("_si"),
            F.explode(F.expr("array(-1, 0, 1)")).alias("_dj"),
            F.col("_cj"),
        )
        .filter((F.col("_si") >= 0) & (F.col("_si") < 6))
        .select(
            "c_custkey",
            "clat",
            "clon",
            "_bound_km",
            "_si",
            F.pmod(F.col("_cj") + F.col("_dj"), F.lit(12)).alias("_sj"),
        )
    )
    cand = probes.join(sgrid, on=["_si", "_sj"]).select(
        "c_custkey",
        "_bound_km",
        F.struct(_geo_d_km().alias("d_km"), F.col("s_suppkey")).alias("_ds"),
    )
    best1 = cand.groupBy("c_custkey", "_bound_km").agg(F.min("_ds").alias("_b"))
    certified = best1.filter(F.col("_b.d_km") < F.col("_bound_km")).select(
        "c_custkey",
        F.col("_b.s_suppkey").alias("nearest_suppkey"),
        F.round(F.col("_b.d_km"), 3).alias("distance_km"),
    )

    # exact fallback for uncertified customers: replicate each one to
    # every cell and reuse the same cell equi-join — semantically the
    # full scan, but expressed without a cartesian/BNLJ node and
    # bounded by |fallback| × 72 rows.
    fb_cust = cust.join(
        certified.select("c_custkey"), on="c_custkey", how="left_anti"
    )
    fb_probes = fb_cust.select(
        "c_custkey",
        "clat",
        "clon",
        F.explode(F.sequence(F.lit(0), F.lit(71))).alias("_cell72"),
    ).select(
        "c_custkey",
        "clat",
        "clon",
        (F.col("_cell72") / 12).cast("int").alias("_si"),
        F.pmod(F.col("_cell72"), F.lit(12)).cast("int").alias("_sj"),
    )
    fb_best = (
        fb_probes.join(sgrid, on=["_si", "_sj"])
        .select(
            "c_custkey",
            F.struct(_geo_d_km().alias("d_km"), F.col("s_suppkey")).alias("_ds"),
        )
        .groupBy("c_custkey")
        .agg(F.min("_ds").alias("_b"))
        .select(
            "c_custkey",
            F.col("_b.s_suppkey").alias("nearest_suppkey"),
            F.round(F.col("_b.d_km"), 3).alias("distance_km"),
        )
    )
    return certified.unionByName(fb_best)


@register(
    "mv01_incremental_aggregate",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue,
           round(max(o_totalprice), 2) AS max_order
    FROM orders JOIN customer ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def mv01_incremental_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MATERIALIZED-VIEW maintenance: the per-segment
    revenue rollup is maintained as mergeable PARTIALS — (count, sum,
    max) — computed separately over the "already materialized" slice
    (orders before 1998) and the "new batch" (1998 onward), then
    MERGED with a combine aggregate instead of recomputing from
    scratch. The oracle is the full recompute, so the hash check IS
    the proof that partial-merge maintenance equals recomputation —
    the algebraic property every streaming aggregate and every
    incremental warehouse refresh relies on.

    Scale: each slice aggregates with one map-side-combined shuffle
    to |segments| rows; the merge touches 2×|segments| rows. A real
    deployment persists the partial table and only ever scans the new
    batch — refresh cost becomes O(delta), not O(history) (count and
    sum merge by +, max by max; avg derives as sum/count — never
    store an avg partial).
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = orders.join(
        F.broadcast(customer), F.col("c_custkey") == F.col("o_custkey")
    )
    cutoff = F.lit("1998-01-01").cast("timestamp")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("p_n"),
            F.sum("o_totalprice").alias("p_sum"),
            F.max("o_totalprice").alias("p_max"),
        )

    # the two slices must PARTITION the table — the batch side is the
    # complement of the materialized predicate, which includes NULL
    # order dates; a bare >= cutoff drops them from BOTH slices and
    # the "incremental" total silently loses rows the full recompute
    # counts (fuzz_oracle nulls variant — the classic MV-maintenance
    # incomplete-partition-predicate bug)
    materialized = partials(joined.filter(F.col("o_orderdate") < cutoff))
    new_batch = partials(
        joined.filter(
            F.col("o_orderdate").isNull() | (F.col("o_orderdate") >= cutoff)
        )
    )
    return (
        materialized.unionByName(new_batch)
        .groupBy("c_mktsegment")
        .agg(
            F.sum("p_n").alias("n_orders"),
            F.round(F.sum("p_sum"), 2).alias("revenue"),
            F.round(F.max("p_max"), 2).alias("max_order"),
        )
    )


def _zorder01_oracle() -> str:
    from sports_betting_data_pipeline_spark.operators.layout import zorder_sql

    z = zorder_sql(
        "(user_id * 32)", "CAST(floor(coalesce(value, 0.0)) AS BIGINT)", 9
    )
    return f"""
    WITH keyed AS (
        SELECT user_id,
               CAST(floor(coalesce(value, 0.0)) AS BIGINT) AS vbucket,
               {z} AS zkey
        FROM events
    )
    SELECT CAST(zkey // 32768 AS BIGINT) AS zrange,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(user_id) AS BIGINT) AS min_user,
           CAST(max(user_id) AS BIGINT) AS max_user,
           CAST(min(vbucket) AS BIGINT) AS min_val,
           CAST(max(vbucket) AS BIGINT) AS max_val
    FROM keyed
    GROUP BY 1
    """


@register("zorder01_multidim_clustering", oracle=_zorder01_oracle())
def zorder01_multidim_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER multi-dimensional clustering (operators/layout.py): the
    Morton key interleaving (user_id, value-bucket) bits, summarized
    per contiguous z-range. The min/max spans in the output ARE the
    row-group statistics a z-sorted parquet file would carry: every
    z-range bounds BOTH dimensions, which is what lets a
    two-dimensional box predicate skip most of a z-laid-out table —
    a linear sort bounds only its leading column. The companion
    layout test writes the actual files and checks real row-group
    stats both ways.

    Scale: the z-key is a closed-form JVM-side fold (no UDF); laying
    out 100 TB is one range-partitioned sort by zkey at write time,
    amortized over every multi-dim scan thereafter.
    """
    from sports_betting_data_pipeline_spark.operators.layout import zorder_key

    events = load_table(spark, sf_dir, "events")
    keyed = events.select(
        "user_id",
        F.floor(F.coalesce(F.col("value"), F.lit(0.0))).cast("long").alias(
            "vbucket"
        ),
    ).select(
        "user_id",
        "vbucket",
        zorder_key(F.col("user_id") * 32, F.col("vbucket"), 9).alias("zkey"),
    )
    return keyed.groupBy(
        (F.col("zkey") / 32768).cast("long").alias("zrange")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("user_id").cast("long").alias("min_user"),
        F.max("user_id").cast("long").alias("max_user"),
        F.min("vbucket").alias("min_val"),
        F.max("vbucket").alias("max_val"),
    )


@register(
    "a16_benford_screen",
    oracle="""
    WITH digits AS (
        SELECT c_mktsegment AS seg,
               CAST(left(CAST(CAST(floor(o_totalprice) AS BIGINT)
                              AS VARCHAR), 1) AS BIGINT) AS d
        FROM orders JOIN customer ON c_custkey = o_custkey
        WHERE o_totalprice >= 1
    ),
    obs AS (
        SELECT seg, d, count(*) AS o FROM digits GROUP BY 1, 2
    ),
    tot AS (SELECT seg, sum(o) AS n FROM obs GROUP BY 1)
    SELECT obs.seg,
           CAST(sum(obs.o) AS BIGINT) AS n_orders,
           round(sum(power(obs.o - tot.n * ln(1 + 1.0 / obs.d) / ln(10), 2)
                     / (tot.n * ln(1 + 1.0 / obs.d) / ln(10))), 4)
               AS benford_chi2
    FROM obs JOIN tot ON tot.seg = obs.seg
    GROUP BY obs.seg
    """,
)
def a16_benford_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit FRAUD screen per market segment: the
    chi-square distance between each segment's observed leading-digit
    distribution of order values and Benford's law (P(d)=log10(1+1/d))
    — the forensic-accounting anomaly test for fabricated amounts.
    The leading digit is extracted through exact integer/string
    arithmetic (never log10 of a double, whose boundary behavior at
    powers of ten differs per engine).

    Scale: one broadcast dim join + a (segment, digit) count shuffle
    (≤ 9·|segments| cells); the statistic is an aggregate over that
    tiny table.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    digits = (
        orders.filter(F.col("o_totalprice") >= 1)
        .join(F.broadcast(customer), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.substring(
                F.floor("o_totalprice").cast("long").cast("string"), 1, 1
            )
            .cast("long")
            .alias("d"),
        )
    )
    obs = digits.groupBy("seg", "d").agg(F.count(F.lit(1)).alias("o"))
    tot = obs.groupBy("seg").agg(F.sum("o").alias("n"))
    expected = F.col("n") * F.log(1 + 1.0 / F.col("d")) / F.log(F.lit(10.0))
    return (
        obs.join(F.broadcast(tot), "seg")
        .groupBy("seg")
        .agg(
            F.sum("o").alias("n_orders"),
            F.round(
                F.sum(F.pow(F.col("o") - expected, 2) / expected), 4
            ).alias("benford_chi2"),
        )
    )


@register(
    "w10_time_decay_score",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(coalesce(value, 0.0)
                     * exp(-(1706745600000000 - epoch_us(ts))
                           / 86400000000.0 / 7.0)), 4) AS decayed_score
    FROM events
    GROUP BY user_id
    """,
)
def w10_time_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay engagement score (7-day half-life scale,
    referenced to the 2024-02-01 cutoff): recent activity counts
    nearly fully, month-old activity barely — the standard recency
    weighting for ranking, churn, and fraud features, computed as ONE
    partial-aggregable weighted sum (age in exact integer µs before
    the single float exp).

    Scale: map-side weight + one count/sum shuffle; no window, no
    per-user state. Refreshing the reference point is a reweight of
    the SAME aggregate by exp(Δ/τ) — the score is decomposable, so an
    incremental pipeline (mv01's partial-merge pattern) maintains it
    without rescanning history.
    """
    events = load_table(spark, sf_dir, "events")
    age_days = (F.lit(1706745600000000) - F.unix_micros("ts")) / 86400000000.0
    weight = F.exp(-age_days / 7.0)
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.coalesce(F.col("value"), F.lit(0.0)) * weight), 4
        ).alias("decayed_score"),
    )


@register(
    "pl07_lakehouse_refresh",
    oracle="""
    WITH upd AS (
        SELECT c_custkey, 'PROMOTED' AS seg
        FROM customer WHERE c_custkey % 10 = 3
    ),
    current_dim AS (
        SELECT c.c_custkey,
               coalesce(u.seg, c.c_mktsegment) AS c_mktsegment
        FROM customer c LEFT JOIN upd u ON u.c_custkey = c.c_custkey
    ),
    rollup_post AS (
        SELECT d.c_mktsegment,
               count(*) AS n_orders,
               round(sum(o.o_totalprice), 2) AS revenue
        FROM orders o JOIN current_dim d ON d.c_custkey = o.o_custkey
        GROUP BY 1
    ),
    gate AS (
        SELECT count(*) - count(DISTINCT c_custkey) AS dup_keys
        FROM current_dim
    )
    SELECT r.c_mktsegment,
           CAST(r.n_orders AS BIGINT) AS n_orders,
           r.revenue,
           g.dup_keys = 0 AS quality_gate_passed
    FROM rollup_post r CROSS JOIN gate g
    """,
)
def pl07_lakehouse_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NIGHTLY LAKEHOUSE REFRESH composed end to end: an SCD2
    update batch (scd01's operator) merges into the customer
    dimension; the revenue rollup recomputes against the post-merge
    CURRENT rows (mv01's refresh target); and dq01's primary-key
    uniqueness gate rides along as a column — the refresh publishes
    only if the merged dimension still has one current row per key.
    The three stages are individually proven operators; this pins the
    composition a real warehouse runs every night.

    Scale: the merge is scd01's key-partitioned full-outer join; the
    rollup joins the fact against the current-rows projection
    (broadcast at dim scale); the gate is a 1-row aggregate. Nothing
    scans the fact more than once.
    """
    from sports_betting_data_pipeline_spark.operators.scd import scd2_apply

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dim = customer.select("c_custkey", "c_mktsegment")
    upd = dim.filter(F.col("c_custkey") % 10 == 3).select(
        "c_custkey", F.lit("PROMOTED").alias("c_mktsegment")
    )
    history = scd2_apply(
        dim, upd, "c_custkey", ["c_mktsegment"], effective="2024-02-01"
    )
    current = history.filter(F.col("is_current")).select(
        "c_custkey", "c_mktsegment"
    )
    rollup_post = (
        orders.join(
            F.broadcast(current), F.col("c_custkey") == F.col("o_custkey")
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )
    gate = current.agg(
        (F.count(F.lit(1)) - F.count_distinct("c_custkey")).alias("dup_keys")
    )
    return rollup_post.join(F.broadcast(gate)).select(
        "c_mktsegment",
        "n_orders",
        "revenue",
        (F.col("dup_keys") == 0).alias("quality_gate_passed"),
    )


@register(
    "a17_ab_test_significance",
    oracle="""
    WITH assign AS (
        SELECT user_id,
               (('0x' || left(md5(CAST(user_id AS VARCHAR) || '|exp1'), 8))
                ::BIGINT % 2) = 0 AS in_control,
               max(CASE WHEN event_type = 'purchase' AND value > 150
                        THEN 1 ELSE 0 END) AS converted
        FROM events
        GROUP BY user_id
    ),
    arms AS (
        SELECT in_control,
               count(*) AS n,
               sum(converted) AS conv
        FROM assign GROUP BY 1
    ),
    wide AS (
        SELECT max(CASE WHEN in_control THEN n END) AS n_c,
               max(CASE WHEN in_control THEN conv END) AS x_c,
               max(CASE WHEN NOT in_control THEN n END) AS n_t,
               max(CASE WHEN NOT in_control THEN conv END) AS x_t
        FROM arms
    )
    SELECT CAST(n_c AS BIGINT) AS n_control,
           CAST(x_c AS BIGINT) AS conv_control,
           CAST(n_t AS BIGINT) AS n_treatment,
           CAST(x_t AS BIGINT) AS conv_treatment,
           round((CAST(x_t AS DOUBLE) / n_t - CAST(x_c AS DOUBLE) / n_c)
                 / sqrt((CAST(x_c + x_t AS DOUBLE) / (n_c + n_t))
                        * (1 - CAST(x_c + x_t AS DOUBLE) / (n_c + n_t))
                        * (1.0 / n_c + 1.0 / n_t)), 4) AS z_stat
    FROM wide
    """,
)
def a17_ab_test_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B-test readout: users deterministically hash-assigned to
    control/treatment (the md5 idiom — exactly how real experiment
    platforms bucket), per-arm conversion (a big-ticket purchase,
    ~45%% base rate so both arms have variance) counts, and the pooled
    two-proportion z-statistic. Everything up to the single z formula
    is integer-exact; compare |z| to the critical value client-side.

    Scale: one per-user conversion aggregate (map-side-combined), a
    2-row arm rollup, and arithmetic — experiment readouts cost one
    scan no matter how many users.
    """
    events = load_table(spark, sf_dir, "events")
    in_control = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit("|exp1"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0
    )
    assign = events.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150), 1
            ).otherwise(0)
        ).alias("converted")
    ).select("user_id", in_control.alias("in_control"), "converted")
    arms = assign.groupBy("in_control").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("conv")
    )
    wide = arms.agg(
        F.max(F.when(F.col("in_control"), F.col("n"))).alias("n_c"),
        F.max(F.when(F.col("in_control"), F.col("conv"))).alias("x_c"),
        F.max(F.when(~F.col("in_control"), F.col("n"))).alias("n_t"),
        F.max(F.when(~F.col("in_control"), F.col("conv"))).alias("x_t"),
    )
    p_pool = (F.col("x_c") + F.col("x_t")).cast("double") / (
        F.col("n_c") + F.col("n_t")
    )
    # try_divide: a degenerate experiment (zero conversions or a
    # missing arm) has no z-stat — NULL, exactly DuckDB's /0 result;
    # ANSI Spark's bare / throws instead (fuzz_oracle ties variant)
    z = F.try_divide(
        F.col("x_t").cast("double") / F.col("n_t")
        - F.col("x_c").cast("double") / F.col("n_c"),
        F.sqrt(p_pool * (1 - p_pool) * (1.0 / F.col("n_c") + 1.0 / F.col("n_t"))),
    )
    return wide.select(
        F.col("n_c").alias("n_control"),
        F.col("x_c").alias("conv_control"),
        F.col("n_t").alias("n_treatment"),
        F.col("x_t").alias("conv_treatment"),
        F.round(z, 4).alias("z_stat"),
    )


@register(
    "w11_median_absolute_deviation",
    oracle="""
    WITH med AS (
        SELECT c_mktsegment AS seg, median(o_totalprice) AS m
        FROM orders JOIN customer ON c_custkey = o_custkey
        GROUP BY 1
    ),
    dev AS (
        SELECT med.seg, abs(o.o_totalprice - med.m) AS d
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN med ON med.seg = c.c_mktsegment
    )
    SELECT seg,
           round(median(d), 4) AS mad,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM dev
    GROUP BY seg
    """,
)
def w11_median_absolute_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per segment — the ROBUST scale
    statistic (stddev is wrecked by a single fat-fingered amount; MAD
    is not), the denominator of robust z-scores in outlier screens.
    Two exact interpolated medians: the segment median, broadcast
    back onto the fact for deviations, then the median of deviations.

    Scale: each median is a per-group exact percentile — at 100 TB
    swap both for the distributed exact-quantile operator
    (operators/quantiles.py, a08) or approx_percentile; the
    two-pass broadcast-back shape is unchanged.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = orders.join(
        F.broadcast(customer), F.col("c_custkey") == F.col("o_custkey")
    ).select(F.col("c_mktsegment").alias("seg"), "o_totalprice")
    med = joined.groupBy("seg").agg(F.median("o_totalprice").alias("m"))
    dev = joined.join(F.broadcast(med), "seg").select(
        "seg", F.abs(F.col("o_totalprice") - F.col("m")).alias("d")
    )
    return dev.groupBy("seg").agg(
        F.round(F.median("d"), 4).alias("mad"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "j09_temporal_dim_join",
    oracle="""
    WITH upd AS (
        SELECT c_custkey, 'PROMOTED' AS seg
        FROM customer WHERE c_custkey % 10 = 3
    ),
    history AS (
        SELECT c.c_custkey, c.c_mktsegment,
               TIMESTAMP '1970-01-01' AS valid_from,
               CASE WHEN u.c_custkey IS NOT NULL
                    THEN TIMESTAMP '2024-01-15' END AS valid_to
        FROM customer c LEFT JOIN upd u ON u.c_custkey = c.c_custkey
        UNION ALL
        SELECT c_custkey, seg, TIMESTAMP '2024-01-15', NULL FROM upd
    )
    SELECT h.c_mktsegment AS segment_at_event_time,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(coalesce(e.value, 0.0)), 2) AS total_value
    FROM events e
    JOIN history h
      ON h.c_custkey = e.user_id
     AND e.ts >= h.valid_from
     AND (h.valid_to IS NULL OR e.ts < h.valid_to)
    GROUP BY 1
    """,
)
def j09_temporal_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL dimension join — facts joined to the dimension VERSION
    valid at event time (``valid_from <= ts < valid_to`` against the
    SCD2 history, here a mid-January segment promotion): January
    events before the 15th aggregate under the old segment, after
    under the new — the as-was reporting semantics that joining the
    current dim silently falsifies.

    Scale: the history is dim-sized (|dim| + |changes| rows) and
    broadcasts; the validity range is a residual predicate on the
    broadcast hash join's key match, so the fact still probes by key
    — never a range-only nested loop. This is the batch shape of a
    stream-to-SCD join (the streaming twin needs the history
    republished per watermark epoch).
    """
    from sports_betting_data_pipeline_spark.operators.scd import scd2_apply

    customer = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")
    dim = customer.select("c_custkey", "c_mktsegment")
    upd = dim.filter(F.col("c_custkey") % 10 == 3).select(
        "c_custkey", F.lit("PROMOTED").alias("c_mktsegment")
    )
    history = scd2_apply(
        dim, upd, "c_custkey", ["c_mktsegment"], effective="2024-01-15"
    ).select(
        "c_custkey",
        "c_mktsegment",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
    )
    joined = events.join(
        F.broadcast(history),
        (F.col("c_custkey") == F.col("user_id"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
    )
    return joined.groupBy(
        F.col("c_mktsegment").alias("segment_at_event_time")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2).alias(
            "total_value"
        ),
    )


@register(
    "a18_gini_concentration",
    oracle="""
    WITH spend AS (
        SELECT c.c_mktsegment AS seg, o.o_custkey AS k,
               sum(o.o_totalprice) AS x
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT seg, x,
               row_number() OVER (PARTITION BY seg ORDER BY x, k) AS i,
               count(*) OVER (PARTITION BY seg) AS n,
               sum(x) OVER (PARTITION BY seg) AS tot
        FROM spend
    )
    SELECT seg,
           CAST(max(n) AS BIGINT) AS n_customers,
           round(2.0 * sum(i * x) / (max(n) * max(tot))
                 - (max(n) + 1.0) / max(n), 6) AS gini
    FROM ranked
    GROUP BY seg
    """,
)
def a18_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration per segment — the
    inequality statistic ("do 20%% of customers carry 80%% of
    revenue?") every book-of-business review reports, via the exact
    rank formula G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n over the
    deterministically ordered per-customer totals.

    Scale: per-customer totals are one map-side-combined shuffle;
    the rank window partitions by segment over that AGGREGATED table
    (|customers| rows, not |orders|), and the final statistic is one
    more aggregate of it.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    spend = (
        orders.join(F.broadcast(customer), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("o_custkey").alias("k"))
        .agg(F.sum("o_totalprice").alias("x"))
    )
    w = Window.partitionBy("seg").orderBy("x", "k")
    wp = Window.partitionBy("seg")
    ranked = spend.select(
        "seg",
        "x",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(wp).alias("n"),
        F.sum("x").over(wp).alias("tot"),
    )
    return ranked.groupBy("seg").agg(
        F.max("n").alias("n_customers"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("x")) / (F.max("n") * F.max("tot"))
            - (F.max("n") + 1.0) / F.max("n"),
            6,
        ).alias("gini"),
    )


@register(
    "w12_peak_concurrency",
    oracle="""
    WITH sessions AS (
        SELECT user_id,
               min(ts) AS s_start, max(ts) AS s_end
        FROM (
            SELECT user_id, ts,
                   sum(CASE WHEN prev_ts IS NULL
                             OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                            THEN 1 ELSE 0 END) OVER (
                       PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS sid
            FROM (
                SELECT user_id, ts, event_id,
                       lag(ts) OVER (
                           PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
                       ) AS prev_ts
                FROM events
            )
        )
        GROUP BY user_id, sid
    ),
    boundaries AS (
        SELECT CAST(s_start AS DATE) AS day, s_start AS t, 1 AS delta
        FROM sessions
        UNION ALL
        SELECT CAST(s_start AS DATE), s_end, -1 FROM sessions
    ),
    swept AS (
        SELECT day,
               sum(delta) OVER (
                   PARTITION BY day ORDER BY t, delta DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS live
        FROM boundaries
    )
    SELECT day, CAST(max(live) AS BIGINT) AS peak_concurrent_sessions
    FROM swept
    GROUP BY day
    """,
)
def w12_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak CONCURRENCY per day — the sweep-line classic: sessionize
    (w05's gaps-and-islands), explode each session into a +1 start
    and a −1 end boundary, running-sum the deltas in time order, and
    take each day's maximum. The capacity-planning number ("how many
    simultaneous live sessions must we serve?") that no plain
    aggregate produces. Boundaries anchor to the session's START day
    so each session counts in exactly one partition; ties order
    starts before ends (delta DESC) so touching sessions count as
    overlapping — both conventions identical in the oracle.

    Scale: sessionization is two user-partitioned windows; the sweep
    is one window PARTITIONED BY DAY over 2·|sessions| boundary rows
    — never a global sort. A session spanning midnight stays in its
    start-day partition (fixture sessions are 30-min-gap bounded);
    true multi-day spans would pre-split at day boundaries first.
    """
    events = load_table(spark, sf_dir, "events")
    wl = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wc = wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lagged = events.select(
        "user_id", "ts", "event_id", F.lag("ts").over(wl).alias("prev_ts")
    )
    sid = F.sum(
        F.when(
            F.col("prev_ts").isNull()
            | ((F.unix_micros("ts") - F.unix_micros("prev_ts")) > 1800000000),
            1,
        ).otherwise(0)
    ).over(wc)
    sessions = (
        lagged.withColumn("sid", sid)
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    boundaries = sessions.select(
        F.to_date("s_start").alias("day"),
        F.col("s_start").alias("t"),
        F.lit(1).alias("delta"),
    ).unionByName(
        sessions.select(
            F.to_date("s_start").alias("day"),
            F.col("s_end").alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    ws = (
        Window.partitionBy("day")
        .orderBy(F.asc("t"), F.desc("delta"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = boundaries.select(
        "day", F.sum("delta").over(ws).alias("live")
    )
    return swept.groupBy("day").agg(
        F.max("live").alias("peak_concurrent_sessions")
    )


@register(
    "a19_welch_t_test",
    oracle="""
    WITH assign AS (
        SELECT user_id,
               (('0x' || left(md5(CAST(user_id AS VARCHAR) || '|exp1'), 8))
                ::BIGINT % 2) = 0 AS in_control,
               sum(coalesce(value, 0.0)) AS spend
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id
    ),
    arms AS (
        SELECT in_control, count(*) AS n,
               avg(spend) AS m, var_samp(spend) AS v
        FROM assign GROUP BY 1
    ),
    wide AS (
        SELECT max(CASE WHEN in_control THEN n END) AS n_c,
               max(CASE WHEN in_control THEN m END) AS m_c,
               max(CASE WHEN in_control THEN v END) AS v_c,
               max(CASE WHEN NOT in_control THEN n END) AS n_t,
               max(CASE WHEN NOT in_control THEN m END) AS m_t,
               max(CASE WHEN NOT in_control THEN v END) AS v_t
        FROM arms
    )
    SELECT CAST(n_c AS BIGINT) AS n_control,
           CAST(n_t AS BIGINT) AS n_treatment,
           round(m_c, 4) AS mean_control,
           round(m_t, 4) AS mean_treatment,
           round((m_t - m_c) / sqrt(v_c / n_c + v_t / n_t), 4) AS t_stat
    FROM wide
    """,
)
def a19_welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test on a CONTINUOUS metric (per-user
    purchase spend) between a17's hash-assigned experiment arms —
    the unequal-variance form every metrics platform defaults to
    because arm variances never match in practice. Complements a17's
    proportion z-test; degrees of freedom (Welch–Satterthwaite) are
    a client-side function of the same four moments.

    Scale: per-user totals, then a 2-row moment rollup — one scan,
    arithmetic after.
    """
    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    in_control = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit("|exp1"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0
    )
    assign = events.groupBy("user_id").agg(
        F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("spend")
    ).select(in_control.alias("in_control"), "spend")
    arms = assign.groupBy("in_control").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("spend").alias("m"),
        F.var_samp("spend").alias("v"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("in_control"), F.col("n"))).alias("n_c"),
        F.max(F.when(F.col("in_control"), F.col("m"))).alias("m_c"),
        F.max(F.when(F.col("in_control"), F.col("v"))).alias("v_c"),
        F.max(F.when(~F.col("in_control"), F.col("n"))).alias("n_t"),
        F.max(F.when(~F.col("in_control"), F.col("m"))).alias("m_t"),
        F.max(F.when(~F.col("in_control"), F.col("v"))).alias("v_t"),
    )
    t = (F.col("m_t") - F.col("m_c")) / F.sqrt(
        F.col("v_c") / F.col("n_c") + F.col("v_t") / F.col("n_t")
    )
    return wide.select(
        F.col("n_c").alias("n_control"),
        F.col("n_t").alias("n_treatment"),
        F.round("m_c", 4).alias("mean_control"),
        F.round("m_t", 4).alias("mean_treatment"),
        F.round(t, 4).alias("t_stat"),
    )


@register(
    "f09_backtest_split",
    oracle="""
    SELECT CASE
             WHEN ts < TIMESTAMP '2024-01-20 00:00:00' THEN 'train'
             WHEN ts >= TIMESTAMP '2024-01-22 00:00:00' THEN 'test'
             ELSE 'embargo'
           END AS split,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(min(event_id) AS BIGINT) AS first_event,
           CAST(max(event_id) AS BIGINT) AS last_event
    FROM events
    GROUP BY 1
    """,
)
def f09_backtest_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-based backtest split with an EMBARGO gap: train strictly
    before the cutoff, test strictly after cutoff+2 days, and the
    two-day embargo in between excluded from both — the split that
    prevents look-ahead leakage when features are windowed aggregates
    (a trailing-48h feature computed at test start would otherwise
    read train-period rows; the embargo absorbs exactly that
    horizon). l44's hash split is for exchangeable documents; time
    series need THIS one.

    Scale: a pure scan-side CASE — partition-prunable when the lake
    is date-partitioned; the summary is one small aggregate.
    """
    events = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-20 00:00:00").cast("timestamp")
    test_start = F.lit("2024-01-22 00:00:00").cast("timestamp")
    split = (
        F.when(F.col("ts") < cutoff, "train")
        .when(F.col("ts") >= test_start, "test")
        .otherwise("embargo")
    )
    return events.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
    )


@register(
    "mk02_path_mining",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS e1,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
    ),
    paths AS (
        SELECT e1, e2, e3, count(*) AS n
        FROM seq WHERE e3 IS NOT NULL
        GROUP BY 1, 2, 3
    )
    SELECT e1, e2, e3, CAST(n AS BIGINT) AS n_paths,
           CAST(rnk AS BIGINT) AS rank
    FROM (
        SELECT *, row_number() OVER (
            ORDER BY n DESC, e1, e2, e3
        ) AS rnk FROM paths
    ) WHERE rnk <= 10
    """,
)
def mk02_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral PATH mining: the 10 most common length-3 event
    sequences across all users (double-lead window → trigram counts →
    top-k) — mk01's transition matrix extended to multi-step paths,
    the input to funnel design and UX flow review. Sequences never
    cross users (the window partitions by user).

    Scale: one lead-window pass, one (e1,e2,e3) map-side-combined
    count (≤ |types|³ groups), TakeOrdered top-k.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    paths = seq.groupBy("e1", "e2", "e3").agg(F.count(F.lit(1)).alias("n"))
    wr = Window.orderBy(F.desc("n"), F.asc("e1"), F.asc("e2"), F.asc("e3"))
    return (
        paths.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 10)
        .select(
            "e1", "e2", "e3",
            F.col("n").alias("n_paths"),
            F.col("rnk").cast("long").alias("rank"),
        )
    )


@register(
    "a20_poisson_bootstrap",
    oracle="""
    WITH fanned AS (
        SELECT o_totalprice AS v, gs.r,
               (('0x' || left(md5(CAST(o_orderkey AS VARCHAR) || '#'
                                  || CAST(gs.r AS VARCHAR)), 8))
                ::BIGINT + 1.0) / 4294967296.0 AS u
        FROM orders, generate_series(0, 19) AS gs(r)
    ),
    weighted AS (
        SELECT r, v,
               CASE
                 WHEN u < 0.36787944117144233 THEN 0
                 WHEN u < 0.7357588823428847 THEN 1
                 WHEN u < 0.9196986029286058 THEN 2
                 WHEN u < 0.9810118431238463 THEN 3
                 ELSE 4
               END AS w
        FROM fanned
    )
    SELECT r AS replicate,
           CAST(sum(w) AS BIGINT) AS n_eff,
           round(sum(w * v) / sum(w), 4) AS boot_mean
    FROM weighted
    GROUP BY r
    """,
)
def a20_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON BOOTSTRAP — the distributed bootstrap: instead of
    resampling rows (impossible without a global shuffle per
    replicate), every row draws an independent Poisson(1) weight per
    replicate and each replicate's statistic is a weighted aggregate
    — 20 bootstrap means of order value in ONE scan, whose spread is
    the standard error of the mean with no closed-form assumption.
    Weights are md5-derived uniforms pushed through the exact
    Poisson(1) CDF thresholds (capped at 4,99.6%% of the mass), so
    every replicate is engine-reproducible.

    Scale: a 20× map-side explode and one (replicate) aggregate —
    bootstrap cost is B× scan work with ZERO resampling shuffles,
    which is why this is the only bootstrap that exists at 100 TB.
    """
    from sports_betting_data_pipeline_spark.io import widen_for_compute

    # B×|orders| md5-derived weights are map-side CPU; the one-row-group
    # fixture scan would run them all on a single task without the
    # widen (no-op at production scale)
    orders = widen_for_compute(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    )
    fanned = orders.select(
        "o_orderkey",
        F.col("o_totalprice").alias("v"),
        F.explode(F.sequence(F.lit(0), F.lit(19))).alias("r"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "#",
                        F.col("o_orderkey").cast("string"),
                        F.col("r").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        + 1.0
    ) / 4294967296.0
    w = (
        F.when(u < 0.36787944117144233, 0)
        .when(u < 0.7357588823428847, 1)
        .when(u < 0.9196986029286058, 2)
        .when(u < 0.9810118431238463, 3)
        .otherwise(4)
    )
    return (
        fanned.withColumn("w", w)
        .groupBy(F.col("r").alias("replicate"))
        .agg(
            F.sum("w").alias("n_eff"),
            # try_divide: a replicate that drew all-zero weights (tiny
            # inputs) has no bootstrap mean — NULL, DuckDB's /0 result
            F.round(
                F.try_divide(F.sum(F.col("w") * F.col("v")), F.sum("w")), 4
            ).alias("boot_mean"),
        )
    )


@register(
    "a23_pareto_point",
    oracle="""
    WITH spend AS (
        SELECT c.c_mktsegment AS seg, o.o_custkey AS k,
               CAST(round(sum(o.o_totalprice) * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT seg, cents,
               row_number() OVER (
                   PARTITION BY seg ORDER BY cents DESC, k
               ) AS i,
               sum(cents) OVER (
                   PARTITION BY seg ORDER BY cents DESC, k
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum,
               sum(cents) OVER (PARTITION BY seg) AS tot,
               count(*) OVER (PARTITION BY seg) AS n
        FROM spend
    )
    SELECT seg,
           CAST(min(i) AS BIGINT) AS customers_for_80pct,
           CAST(max(n) AS BIGINT) AS n_customers,
           CAST(10000 * min(i) // max(n) AS BIGINT) AS share_of_base_bp
    FROM ranked
    WHERE 5 * cum >= 4 * tot
    GROUP BY seg
    """,
)
def a23_pareto_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto 80/20 point per segment — the SMALLEST number of top
    customers whose revenue reaches 80%% of the segment's total, and
    what share of the customer base that is (basis points). The
    concentration headline a18's Gini summarizes as one number, here
    in the actionable "how many accounts does the key-account team
    own" form. Revenue is integer cents and the 80%% test is the
    integer cross-multiplication ``5·cum ≥ 4·tot`` — no float
    appears anywhere, so no boundary can disagree.

    Scale: per-customer totals (one shuffle), per-segment sort
    windows over the AGGREGATED table, a filter + min.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    spend = (
        orders.join(F.broadcast(customer), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("o_custkey").alias("k"))
        .agg(
            F.round(F.sum("o_totalprice") * 100).cast("long").alias("cents")
        )
    )
    wo = Window.partitionBy("seg").orderBy(F.desc("cents"), F.asc("k"))
    wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wp = Window.partitionBy("seg")
    ranked = spend.select(
        "seg",
        F.row_number().over(wo).alias("i"),
        F.sum("cents").over(wc).alias("cum"),
        F.sum("cents").over(wp).alias("tot"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    return (
        ranked.filter(5 * F.col("cum") >= 4 * F.col("tot"))
        .groupBy("seg")
        .agg(
            F.min("i").cast("long").alias("customers_for_80pct"),
            F.max("n").cast("long").alias("n_customers"),
            F.expr("10000 * min(i) div max(n)").alias("share_of_base_bp"),
        )
    )


@register(
    "dq02_freshness_report",
    oracle="""
    -- floor(x/3.6e9), not integer //: a FUTURE max event time makes
    -- staleness negative, where DuckDB's // truncates toward zero
    -- and the engine floors (fuzz_oracle timewarp; the ts06 lesson).
    -- Double division is exact here (|x| << 2^52 * divisor).
    SELECT 'events' AS source,
           max(epoch_us(ts)) AS last_event_us,
           CAST(floor((1706745600000000 - max(epoch_us(ts)))
                      / 3600000000.0) AS BIGINT) AS staleness_hours,
           (1706745600000000 - max(epoch_us(ts))) <= 86400000000
               AS within_sla
    FROM events
    UNION ALL
    SELECT 'orders',
           max(epoch_us(o_orderdate)),
           CAST(floor((1706745600000000 - max(epoch_us(o_orderdate)))
                      / 3600000000.0) AS BIGINT),
           (1706745600000000 - max(epoch_us(o_orderdate))) <= 86400000000
    FROM orders
    """,
)
def dq02_freshness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data FRESHNESS audit — dq01's structural checks cover what the
    data IS; this covers whether it's CURRENT: per source, the latest
    event time, staleness in whole hours against the pipeline's
    reference clock (the 2024-02-01 cutoff literal — a production run
    injects its own), and a 24-hour SLA verdict. The first page of
    every pipeline-health dashboard.

    Scale: max() per source — scan-light (parquet footer stats can
    answer it), one row out per table.
    """
    ref_us = F.lit(1706745600000000)
    events = load_table(spark, sf_dir, "events")
    # o_orderdate reads as TIMESTAMP_NTZ; the session timezone is
    # pinned UTC (io._ensure_engine_confs), so a plain cast preserves
    # the instant exactly as DuckDB's naive reading does.
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_orderdate", F.col("o_orderdate").cast("timestamp")
    )

    def one(name, df, ts_col):
        last = F.max(F.unix_micros(F.col(ts_col)))
        return df.agg(
            F.lit(name).alias("source"),
            last.alias("last_event_us"),
            F.floor((ref_us - last) / 3600000000).alias("staleness_hours"),
            ((ref_us - last) <= 86400000000).alias("within_sla"),
        ).select("source", "last_event_us", "staleness_hours", "within_sla")

    return one("events", events, "ts").unionByName(
        one("orders", orders, "o_orderdate")
    )
