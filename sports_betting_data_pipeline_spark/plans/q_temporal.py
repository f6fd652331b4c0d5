"""Temporal catalog queries (SURVEY.md §2.6 C1-C4).

Timezone-SENSITIVE renderings (America/New_York, US/Eastern) are
deliberately absent here — the oracle session's timezone is not ours to
pin, so those are verified cell-exact by tests/test_flatten.py and
tests/test_properties.py::test_temporal_renderings_match_zoneinfo. These queries cover the timezone-NEUTRAL
surface: ISO-Z parse/format roundtrips, epoch extraction, calendar
parts, and time bucketing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sports_betting_data_pipeline_spark.io import load_table
from sports_betting_data_pipeline_spark.operators.temporal import (
    ISO_Z_FORMAT,
    parse_iso_utc,
)
from sports_betting_data_pipeline_spark.plans.catalog import (
    json_k_variant_bigint,
    register,
)


@register(
    "c01_iso_parse_roundtrip",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           strftime(l_shipdate, '%Y-%m-%dT%H:%M:%SZ') AS iso,
           CAST(epoch(strptime(strftime(l_shipdate, '%Y-%m-%dT%H:%M:%SZ'),
                               '%Y-%m-%dT%H:%M:%SZ')) AS BIGINT) AS epoch_s
    FROM lineitem
    WHERE l_orderkey % 200 = 0
    """,
)
def c01_iso_parse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 parse step: render timestamps to the reference's ISO-Z wire
    format (main.py:89-92) and parse them back; output the epoch so the
    comparison is timezone-neutral."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.pmod(F.col("l_orderkey"), F.lit(200)) == 0
    )
    iso = F.date_format("l_shipdate", ISO_Z_FORMAT)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        iso.alias("iso"),
        F.unix_timestamp(parse_iso_utc(iso)).alias("epoch_s"),
    )


@register(
    "c03_epoch_micros",
    oracle="""
    SELECT event_id,
           epoch_us(ts) AS micros,
           CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS secs
    FROM events
    WHERE event_id % 25 = 0
    """,
)
def c03_epoch_micros(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 parse step: the events table's ns-precision timestamps (read
    via exact ns→µs truncation, io.load_table) exposed as epoch
    micros/seconds — the inverse of updated_at/1e9 (main.py:126-128)."""
    events = load_table(spark, sf_dir, "events").filter(
        F.pmod(F.col("event_id"), F.lit(25)) == 0
    )
    return events.select(
        "event_id",
        F.unix_micros("ts").alias("micros"),
        F.unix_timestamp(F.date_trunc("second", "ts")).alias("secs"),
    )


@register(
    "c04_calendar_parts",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT)      AS yr,
           CAST(quarter(o_orderdate) AS BIGINT)   AS qtr,
           CAST(month(o_orderdate) AS BIGINT)     AS mon,
           count(*)                               AS n_orders,
           round(sum(o_totalprice), 2)            AS revenue
    FROM orders
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def c04_calendar_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-part extraction + monthly rollup (the analytic upgrade
    of the reference's per-row strftime formatting)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.quarter("o_orderdate").cast("long").alias("qtr"),
            F.month("o_orderdate").cast("long").alias("mon"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("yr", "qtr", "mon")
    )


@register(
    "c06_time_bucketing",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS DATE) AS day,
           CAST(hour(ts) AS BIGINT) AS hr,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <  TIMESTAMP '2024-01-12 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def c06_time_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly bucketing over a time-range scan — the batch analog of
    the streaming tumbling window (SURVEY.md §2.8); range predicate
    prunes partitions when the table is date-partitioned at scale."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.filter(
            (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-12 00:00:00").cast("timestamp"))
        )
        .groupBy(
            F.to_date(F.date_trunc("hour", "ts")).alias("day"),
            F.hour("ts").cast("long").alias("hr"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("day", "hr", "event_type")
    )


@register(
    "ts01_gap_fill_forward",
    oracle="""
    WITH d AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               round(sum(value), 2) AS revenue
        FROM events
        WHERE event_type = 'purchase' AND user_id < 5
        GROUP BY 1, 2
    ),
    spine AS (
        SELECT u.user_id, CAST(gs.gs AS DATE) AS day
        FROM (SELECT DISTINCT user_id FROM d) u,
             generate_series(DATE '2024-01-01', DATE '2024-01-30',
                             INTERVAL 1 DAY) AS gs(gs)
    ),
    j AS (
        SELECT s.user_id, s.day, d.revenue
        FROM spine s LEFT JOIN d ON s.user_id = d.user_id AND s.day = d.day
    )
    SELECT user_id, day,
           coalesce(last_value(revenue IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 0.0) AS revenue_ffill,
           revenue IS NULL AS was_gap
    FROM j
    ORDER BY user_id, day
    """,
)
def ts01_gap_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling + forward fill: materialize the full
    per-user day spine (no join — the spine explodes out of a
    ``sequence()`` literal per user), left-join the observed daily
    revenue onto it, and carry the last observation forward over the
    gaps (``last(..., ignorenulls=True)`` over an unbounded-preceding
    frame). The regularization step every downstream window/forecast
    model needs, since raw event data has holes.

    Scale: the spine is |users| x |days| rows generated map-side (one
    ``explode``, no cartesian shuffle); the left join and the fill
    window both partition on user_id, so AQE plans a single user_id
    exchange reused by both. Nothing scans more than the date-pruned
    purchase rows.
    """
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.filter((F.col("event_type") == "purchase") & (F.col("user_id") < 5))
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value"), 2).alias("revenue"))
    )
    spine = (
        daily.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.lit("2024-01-01").cast("date"),
                    F.lit("2024-01-30").cast("date"),
                    F.expr("interval 1 day"),
                )
            ).alias("day"),
        )
    )
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce(
                F.last("revenue", ignorenulls=True).over(w), F.lit(0.0)
            ).alias("revenue_ffill"),
            F.col("revenue").isNull().alias("was_gap"),
        )
        .orderBy("user_id", "day")
    )


@register(
    "ts02_ohlc_resample",
    oracle="""
    SELECT event_type,
           epoch_us(ts) // 21600000000 * 21600000000 AS bucket_us,
           -- struct-wrapped arg extremes: Spark min_by/max_by return
           -- the extreme row's payload even when NULL, and ignore
           -- NULL-ts rows the same way (fuzz_oracle nulls variant)
           round((arg_min({'v': value}, ts)).v, 4) AS open_value,
           round(max(value), 4) AS high_value,
           round(min(value), 4) AS low_value,
           round((arg_max({'v': value}, ts)).v, 4) AS close_value,
           CAST(count(*) AS BIGINT) AS volume,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def ts02_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series OHLC downsampling (the hypertable-rollup shape):
    per event type and 6-hour bucket, the first/highest/lowest/last
    observed value plus volume — the classic odds-movement /
    price-candle resample a betting analytics stack charts.

    open/close use ``min_by``/``max_by`` keyed on the event timestamp
    — single-pass partial-aggregable arg-extremes, no window, no
    self-join. The fixture generator never emits two events of one
    type in the same microsecond, so the arg ordering is total; at
    scale key min_by on a (ts, event_id) struct to make the tiebreak
    explicit.

    Scale: one map-side-combined shuffle on (event_type, bucket);
    every aggregate here (including the arg-extremes) has a partial
    form, so the shuffle carries one row per group per task — the
    rollup stays O(groups), not O(events), no matter how many rows
    feed it. Bucket start is integer epoch-division (µs), identical
    arithmetic to the streaming tumbling window's bucketing.
    """
    events = load_table(spark, sf_dir, "events")
    bucket_us = F.expr("unix_micros(ts) div 21600000000 * 21600000000")
    return (
        events.groupBy("event_type", bucket_us.alias("bucket_us"))
        .agg(
            F.round(F.min_by("value", "ts"), 4).alias("open_value"),
            F.round(F.max("value"), 4).alias("high_value"),
            F.round(F.min("value"), 4).alias("low_value"),
            F.round(F.max_by("value", "ts"), 4).alias("close_value"),
            F.count(F.lit(1)).alias("volume"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "ts03_twap",
    oracle="""
    WITH seg AS (
        SELECT user_id, event_type, value,
               epoch_us(lead(ts) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts NULLS FIRST, event_id
               )) - epoch_us(ts) AS dur_us
        FROM events
        WHERE user_id < 20
    )
    SELECT user_id, event_type,
           round(sum(value * dur_us) / sum(dur_us), 4) AS twap,
           CAST(count(*) AS BIGINT) AS n_segments
    FROM seg
    WHERE dur_us IS NOT NULL
    GROUP BY user_id, event_type
    """,
)
def ts03_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) per (user, event type): each
    observation is weighted by how long it remained the current value
    (duration to the next event in the same series). The canonical
    irregular-time-series average — a plain AVG over-weights bursts —
    and the shape an odds/price feed needs (the reference's odds stream
    carries irregular updates, src/mm_calls.py handlers).

    The last observation of each series has no successor and is
    excluded (open-ended interval), matching the standard
    left-closed-segment TWAP definition.

    Scale: one window (lead) and one aggregate, both keyed on the SAME
    composite (user_id, event_type) — AQE reuses a single exchange; no
    single-partition window anywhere. Durations are integer
    microseconds so weights are engine-exact; only the final division
    is floating point.
    """
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    seg = events.select(
        "user_id",
        "event_type",
        "value",
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")).alias("dur_us"),
    )
    return (
        seg.filter(F.col("dur_us").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(
            # try_divide: a series whose observed duration is all-zero
            # (every event at the same instant) has no TWAP — NULL,
            # DuckDB's /0 result; ANSI Spark's bare / throws
            # (fuzz_oracle ties variant)
            F.round(
                F.try_divide(
                    F.sum(F.col("value") * F.col("dur_us")), F.sum("dur_us")
                ),
                4,
            ).alias("twap"),
            F.count(F.lit(1)).alias("n_segments"),
        )
    )


@register(
    "ts04_ewma",
    oracle="""
    WITH ordered AS (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
                   AS rn,
               count(*) OVER (PARTITION BY user_id) AS n
        FROM events
        WHERE event_type = 'purchase'
    )
    SELECT user_id,
           CAST(max(n) AS BIGINT) AS n_obs,
           round(sum(CASE WHEN rn = 1 THEN power(0.7, n - 1)
                          ELSE 0.3 * power(0.7, n - rn) END * value), 4)
               AS ewma
    FROM ordered
    GROUP BY user_id
    """,
)
def ts04_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha=0.3) of each
    user's purchase values, reported at the final observation.

    The recursion ``ewma_i = a*x_i + (1-a)*ewma_{i-1}`` (seeded
    ``ewma_1 = x_1``) is re-expressed in closed form as a weighted sum
    — ``x_i`` contributes ``a*(1-a)^(n-i)`` (the seed ``(1-a)^(n-1)``)
    — so a sequential per-row loop becomes ONE window + ONE partial-agg
    sum, fully parallel and oracle-checkable.

    Scale: no iterative state and no per-row Python; the row_number
    window and the final groupBy share the user_id partitioning. The
    geometric weights underflow to 0 beyond ~700 observations back
    (double precision), which is exactly EWMA's forgetting property —
    numerically identical to the recursive form at any series length.
    """
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wp = Window.partitionBy("user_id")
    ordered = events.select(
        "user_id",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    weight = F.when(
        F.col("rn") == 1, F.pow(F.lit(0.7), F.col("n") - 1)
    ).otherwise(F.lit(0.3) * F.pow(F.lit(0.7), F.col("n") - F.col("rn")))
    return ordered.groupBy("user_id").agg(
        F.max("n").alias("n_obs"),
        F.round(F.sum(weight * F.col("value")), 4).alias("ewma"),
    )


@register(
    "c11_higher_order_arrays",
    oracle="""
    SELECT l_orderkey,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l_quantity), 2) AS total_qty,
           CAST(count(*) FILTER (l_quantity > 10) AS BIGINT) AS n_over10,
           round(max(l_quantity * (1 + l_tax)), 2) AS max_taxed_qty
    FROM lineitem
    WHERE l_orderkey % 100 = 0
    GROUP BY l_orderkey
    """,
)
def c11_higher_order_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order ARRAY functions as a first-class surface: each
    order's quantities are collected into an array and then reduced
    with ``aggregate`` (fold-sum), ``filter`` + ``size`` (conditional
    count), and ``transform`` + ``array_max`` (map-then-reduce) — the
    JVM-side lambda toolkit the ANN/dedup operators lean on, here
    pinned against a plain-aggregate oracle so the HOF semantics
    (not just the aggregation) are what's checked.

    Scale note: for THESE reductions a plain groupBy aggregate is the
    right production plan (partial-aggregable, no array
    materialization) — the HOF form exists for when the array IS the
    data model (embeddings, token lists, m02's frame offsets); the
    oracle equivalence documents that both forms agree.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.pmod(F.col("l_orderkey"), F.lit(100)) == 0
    )
    arrs = li.groupBy("l_orderkey").agg(
        F.collect_list(F.struct("l_quantity", "l_tax")).alias("items")
    )
    qty = F.transform("items", lambda s: s["l_quantity"])
    # SQL sum() SKIPS nulls and returns NULL for an all-null group; a
    # bare fold would instead poison the whole sum (acc + NULL = NULL)
    # — filter first, then guard the empty case (fuzz_oracle nulls)
    nn_qty = F.filter(qty, lambda q: q.isNotNull())
    return arrs.select(
        "l_orderkey",
        F.size("items").cast("long").alias("n_items"),
        F.round(
            F.when(
                F.size(nn_qty) > 0,
                F.aggregate(nn_qty, F.lit(0.0), lambda acc, q: acc + q),
            ),
            2,
        ).alias("total_qty"),
        F.size(F.filter(qty, lambda q: q > 10)).cast("long").alias("n_over10"),
        F.round(
            F.array_max(
                F.transform("items", lambda s: s["l_quantity"] * (1 + s["l_tax"]))
            ),
            2,
        ).alias("max_taxed_qty"),
    )


@register(
    "c12_variant_json",
    # variant coercion contract (badjson variant): try_variant_get
    # (...,'long') is PERMISSIVE — "99"→99, 3.7→3, true→1,
    # overflow/array → NULL (plans/catalog.py json_k_variant_bigint);
    # n_with_k counts the COERCED k, matching the engine's aggregate.
    oracle=f"""
    SELECT event_type,
           CAST(sum({json_k_variant_bigint()})
                AS BIGINT) AS sum_k,
           CAST(count(*) FILTER ({json_k_variant_bigint()} IS NOT NULL)
                AS BIGINT) AS n_with_k,
           CAST(max({json_k_variant_bigint()})
                AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def c12_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open VARIANT semi-structured type (Spark 4): the JSON payload
    parsed ONCE into the binary variant encoding (``parse_json``) and
    then accessed with typed path extraction (``try_variant_get``) —
    the modern replacement for per-access ``get_json_object`` string re-parsing
    (c07's struct form needs the schema up front; c10's map form
    loses value types; variant keeps open schema AND typed access
    over a parse-once binary).

    Scale: the variant column is parsed binary — repeated path
    accesses don't re-tokenize the JSON text, which is the point at
    100 TB of event payloads; the aggregate itself is one map-side-
    combined shuffle.
    """
    events = load_table(spark, sf_dir, "events")
    # try_parse_json: malformed payloads become NULL variants (no k,
    # excluded from n_with_k) instead of aborting the whole query —
    # at 100 TB of real event payloads some WILL be malformed
    # (fuzz_oracle extremes variant; the oracle's json_valid guard)
    v = events.select(
        "event_type", F.try_parse_json("props").alias("v")
    ).select(
        "event_type",
        F.try_variant_get("v", "$.k", "long").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.sum("k").alias("sum_k"),
        F.count(F.when(F.col("k").isNotNull(), 1)).alias("n_with_k"),
        F.max("k").alias("max_k"),
    )


@register(
    "sql03_pipe_syntax",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    WHERE l_quantity >= 30
    GROUP BY l_returnflag, l_linestatus
    """,
)
def sql03_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIPE syntax (Spark 4's ``|>`` operator chaining — the
    SQL:2023-adjacent linear form): the same filter → aggregate plan
    as classic SQL, written as a top-to-bottom pipeline. Pinning it
    hash-equal to the classic-SQL oracle proves the surface parses
    AND optimizes identically (pushdown still reaches the scan).
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_quantity >= 30
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n_lines,
                     round(sum(l_extendedprice * (1 - l_discount)), 2)
                         AS revenue
           GROUP BY l_returnflag, l_linestatus
        """
    )


@register(
    "c13_url_parse",
    oracle="""
    -- a URL assembled from ANY null component is null, so every
    -- parsed field is null together — per-field reconstruction would
    -- keep path/ref alive where the engine's parse_url(NULL) cannot
    -- (fuzz_oracle nulls variant)
    SELECT event_id,
           CASE WHEN user_id IS NULL OR event_type IS NULL THEN NULL
                ELSE 'shard' || CAST(user_id % 8 AS VARCHAR)
                     || '.example.com' END AS host,
           CASE WHEN user_id IS NULL OR event_type IS NULL THEN NULL
                ELSE '/t/' || event_type END AS path,
           CASE WHEN user_id IS NULL OR event_type IS NULL THEN NULL
                ELSE CAST(event_id AS VARCHAR) END AS ref_param
    FROM events
    WHERE event_id % 25 = 0
    """,
)
def c13_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing kit (``parse_url`` — JVM-side): synthesize each
    event's click URL from its columns, then recover host, path, and
    a query parameter BY PARSING the assembled string. The oracle
    reconstructs the same fields directly from the columns, so the
    hash check verifies the parser inverts the builder exactly —
    scheme/port/query handling and all. The log-processing first step
    (clickstream URLs → dimensions) with no Python and no regex.

    Scale: pure map-side string expressions; the l17 scrubbing regexes
    handle FREE-TEXT URLs, this handles STRUCTURED ones.
    """
    events = load_table(spark, sf_dir, "events").filter(
        F.pmod("event_id", F.lit(25)) == 0
    )
    url = F.concat(
        F.lit("https://shard"),
        (F.col("user_id") % 8).cast("string"),
        F.lit(".example.com:443/t/"),
        F.col("event_type"),
        F.lit("?ref="),
        F.col("event_id").cast("string"),
        F.lit("&utm=x"),
    )
    return events.select(
        "event_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("ref")).alias("ref_param"),
    )


@register(
    "ts05_seasonal_profile",
    oracle="""
    WITH cells AS (
        SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
               CAST(hour(ts) AS BIGINT) AS hod,
               count(*) AS n,
               sum(coalesce(value, 0.0)) AS tv
        FROM events
        GROUP BY 1, 2
    ),
    tot AS (SELECT sum(n) AS tn, count(*) AS n_cells FROM cells)
    SELECT dow, hod,
           CAST(n AS BIGINT) AS n_events,
           round(tv, 2) AS total_value,
           round(n * n_cells / CAST(tn AS DOUBLE), 6) AS seasonality_index
    FROM cells, tot
    """,
)
def ts05_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality PROFILE — the day-of-week × hour-of-day heatmap
    with each cell's traffic indexed against a uniform baseline
    (index 1.0 = average load; 2.0 = double): the capacity and
    anomaly-baseline input (st15 flags residuals; this is the
    seasonal expectation you subtract first). DuckDB's dayofweek is
    0-6 Sunday-first; Spark's matching form is ``dayofweek(ts)-1`` —
    pinned here so the convention is explicit.

    Scale: one map-side-combined shuffle to 168 cells, a 1-row total
    broadcast — the profile costs one scan at any history length.
    """
    events = load_table(spark, sf_dir, "events")
    cells = events.groupBy(
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("tv"),
    )
    tot = cells.agg(
        F.sum("n").alias("tn"), F.count(F.lit(1)).alias("n_cells")
    )
    return cells.join(F.broadcast(tot)).select(
        "dow",
        "hod",
        F.col("n").alias("n_events"),
        F.round("tv", 2).alias("total_value"),
        F.round(
            F.col("n") * F.col("n_cells") / F.col("tn").cast("double"), 6
        ).alias("seasonality_index"),
    )


@register(
    "ts06_wow_growth",
    oracle="""
    WITH weekly AS (
        -- explicit floor(x/7.0), not integer //: DuckDB's integer //
        -- TRUNCATES toward zero for negative operands (probed) while
        -- the engine floors — pre-1970 event dates land in different
        -- weeks otherwise (fuzz_oracle timewarp variant)
        SELECT CAST(floor(date_diff('day', DATE '2024-01-01',
                                    CAST(ts AS DATE)) / 7.0)
                    AS BIGINT) AS week,
               sum(coalesce(value, 0.0)) AS rev
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    )
    -- NULLS FIRST: the NULL-ts week group must occupy the same
    -- lag position in both engines (fuzz_oracle nulls variant)
    SELECT week,
           round(rev, 2) AS revenue,
           round(lag(rev) OVER (ORDER BY week NULLS FIRST), 2) AS prev_revenue,
           CAST(CASE WHEN lag(rev) OVER (ORDER BY week NULLS FIRST) IS NULL THEN NULL
                ELSE 10000 * CAST(round(rev * 100) AS BIGINT)
                     // CAST(round(lag(rev) OVER (ORDER BY week NULLS FIRST) * 100)
                             AS BIGINT) - 10000 END AS BIGINT) AS wow_growth_bp
    FROM weekly
    """,
)
def ts06_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue GROWTH — the top-line trend metric:
    weekly purchase revenue, the prior week alongside, and the growth
    rate in integer basis points. The growth ratio divides integer
    CENTS — ``round(rev*100)`` is exact because revenue is a sum of
    2dp values, so the double sits within 1e-9 of an integer and
    nearest-integer rounding is unambiguous (never CAST a scaled
    double directly: Spark's cast truncates where DuckDB's rounds,
    an off-by-one waiting on any X.9999 representation).

    Scale: one weekly aggregate (map-side-combined) + a lag window
    over the handful of week rows.
    """
    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    week = F.floor(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) / 7
    ).cast("long")
    weekly = events.groupBy(week.alias("week")).agg(
        F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("rev")
    )
    from pyspark.sql.window import Window

    w = Window.orderBy("week")
    return weekly.select(
        "week",
        F.round("rev", 2).alias("revenue"),
        F.round(F.lag("rev").over(w), 2).alias("prev_revenue"),
        F.when(
            F.lag("rev").over(w).isNotNull(),
            F.expr(
                "10000 * CAST(round(rev * 100) AS BIGINT)"
                " div CAST(round(lag(rev) OVER (ORDER BY week NULLS FIRST) * 100)"
                " AS BIGINT) - 10000"
            ),
        ).alias("wow_growth_bp"),
    )
