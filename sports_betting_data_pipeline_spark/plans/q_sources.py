"""Source-format roundtrip queries (SURVEY.md §2.1 S5 family).

The driver fixtures are parquet; a real deployment of this engine also
ingests delimited text and JSON feeds (the reference's own wire format
is JSON — mm_calls.py consumes REST JSON bodies end-to-end). These
queries prove the CSV and JSON read paths with EXPLICIT declared
schemas (never inference — SURVEY.md §1.3's "implicit schema is the
reference's biggest weakness" stance): write the fixture out in the
text format, read it back through the declared StructType, and
aggregate; the oracle runs the same aggregate over the original
parquet, so any loss in the encode→decode roundtrip (quoting, header
handling, timestamp rendering, type coercion) breaks the hash match.

Scratch data goes under <repo>/.scratch/ (gitignored) as
``<input dir basename>_<name>``, so runs over sf0.01 and sf0.1 don't
collide; two input dirs with one basename share their scratch.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sports_betting_data_pipeline_spark.io import load_table
from sports_betting_data_pipeline_spark.plans.catalog import register

_REPO = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

CUSTOMER_CSV = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)

ORDERS_JSON = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)


def _scratch(sf_dir: str, name: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join(_REPO, ".scratch", f"{tag}_{name}")


@register(
    "src01_csv_roundtrip",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_customers,
           round(sum(c_acctbal), 2) AS total_balance,
           min(c_name) AS first_name
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def src01_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source path: encode customer to headered CSV, decode through
    the declared schema, aggregate. min(c_name) rides along so string
    quoting/escaping faults can't hide behind numeric totals.

    Scale: CSV is the interchange format, not the lake format — no
    column pruning, no predicate pushdown, full-row parse. The engine
    reads it once at the edge and lands parquet; this query pins that
    edge's fidelity. The write splits across tasks and the read
    parallelizes per file split, so the roundtrip itself is
    distributed end to end.
    """
    path = _scratch(sf_dir, "customer_csv")
    load_table(spark, sf_dir, "customer").write.mode("overwrite").option(
        "header", True
    ).csv(path)
    back = spark.read.schema(CUSTOMER_CSV).option("header", True).csv(path)
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
            F.min("c_name").alias("first_name"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "src02_json_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price,
           max(o_orderdate) AS last_order
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def src02_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source path (the reference's actual wire format):
    encode orders to JSONL, decode through the declared schema —
    including the timestamp column, whose ISO rendering must survive
    the roundtrip — and aggregate.

    Scale: same edge-ingest posture as src01; JSONL splits by line so
    the read parallelizes without a preparse. Schema-on-read with a
    DECLARED StructType (inference would scan twice and guess types).
    """
    path = _scratch(sf_dir, "orders_json")
    load_table(spark, sf_dir, "orders").write.mode("overwrite").json(path)
    back = spark.read.schema(ORDERS_JSON).json(path)
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.max("o_orderdate").alias("last_order"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "src03_partitioned_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(sum(value), 2) AS total_value
    FROM events
    WHERE event_type IN ('purchase', 'error')
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def src03_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned lake layout: land events partitioned by
    event_type (``write.partitionBy``), then read back ONLY two
    partitions. The filter on the partition column must resolve at
    PLANNING time — partition pruning, zero I/O for the other three
    directories — which `tests/test_plans.py` pins on this exact shape
    (PartitionFilters, not PushedFilters).

    Scale: partition-by-low-cardinality-column is THE 100 TB table
    layout (date/source/type); a pruned read turns a full-lake scan
    into a directory listing plus the matching files. The write side
    shuffles nothing — each task fans its rows into per-partition
    files (dynamic partition insert).
    """
    path = _scratch(sf_dir, "events_by_type")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    events.write.mode("overwrite").partitionBy("event_type").parquet(path)
    # DECLARED read schema (the io.py "never infer" policy): an empty
    # landing has no footers to infer from and the bare read throws
    # UNABLE_TO_INFER_SCHEMA (fuzz_oracle empty_facts variant); the
    # partition column is declared last, as the layout stores it
    back = spark.read.schema(
        "event_id bigint, user_id bigint, value double, event_type string"
    ).parquet(path)
    return (
        back.filter(F.col("event_type").isin("purchase", "error"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("event_type")
    )


@register(
    "src04_orc_roundtrip",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2000-06-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def src04_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC lake format: land the date-filtered lineitem slice as ORC,
    read it back, and run the pricing-summary aggregate over it. ORC
    is the second first-class columnar format a lake engine must
    ingest (Hive-era tables); like parquet it carries its schema and
    serves predicate pushdown + column pruning from stripe metadata.

    The date filter is applied on the PARQUET side before the write
    and re-checked here only via the oracle equivalence — the ORC read
    back feeds the aggregate directly, so a type/precision loss in the
    ORC encode→decode (timestamps, doubles) breaks the hash.

    Scale: same scan posture as parquet — the engine treats lake
    format as a per-table property, not an architecture decision.
    """
    path = _scratch(sf_dir, "lineitem_orc")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("2000-06-01").cast("timestamp")
    )
    li.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (
        back.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "src05_schema_evolution",
    oracle="""
    -- batch 2 is the COMPLEMENT of batch 1 (user_id < 75), which
    -- includes NULL user ids — mirrored in the CASE predicates
    SELECT CAST(count(*) AS BIGINT) AS n_events,
           -- count of non-null VALUES (a NULL props row in the new
           -- vintage still has a NULL props_len), matching count(col)
           CAST(count(CASE WHEN user_id >= 75 OR user_id IS NULL
                           THEN length(props) END) AS BIGINT)
               AS n_with_props_len,
           CAST(sum(CASE WHEN user_id >= 75 OR user_id IS NULL
                         THEN length(props) END)
               AS BIGINT) AS total_props_len,
           round(sum(value), 2) AS total_value
    FROM events
    """,
)
def src05_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution: the lake accretes columns over time.
    Batch 1 (user_id < 75) lands WITHOUT the ``props_len`` column;
    batch 2 (the rest) lands WITH it; the read unifies both vintages
    via ``mergeSchema`` — old files surface the new column as null.
    The aggregate counts/sums the evolved column, so a wrong null-fill
    or a dropped vintage breaks the hash against the oracle computed
    from the ORIGINAL un-split table.

    Scale: mergeSchema reconciles footers at planning time (cost is
    per-FILE metadata, once; production pins the merged schema in the
    table catalog instead of re-deriving it). Reading old files never
    rewrites them — additive evolution is free; that is the property
    this query pins.
    """
    path = _scratch(sf_dir, "events_evolving")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "props"
    )
    # the two batches must PARTITION the table: batch 2 is the
    # complement of batch 1's predicate, including NULL user ids — a
    # bare >= 75 silently drops them from BOTH vintages (fuzz_oracle
    # nulls variant; the mv01 incomplete-partition-predicate lesson)
    old = events.filter(F.col("user_id") < 75).drop("props")
    new = events.filter(
        F.col("user_id").isNull() | (F.col("user_id") >= 75)
    ).withColumn("props_len", F.length("props").cast("long")).drop("props")
    old.write.mode("overwrite").parquet(path)
    new.write.mode("append").parquet(path)
    back = spark.read.option("mergeSchema", True).parquet(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("props_len").alias("n_with_props_len"),
        F.sum("props_len").alias("total_props_len"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


ORDERS_JSON_PERMISSIVE = T.StructType(
    list(ORDERS_JSON.fields) + [T.StructField("_corrupt_record", T.StringType())]
)


@register(
    "src06_corrupt_json_handling",
    oracle="""
    SELECT CAST(count(CASE WHEN o_orderkey % 10 <> 3 THEN 1 END) AS BIGINT)
               AS n_good,
           CAST(count(CASE WHEN o_orderkey % 10 = 3 THEN 1 END) AS BIGINT)
               AS n_quarantined,
           round(sum(CASE WHEN o_orderkey % 10 <> 3 THEN o_totalprice END), 2)
               AS good_total_price
    FROM orders
    """,
)
def src06_corrupt_json_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input resilience at the ingest edge: a JSONL feed
    where every orderkey≡3 (mod 10) record is truncated mid-object
    (the torn-write/partial-flush failure real feeds produce) is read
    in PERMISSIVE mode with a declared ``_corrupt_record`` column —
    good rows parse, bad rows quarantine with their raw text, and
    NOTHING is silently dropped. The oracle derives the exact
    good/quarantined split from the original table, so a reader that
    drops or mis-classifies even one record breaks the hash.

    Scale: corrupt-record capture is per-row during the single parse
    pass — no second scan; the quarantine column feeds a dead-letter
    sink in production (count it, alert on it, never lose it).
    FAILFAST is the right mode only when upstream guarantees
    well-formedness; DROPMALFORMED is how data silently vanishes.
    """
    path = _scratch(sf_dir, "orders_json_corrupt")
    orders = load_table(spark, sf_dir, "orders")
    as_json = orders.select(
        F.when(
            F.pmod("o_orderkey", F.lit(10)) == 3,
            # torn record: drop everything past the 20th character
            F.substring(F.to_json(F.struct(*orders.columns)), 1, 20),
        )
        .otherwise(F.to_json(F.struct(*orders.columns)))
        .alias("value")
    )
    as_json.write.mode("overwrite").text(path)
    back = (
        spark.read.schema(ORDERS_JSON_PERMISSIVE)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    return back.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1)).alias("n_good"),
        F.count(F.when(F.col("_corrupt_record").isNotNull(), 1)).alias(
            "n_quarantined"
        ),
        F.round(
            F.sum(
                F.when(F.col("_corrupt_record").isNull(), F.col("o_totalprice"))
            ),
            2,
        ).alias("good_total_price"),
    )


@register(
    "src07_text_roundtrip",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           min(doc_id) AS first_doc
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def src07_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text source path (``spark.read.text`` — the format
    raw LLM corpora actually arrive in): encode documents as
    tab-delimited ``doc_id \\t lang \\t hex(text)`` lines, decode by
    splitting each line back apart, and aggregate per language. Byte
    totals ride along so any encode/decode mangling breaks the hash.

    The text field rides HEX with a ``\\N`` sentinel for NULLs
    (classic TSV convention): raw text cannot ride a line format —
    concat_ws silently DROPS null fields (shifting text into the lang
    column) and embedded newlines split one document across records
    (both found by fuzz_oracle; the pre-fix decode threw
    INVALID_ARRAY_INDEX on the shifted 2-field lines). hex, not
    base64: Spark's base64() MIME-chunks long output with CRLF every
    76 chars — newlines right back in the line format. The line/field
    structure — the actual source exercise — is unchanged.

    Scale: text files split by line ranges, so the read parallelizes
    within files, not just across them; like CSV this is the edge
    format you land into parquet once. The encode/split/decode happens
    JVM-side (``base64``/``split``/``element_at``), no Python.
    """
    path = _scratch(sf_dir, "documents_txt")
    docs = load_table(spark, sf_dir, "documents")
    NULL_S = "\\N"
    docs.select(
        F.concat_ws(
            "\t",
            F.col("doc_id"),
            F.coalesce(F.col("lang"), F.lit(NULL_S)),
            F.coalesce(F.hex(F.encode("text", "UTF-8")), F.lit(NULL_S)),
        ).alias("value")
    ).write.mode("overwrite").text(path)

    def _null_sentinel(c):
        return F.when(c != NULL_S, c)

    back = (
        spark.read.text(path)
        .select(F.split("value", "\t", 3).alias("parts"))
        .select(
            F.element_at("parts", 1).cast("long").alias("doc_id"),
            _null_sentinel(F.element_at("parts", 2)).alias("lang"),
            F.decode(
                F.unhex(_null_sentinel(F.element_at("parts", 3))), "UTF-8"
            ).alias("text"),
        )
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.octet_length("text")).alias("total_bytes"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("lang")
    )


@register(
    "src08_binaryfile_source",
    oracle="""
    -- DISTINCT: the landing is keyed by doc_id (one doc_NNN.bin per
    -- id), so a re-delivered doc row lands once (fuzz_oracle dup
    -- variant); same-id rows with DIFFERING text remain an input
    -- contract violation (dq01's pk-uniqueness check is the guard)
    SELECT DISTINCT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    -- text IS NOT NULL: no asset file can be written from unknown
    -- bytes, so the landing excludes those docs (fuzz_oracle nulls).
    -- octet_length > 0: Spark's binaryFile source SILENTLY SKIPS
    -- zero-byte files (they produce no input splits — probed), so an
    -- empty payload cannot roundtrip through this landing; excluded
    -- on both sides and documented here (fuzz_oracle extremes)
    WHERE doc_id < 100 AND text IS NOT NULL
      AND octet_length(encode(text)) > 0
    """,
)
def src08_binaryfile_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-asset ingestion via Spark's ``binaryFile`` source — the
    entry point every multimodal pipeline (m01-m04) starts from when
    assets live as loose files in object storage rather than packed
    parquet. Documents doc_id<100 are materialized as one ``.bin``
    file each (executor-side ``foreachPartition`` writes — the edge
    sink is distributed, nothing funnels through the driver), then
    read back through ``binaryFile``; doc identity is recovered from
    the path, and content md5 + byte length pin fidelity.

    Scale: binaryFile lists files in parallel and maps one file per
    row with the content as a single binary cell — the pattern is
    list → read → immediately land as parquet-with-binary-column
    (m-family shape), because a 100 TB corpus of loose small files is
    a namespace bottleneck; this query is that landing step.
    """
    path = _scratch(sf_dir, "documents_bin")
    # fresh landing zone: stale doc_*.bin files from an earlier run
    # with a different qualifying set would be silently re-ingested
    # by the glob read below (ADVICE r4) — same discipline as st14
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents").filter(
        # no asset file can be written from NULL text, and a 0-byte
        # file is INVISIBLE to the binaryFile source (no input split)
        # — both excluded, oracle matches (fuzz_oracle nulls/extremes)
        (F.col("doc_id") < 100)
        & (F.octet_length(F.encode("text", "UTF-8")) > 0)
    )

    def write_part(rows):
        for r in rows:
            fname = os.path.join(path, f"doc_{r['doc_id']:06d}.bin")
            with open(fname + ".tmp", "wb") as fh:
                fh.write(r["text"].encode("utf-8"))
            os.replace(fname + ".tmp", fname)

    docs.select("doc_id", "text").foreachPartition(write_part)
    back = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.bin"
    ).load(path)
    return back.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


CUSTOMER_XML = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)


@register(
    "src09_xml_roundtrip",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_customers,
           round(sum(c_acctbal), 2) AS total_balance,
           min(c_name) AS first_name
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def src09_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source path (Spark 4's NATIVE xml format — the enterprise
    interchange format that previously needed an external package):
    encode customer as row-tagged XML, decode through the declared
    schema, aggregate. min(c_name) rides along so entity-escaping
    faults can't hide behind numeric totals — the same fidelity
    framing as src01's CSV.

    Scale: XML, like CSV, is an edge format — full-document parse, no
    pushdown; land it to parquet once. The write and the rowTag-split
    read both parallelize per file.
    """
    path = _scratch(sf_dir, "customer_xml")
    load_table(spark, sf_dir, "customer").write.mode("overwrite").format(
        "xml"
    ).option("rowTag", "customer").save(path)
    back = (
        spark.read.format("xml")
        .schema(CUSTOMER_XML)
        .option("rowTag", "customer")
        .load(path)
    )
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
            F.min("c_name").alias("first_name"),
        )
        .orderBy("c_mktsegment")
    )
