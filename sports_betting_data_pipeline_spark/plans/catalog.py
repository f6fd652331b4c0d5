"""The engine's query catalog.

Each entry is a named query: a Spark callable ``(spark, sf_dir) ->
DataFrame`` plus (when SQL-expressible) an equivalent ANSI-SQL string a
DuckDB oracle can run over the same parquet tables. The driver compares
row-count + schema + order-insensitive value hash (SURVEY.md §5).

Conventions that keep the oracle comparison tight:
- Every computed column is aliased identically on both sides.
- Double-typed aggregates are rounded on BOTH sides (sum→2dp, avg→6dp):
  floating-point summation order differs between engines, so raw
  last-ulp bits are not comparable.
- DuckDB's SUM(BIGINT) returns HUGEINT — always CAST to BIGINT in
  oracle SQL so schemas line up with Spark's LongType.
- Timezone-sensitive renderings are kept OUT of oracle queries (the
  oracle session timezone is not ours to control); C1-C4 fidelity is
  pinned by unit tests instead (tests/test_flatten.py and
  tests/test_properties.py::test_temporal_renderings_match_zoneinfo).

The registry is populated by importing the query modules at the bottom
of this file.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# Every rows-only query (no oracle_sql — the driver records a weaker
# rows-only check) MUST name hash-checked sibling queries that pin the
# same machinery end-to-end. tests/test_rotation.py enforces this map:
# adding a rows-only query without a hash-checked twin fails CI.
ROWS_ONLY_SIBLINGS: dict[str, tuple[str, ...]] = {
    # xxhash64 is Spark-internal (no DuckDB twin); l58 runs the same
    # SimHash pipeline on a portable md5-derived hash, hash-checked,
    # and l08/l12 hash-check the MinHash/LSH machinery around it.
    "l09_simhash_neardup": ("l58_simhash_portable", "l08_minhash_lsh",
                            "l12_embedding_neardup"),
    # iterative k-means|| has no closed-form SQL; l13/l36 hash-check
    # the IVF assign/probe machinery with fixed centroids.
    "l23_ann_ivf_kmeans": ("l13_ann_ivf", "l36_ann_ivfpq"),
    # stateful streaming near-dup state is not DuckDB-expressible;
    # l30 hash-checks the same banded-signature filter as a batch plan.
    "st09_stream_neardup_filter": ("l30_incremental_neardup",),
}


# ---------------------------------------------------------------------------
# JSON coercion contract (DuckDB spellings of the engine's JSON access
# paths, exercised by the badjson fuzz variant — corrupt/edge payloads
# are a fact of life at 100 TB of event data, and Spark 4 runs ANSI
# mode by default, where a naive cast of a non-numeric extracted string
# ABORTS the whole query). Each helper mirrors one Spark expression
# exactly, verified empirically on Spark 4.1.2 vs DuckDB 1.0:
#
#   get_json_object + try_cast(bigint): NULL unless the extracted
#     string is integral (try_cast('3.7' AS bigint) is NULL on Spark
#     but rounds to 4 under DuckDB TRY_CAST — hence the regex guard).
#   from_json struct<k: bigint>: STRICT — only JSON-typed integers
#     within int64 parse; strings/floats/bools/overflow → NULL.
#   try_variant_get(..., 'long'): PERMISSIVE — "99"→99, 3.7→3
#     (truncate toward zero), true→1, overflow/array/object → NULL.
#
# Known engine-permissive edges NO SQL contract can mirror (excluded
# from the fuzz fragments, documented here): Spark's Jackson parses a
# VALID PREFIX with trailing garbage ('{"k":1}x' → 1) where json_valid
# is false; DuckDB's yyjson accepts NaN/Infinity literals that Jackson
# rejects.
# ---------------------------------------------------------------------------


def json_guarded(src: str = "props") -> str:
    """Malformed-JSON guard: NULL unless ``src`` parses (DuckDB's JSON
    functions ERROR on malformed input; Spark's return NULL)."""
    return f"CASE WHEN json_valid({src}) THEN {src} END"


def sql_try_bigint(expr: str) -> str:
    """DuckDB spelling of Spark ``try_cast(expr AS BIGINT)`` for string
    input: integral strings only (DuckDB TRY_CAST would round '3.7')."""
    return (
        f"CASE WHEN regexp_matches(trim({expr}), '^[+-]?[0-9]+$') "
        f"THEN TRY_CAST({expr} AS BIGINT) END"
    )


def json_k_extract(src: str = "props", key: str = "k") -> str:
    """Guarded ``get_json_object(src, '$.key')`` equivalent."""
    return f"json_extract_string({json_guarded(src)}, '$.{key}')"


def json_k_strict_bigint(src: str = "props", key: str = "k") -> str:
    """Mirror of ``from_json(src, 'struct<key: bigint>').key``: only
    JSON-typed integers parse (UBIGINT covers positive yyjson ints;
    TRY_CAST nulls the >int64 overflow exactly like Jackson)."""
    g = json_guarded(src)
    return (
        f"CASE WHEN json_type({g}, '$.{key}') IN ('BIGINT', 'UBIGINT') "
        f"THEN TRY_CAST(json_extract_string({g}, '$.{key}') AS BIGINT) END"
    )


def json_k_variant_bigint(src: str = "props", key: str = "k") -> str:
    """Mirror of ``try_variant_get(try_parse_json(src), '$.key',
    'long')`` — the permissive coercion matrix (module comment)."""
    g = json_guarded(src)
    v = f"json_extract_string({g}, '$.{key}')"
    return f"""CASE json_type({g}, '$.{key}')
        WHEN 'BIGINT' THEN TRY_CAST({v} AS BIGINT)
        WHEN 'UBIGINT' THEN TRY_CAST({v} AS BIGINT)
        WHEN 'DOUBLE' THEN TRY_CAST(trunc(TRY_CAST({v} AS DOUBLE)) AS BIGINT)
        WHEN 'VARCHAR' THEN {sql_try_bigint(v)}
        WHEN 'BOOLEAN' THEN CASE {v} WHEN 'true' THEN 1 ELSE 0 END
        END"""


def register(name: str, oracle: str | None = None):
    """Decorator: add a query (and optional oracle SQL) to the catalog."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _load_query_modules() -> None:
    # Imported for their @register side effects.
    from sports_betting_data_pipeline_spark.plans import (  # noqa: F401
        q_flatten,
        q_graph,
        q_joins,
        q_llm,
        q_odds,
        q_relational,
        q_sources,
        q_streaming,
        q_temporal,
        q_tpch_extra,
        q_wagers,
    )


_load_query_modules()
