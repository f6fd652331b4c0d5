"""Differential test: every oracle-backed catalog query must match
DuckDB on the sf0.001 fixtures — the local mirror of the driver's
correctness gate."""

from __future__ import annotations

import shutil

import pandas as pd
import pytest

from sports_betting_data_pipeline_spark.io import TABLES, table_path
from sports_betting_data_pipeline_spark.plans import ORACLES, QUERIES
from tests.oracle import assert_frames_match, frame_mismatch, run_oracle


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, sf_dir, name):
    spark_df = QUERIES[name](spark, sf_dir)
    oracle_pdf = run_oracle(ORACLES[name], sf_dir)
    assert_frames_match(spark_df, oracle_pdf)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, sf_dir, name):
    """Queries without an oracle still must run, return a stable schema
    and return rows: with nothing to match, an empty result is the one
    failure left to see (the rule verify_driver.py and perfbench apply)."""
    df = QUERIES[name](spark, sf_dir)
    assert df.columns, f"{name} returned no columns"
    assert df.limit(1).count() == 1, f"{name} returned no rows"


def test_comparator_rejects_int_against_equal_float():
    """The external gate hashes rendered values, so an int64 column never
    matches an equal float64 one ('5' vs '5.0'); the comparator must
    say so and name the column."""
    got = pd.DataFrame({"k": ["a", "b"], "n": [5, 7]})
    want = pd.DataFrame({"k": ["a", "b"], "n": [5.0, 7.0]})
    why = frame_mismatch(got, want)
    assert why is not None and why.startswith("numeric-kind mismatch in n:"), why
    assert frame_mismatch(got, want.astype({"n": "int64"})) is None


def test_oracle_views_read_dir_shaped_tables(tmp_path, sf_dir):
    """A table written as a directory of part files (the sf1 fixture
    layout, ``<t>.parquet/part-0.parquet``) reads like the single file."""
    for name in TABLES:
        part_dir = tmp_path / f"{name}.parquet"
        part_dir.mkdir()
        shutil.copy(table_path(sf_dir, name), part_dir / "part-0.parquet")
    sql = "SELECT count(*) AS n, sum(l_quantity) AS q FROM lineitem"
    got = run_oracle(sql, str(tmp_path))
    assert frame_mismatch(got, run_oracle(sql, sf_dir)) is None
    assert got["n"].iloc[0] > 0


def test_l25_pinned_values_sf001(spark):
    """Pin l25_sequence_packing's exact per-row output at the driver's
    correctness SF (0.01), on BOTH engines — guards the r2 driver
    hash-mismatch (DuckDB HUGEINT window sum surfacing as float64 on
    some versions) against regressing in either direction."""
    import hashlib
    import os

    sf = "/root/testdata/sf0.01"
    if not os.path.isdir(sf):
        pytest.skip("sf0.01 fixtures absent")
    cols = ["doc_id", "lang", "n_tokens", "start_bin", "end_bin", "start_off"]
    spark_pdf = (
        QUERIES["l25_sequence_packing"](spark, sf)
        .toPandas()[cols]
        .sort_values(["lang", "doc_id"])
        .reset_index(drop=True)
    )
    oracle_pdf = (
        run_oracle(ORACLES["l25_sequence_packing"], sf)[cols]
        .sort_values(["lang", "doc_id"])
        .reset_index(drop=True)
    )
    for pdf, engine in ((spark_pdf, "spark"), (oracle_pdf, "duckdb")):
        assert len(pdf) == 500, engine
        for c in cols:
            if c != "lang":
                assert str(pdf[c].dtype) == "int64", f"{engine}.{c}: {pdf[c].dtype}"
        assert pdf.iloc[0].to_dict() == {
            "doc_id": 5, "lang": "de", "n_tokens": 56,
            "start_bin": 0, "end_bin": 0, "start_off": 0,
        }, engine
        assert pdf.iloc[-1].to_dict() == {
            "doc_id": 493, "lang": "zh", "n_tokens": 88,
            "start_bin": 7, "end_bin": 8, "start_off": 471,
        }, engine
        digest = hashlib.md5(pdf.to_csv(index=False).encode()).hexdigest()
        assert digest == "5cecc07715093234b6e7cb34b139e84d", engine


@pytest.mark.parametrize(
    "name,cols,digest,n_rows",
    [
        (
            "l31_chunk_dedup",
            ["doc_id", "n_chunks", "n_dup_chunks", "dup_ratio"],
            "7176d37ee462957e25414cde816837c3",
            500,
        ),
        (
            "pl02_corpus_assembly",
            ["doc_id", "lang", "rk", "n_tokens", "start_bin", "end_bin", "start_off"],
            "f5a160a84135a4684afb77e89e88cc48",
            298,
        ),
    ],
)
def test_pinned_values_sf001_version_sensitive_oracles(spark, name, cols, digest, n_rows):
    """Pin exact sf0.01 outputs for the queries whose oracle SQL uses
    DuckDB-version-sensitive constructs (struct_pack min, lateral
    range unnest) — the l25 lesson: a hash-MATCH on our DuckDB version
    does not guarantee the driver's. Both engines must reproduce the
    pinned digest."""
    import hashlib
    import os

    sf = "/root/testdata/sf0.01"
    if not os.path.isdir(sf):
        pytest.skip("sf0.01 fixtures absent")
    spark_pdf = (
        QUERIES[name](spark, sf).toPandas()[cols]
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    oracle_pdf = (
        run_oracle(ORACLES[name], sf)[cols]
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    for pdf, engine in ((spark_pdf, "spark"), (oracle_pdf, "duckdb")):
        assert len(pdf) == n_rows, engine
        got = hashlib.md5(pdf.to_csv(index=False).encode()).hexdigest()
        assert got == digest, f"{engine}: {got}"


def test_sigma_rewrite_single_source_of_truth():
    """r11 finding: five oracles carried a stale INLINE copy of the
    pre-ignorable-clause Final_Sigma regex (l14/l18/l28/l29/l41) —
    the new apostrophe-sigma fuzz snippet caught l14 mismatching while
    every _lower_sql() route matched. Pin the fix: no registered
    oracle may spell the old cased-boundary-only rewrite, and any
    oracle that rewrites to ς must carry the case-ignorable class,
    i.e. the _lower_sql() spelling."""
    from sports_betting_data_pipeline_spark.plans import ORACLES

    for name, sql in ORACLES.items():
        assert "Lt}])σ" not in sql, f"{name}: stale inline sigma regex"
        if "ς" in sql:
            assert r"\p{Mn}\p{Me}\p{Cf}" in sql, (
                f"{name}: sigma rewrite without the case-ignorable "
                "class — route it through q_llm._lower_sql()")


def test_case_mapping_oracle_contract(spark):
    """Pin the case-mapping oracle contract (README, SCALE.md r10):
    q_llm._lower_sql() must equal the engine's (JVM full+conditional)
    lower() on every divergence class the unicode fuzzer injects —
    U+0130 and Final_Sigma with its boundary cases — and the upper()
    replace chain (p04/c09) must equal JVM upper() on the injected
    ß/ligature traps. A Spark or DuckDB upgrade that shifts either
    side fails here, not in a 10-minute fuzz sweep."""
    import duckdb

    from sports_betting_data_pipeline_spark.plans.q_llm import _lower_sql

    probes = [
        "ΟΔΟΣ", "ΟΔΟΣ ΑΛΛΟ", "Σ", "ΣΣ", "ΑΣ-Β", "İstanbul ΟΔΟΣ",
        "ΟΔΥΣΣΕΑΣ και ΟΔΟΣ.", "中Σ", "ΑΣ中", "1Σ", "ΑΣ1", "ΑΣΣΑ",
        "σ ς already", "straße STRASSE", "ﬁne ﬂat ß", "hello world",
        # Final_Sigma case-ignorable clause (ADVICE r10 #2): apostrophe
        # / right-quote / combining mark / soft hyphen between the
        # sigma and the boundary, on both sides of the rule
        "ΟΔΥΣΣΕΑΣ'Σ", "ΑΣ'Β", "ΑΣ''", "ΑΣ’", "Α'Σ", "Σ'Σ",
        "ΑΣ́Β", "ΑΣ́ Β", "ΑΣ­Β", "ΑΣΣ'Β", "ΑΣ'Σ'Β",
        "ΑΣ'1",
    ]
    df = spark.createDataFrame([(t,) for t in probes], "text string")
    rows = df.selectExpr(
        "text", "lower(text) AS lo", "upper(text) AS up"
    ).collect()
    con = duckdb.connect()
    upper_sql = ("upper(replace(replace(replace(text,"
                 " 'ß', 'SS'), 'ﬁ', 'FI'), 'ﬂ', 'FL'))")
    for r in rows:
        got_lo, got_up = con.execute(
            f"SELECT {_lower_sql('text')}, {upper_sql}"
            " FROM (SELECT ? AS text)", [r.text],
        ).fetchone()
        assert got_lo == r.lo, f"lower({r.text!r}): duck={got_lo!r} jvm={r.lo!r}"
        assert got_up == r.up, f"upper({r.text!r}): duck={got_up!r} jvm={r.up!r}"
