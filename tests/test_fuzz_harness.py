"""The adversarial-data oracle fuzz harness (scripts/fuzz_oracle.py)
must keep working: it is the correctness gate for data the fixed
fixtures never show the engine (NULL keys, empty inputs, duplicate
PKs, ties, extremes, skew, non-finite doubles). A full sweep is a
script-level job (FUZZ.json is the committed artifact); this file
pins the harness machinery and the skip-list's integrity so neither
can rot silently.
"""

from __future__ import annotations

import glob
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = os.path.join(REPO, "scripts")
if SCRIPTS not in sys.path:
    sys.path.insert(0, SCRIPTS)

import fuzz_oracle  # noqa: E402

from sports_betting_data_pipeline_spark.io import TABLES  # noqa: E402
from sports_betting_data_pipeline_spark.plans import ORACLES, QUERIES  # noqa: E402
from tests.oracle import load_entry  # noqa: E402


@pytest.fixture(scope="module")
def sweep(spark, sf_dir, tmp_path_factory):
    """Runs ``names`` through the harness's compare loop on the seeded
    ``variant`` of the test fixture; returns the loop's results."""
    entry, base = load_entry(), fuzz_oracle.load_base(sf_dir)

    def run(variant: str, names) -> dict:
        vdir = str(tmp_path_factory.mktemp(variant) / f"fz_mini_{variant}")
        fuzz_oracle.write_variant(base, fuzz_oracle.VARIANTS[variant], 20260816, vdir)
        return fuzz_oracle.run_variant(spark, entry, variant, vdir, list(names))

    return run


def _assert_mini_sweep(sweep, variant: str, names) -> None:
    for name in names:
        assert name in QUERIES and name in ORACLES, name
    res = sweep(variant, names)
    bad = {k: v for k, v in res.items() if v["status"] != "match"}
    assert len(res) == len(names)
    assert not bad, bad


def test_contract_skips_reference_real_queries_and_variants():
    """Every documented contract skip must name an existing variant
    and an existing catalog query — a renamed query must not leave a
    stale skip silently matching nothing."""
    for variant, query in fuzz_oracle.KNOWN_CONTRACT_SKIPS:
        assert variant in fuzz_oracle.VARIANTS, (variant, query)
        assert query in QUERIES, (variant, query)
        # skipping a rows-only query would be meaningless — the skip
        # list exists to annotate ORACLE divergences
        assert query in ORACLES, (variant, query)


def test_variant_generators_are_seed_deterministic(tmp_path):
    """Same seed -> byte-identical variant parquet (the resume/replay
    property every triage probe relies on)."""
    import numpy as np

    base = fuzz_oracle.load_base("/root/testdata/sf0.001")
    for i, v in enumerate(["nulls", "dup", "extremes"]):
        d1 = tmp_path / f"{v}_a"
        d2 = tmp_path / f"{v}_b"
        fuzz_oracle.write_variant(base, fuzz_oracle.VARIANTS[v], 7, str(d1))
        fuzz_oracle.write_variant(base, fuzz_oracle.VARIANTS[v], 7, str(d2))
        for t in TABLES:
            b1 = (d1 / f"{t}.parquet").read_bytes()
            b2 = (d2 / f"{t}.parquet").read_bytes()
            assert b1 == b2, (v, t)
    # and the nulls variant really does inject nulls outside PKs
    import pyarrow.parquet as pq

    dfs = {t: (df.copy(), s) for t, (df, s) in base.items()}
    rng = np.random.default_rng(7)
    mutated = fuzz_oracle.v_nulls({t: d for t, (d, _) in dfs.items()}, rng)
    assert mutated["documents"]["text"].isna().any()
    assert not mutated["documents"][fuzz_oracle.PK["documents"]].isna().any()


@pytest.mark.parametrize("name", ["q01_pricing_summary", "l05_prefix_dedup"])
def test_fuzz_nulls_variant_end_to_end(sweep, name):
    """One end-to-end differential check per representative query on
    the nulls variant — the harness's compare loop itself (variant
    write, DuckDB view registration, Spark-vs-oracle match) must stay
    green. l05 is the query whose NULL-text divergence this harness
    originally caught."""
    res = sweep("nulls", [name])
    assert res[name]["status"] == "match", res[name]


def test_fuzz_nulls_mini_sweep(sweep):
    """Seeded nulls-variant mini-sweep over the queries the first fuzz
    wave flagged (one per engine fix it motivated — the list lives
    next to the harness, fuzz_oracle.NULLS_SMOKE): a regression in any
    fuzz fix fails CI in about a minute instead of surfacing at the
    next session-scale 9-variant sweep. The roundtrip scratch the
    swept queries write is gone afterwards."""
    _assert_mini_sweep(sweep, "nulls", fuzz_oracle.NULLS_SMOKE)
    assert not glob.glob(fuzz_oracle._scratch("fz_mini_nulls", "*"))


def test_contract_skip_list_size_is_pinned():
    """The skip list exists to annotate honest contract violations —
    pin its SIZE so a new skip can't slip in as a quiet way to hide a
    finding (r8 verdict nit #1). Growing it must be a deliberate,
    test-updating act that names the violated contract."""
    assert len(fuzz_oracle.KNOWN_CONTRACT_SKIPS) == 18, sorted(
        fuzz_oracle.KNOWN_CONTRACT_SKIPS
    )


def test_fuzz_timewarp_mini_sweep(sweep):
    """Seeded timewarp mini-sweep (extreme pre-1970 / far-future
    timestamps): pins the negative-epoch floor-divide fixes and the
    extreme-instant parse/render paths the r8 ninth variant caught —
    same CI rationale as the nulls mini-sweep."""
    _assert_mini_sweep(sweep, "timewarp", fuzz_oracle.TIMEWARP_SMOKE)


def test_fuzz_unicode_mini_sweep(sweep):
    """Seeded unicode mini-sweep (CJK / astral emoji / NFD-vs-NFC /
    RTL / casing traps / non-ASCII whitespace in every name+text
    column): pins the U+0130 full-vs-simple case-mapping contract the
    r9 unicode wave caught (every oracle lowers corpus text via
    _LOWER_TEXT) across the widest text-feature surfaces."""
    _assert_mini_sweep(sweep, "unicode", fuzz_oracle.UNICODE_SMOKE)


def test_fuzz_badjson_mini_sweep(sweep):
    """Seeded badjson mini-sweep (malformed + edge-typed JSON in
    events.props — r10): pins the JSON coercion contracts in
    plans/catalog.py across every props consumer. Spark 4 defaults to
    ANSI mode, so before the r10 hardening one corrupt payload
    ('{"k": "oops"}') ABORTED f03/c10 outright; the engine now uses
    try_cast / strict from_json / try_variant_get, and each oracle
    carries the matching DuckDB spelling."""
    _assert_mini_sweep(sweep, "badjson", fuzz_oracle.BADJSON_SMOKE)


def test_verify_sf1_cc_duckdb_oracle_on_known_graph(tmp_path):
    """scripts/verify_sf1_cc.py's iterative min-label loop is the
    independent oracle for the sf1 CC-stage evidence
    (CORRECTNESS_SF1.json) — pin it against a graph whose components
    are known by construction: two chains (min-label must propagate
    across diameter > 1), a clique, an isolated edge."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from verify_sf1_cc import duckdb_components

    edges = [  # chain 1-2-3-4, chain 10-11-12, clique {20,21,22}, edge 30-31
        (2, 1), (2, 3), (3, 4),
        (10, 11), (11, 12),
        (20, 21), (20, 22), (21, 22),
        (30, 31),
    ]
    pq.write_table(
        pa.table({"id_a": [a for a, _ in edges],
                  "id_b": [b for _, b in edges]}),
        str(tmp_path / "edges.parquet"),
    )
    out = duckdb_components(duckdb.connect(), str(tmp_path / "edges.parquet"))
    got = {int(r.node): (int(r.component), int(r.comp_size))
           for r in out.itertuples()}
    want = {1: (1, 4), 2: (1, 4), 3: (1, 4), 4: (1, 4),
            10: (10, 3), 11: (10, 3), 12: (10, 3),
            20: (20, 3), 21: (20, 3), 22: (20, 3),
            30: (30, 2), 31: (30, 2)}
    assert got == want

def test_fuzz_longdoc_mini_sweep(sweep):
    """Seeded longdoc mini-sweep (r11): pathological document LENGTH
    regimes (30k repeated tokens, 25k distinct tokens, a single
    120k-char token, periodic text, 1-char token flood, cased-trap
    repetition, punctuation/whitespace floods) plus 60KB-value /
    2000-key events.props JSON. Pins the r11 finding class: DuckDB
    list slices inside list_transform lambdas are O(list length) per
    element, so slice-built shingle/winnowing oracles were O(n²) in
    doc length and HUNG on these shapes while the engine stayed
    linear (q_llm._DSH3/_dshk/_WINNOW_ORACLE now use element
    indexing). A timeout here means the quadratic came back."""
    _assert_mini_sweep(sweep, "longdoc", fuzz_oracle.LONGDOC_SMOKE)
