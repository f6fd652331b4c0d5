#!/usr/bin/env python3
"""Adversarial-data oracle fuzz: the differential gate on data the
fixed fixtures never show the engine.

The driver's correctness gate (and scripts/verify_driver.py) replays
the catalog on ONE data distribution — the generated sf fixtures.
That can't catch data-dependent semantics bugs: NULL join keys,
empty inputs, duplicate primary keys, all-equal sort keys (rank
nondeterminism), non-finite doubles, unicode/empty text, heavy skew.

This script generates SEEDED adversarial variants of all ten fixture
tables, writes each variant to its own parquet dir, and replays every
catalog query on Spark vs its oracle on DuckDB, compared through
tests/oracle.py.
Both engines read identical bytes, so any divergence is a real
engine-vs-SQL-semantics finding, not fixture luck.

Usage:
    python scripts/fuzz_oracle.py                    # all variants, all queries
    python scripts/fuzz_oracle.py --variants nulls,ties --queries q01,w05
    python scripts/fuzz_oracle.py --out FUZZ.json

Exit 0 = no findings; nonzero = at least one mismatch / one-sided
error. Per-query line format mirrors verify_driver.py.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from sports_betting_data_pipeline_spark.io import TABLES, table_path  # noqa: E402
from sports_betting_data_pipeline_spark.plans.q_sources import _scratch  # noqa: E402
from tests.oracle import connect, frame_mismatch, load_entry  # noqa: E402

FACTS = ["orders", "lineitem", "events", "documents", "embeddings"]
PK = {
    "region": "r_regionkey", "nation": "n_nationkey",
    "customer": "c_custkey", "supplier": "s_suppkey",
    "part": "p_partkey", "orders": "o_orderkey",
    "lineitem": "l_orderkey", "events": "event_id",
    "documents": "doc_id", "embeddings": "vec_id",
}


# ---------------------------------------------------------------- variants
# Each takes ({table: pd.DataFrame}, rng) and mutates/returns the dict.
# All randomness flows from the seeded Generator — same seed, same bytes.

def v_nulls(dfs, rng):
    """~10% NULLs in every non-PK scalar column — FKs, timestamps,
    text, measures. Exercises null join keys, null group keys, null
    ordering, COALESCE paths."""
    for t, df in dfs.items():
        for c in df.columns:
            if c == PK[t] or c == "embedding":
                continue
            mask = rng.random(len(df)) < 0.10
            if mask.any():
                col = df[c].astype(object)
                col[mask] = None
                df[c] = col
    return dfs


def v_empty_facts(dfs, rng):
    """All five fact tables empty; dims intact. Every aggregate,
    window, join, and dedup path over an empty input."""
    for t in FACTS:
        dfs[t] = dfs[t].iloc[0:0].copy()
    return dfs


def v_tiny(dfs, rng):
    """One row per table, referential integrity NOT preserved —
    single-partition plans, empty join results, degenerate windows."""
    for t in dfs:
        dfs[t] = dfs[t].head(1).copy()
    return dfs


def v_dup(dfs, rng):
    """Every fact row exactly duplicated (duplicate PKs included):
    join multiplicity, dedup operators, count-distinct vs count."""
    for t in FACTS:
        dfs[t] = pd.concat([dfs[t], dfs[t]], ignore_index=True)
    return dfs


def v_ties(dfs, rng):
    """Collapse value diversity: all measures and timestamps equal.
    Every rank/row_number/top-k tie-break, equal-width histogram,
    and window frame is exercised under total ties."""
    ts = pd.Timestamp("2024-01-15 12:00:00")
    l = dfs["lineitem"]
    l["l_quantity"] = 17.0
    l["l_discount"] = 0.05
    l["l_extendedprice"] = 1000.0
    l["l_tax"] = 0.04
    l["l_shipdate"] = ts
    o = dfs["orders"]
    o["o_totalprice"] = 5000.0
    o["o_orderdate"] = ts
    e = dfs["events"]
    e["value"] = 1.0
    e["ts"] = ts
    dfs["documents"]["n_chars"] = 100
    dfs["customer"]["c_acctbal"] = 500.0
    dfs["supplier"]["s_acctbal"] = 500.0
    p = dfs["part"]
    p["p_retailprice"] = 100.0
    p["p_size"] = 10
    return dfs


def v_extremes(dfs, rng):
    """Numeric magnitude extremes (1e15, negatives, zeros) and
    adversarial text (empty, whitespace-only, unicode incl. emoji,
    CJK, combining marks). Float-sum associativity, tokenizers,
    shingles, language-id on hostile strings."""
    l = dfs["lineitem"]
    n = len(l)
    pick = lambda p: rng.random(n) < p  # noqa: E731
    big = pick(0.05)
    l.loc[big, "l_extendedprice"] = 1.0e15
    neg = pick(0.05)
    l.loc[neg, "l_extendedprice"] = -l.loc[neg, "l_extendedprice"].abs()
    l.loc[pick(0.05), "l_quantity"] = 0.0
    o = dfs["orders"]
    o.loc[rng.random(len(o)) < 0.05, "o_totalprice"] = 0.0
    d = dfs["documents"]
    nd = len(d)
    if nd:
        texts = d["text"].astype(object)
        hostile = [
            "",
            "   \t\n  ",
            "héllo wörld — café naïve",
            "日本語テキスト 中文文本",
            "\U0001f600\U0001f680 emoji only \U0001f4a9",
            "ééé combining marks à ô",
            "MiXeD CaSe WITH    runs     of      spaces",
            "tab\tsep\tand\nnewlines\r\nin one doc",
        ]
        idx = rng.choice(nd, size=min(nd, 8 * max(1, nd // 50)), replace=False)
        for i, j in enumerate(idx):
            texts.iloc[j] = hostile[i % len(hostile)]
        d["text"] = texts
    e = dfs["events"]
    ne = len(e)
    if ne:
        props = e["props"].astype(object)
        bad = ["", "not json", "{", "{\"k\": }", "[]", "null"]
        idx = rng.choice(ne, size=min(ne, 6 * max(1, ne // 100)), replace=False)
        for i, j in enumerate(idx):
            props.iloc[j] = bad[i % len(bad)]
        e["props"] = props
        e.loc[rng.random(ne) < 0.05, "value"] = -1.0e12
    return dfs


def v_skew(dfs, rng):
    """80% of fact FKs collapse to one hot key; half the corpus is
    one text; 30% of embeddings identical. Skewed joins/groupBys and
    the dedup duplicate-block paths."""
    l = dfs["lineitem"]
    if len(l):
        hot_part = int(l["l_partkey"].iloc[0])
        hot_supp = int(l["l_suppkey"].iloc[0])
        m = rng.random(len(l)) < 0.80
        l.loc[m, "l_partkey"] = hot_part
        l.loc[m, "l_suppkey"] = hot_supp
    o = dfs["orders"]
    if len(o):
        hot_cust = int(o["o_custkey"].iloc[0])
        o.loc[rng.random(len(o)) < 0.80, "o_custkey"] = hot_cust
    e = dfs["events"]
    if len(e):
        hot_user = int(e["user_id"].iloc[0])
        e.loc[rng.random(len(e)) < 0.80, "user_id"] = hot_user
    d = dfs["documents"]
    if len(d):
        one_text = d["text"].iloc[0]
        idx = rng.random(len(d)) < 0.50
        col = d["text"].astype(object)
        col[idx] = one_text
        d["text"] = col
    em = dfs["embeddings"]
    if len(em):
        one_vec = em["embedding"].iloc[0]
        idx = np.flatnonzero(rng.random(len(em)) < 0.30)
        col = em["embedding"].astype(object)
        for j in idx:
            col.iloc[j] = one_vec
        em["embedding"] = col
    return dfs


def v_timewarp(dfs, rng):
    """Extreme timestamps: 10% of event times shifted pre-1970
    (NEGATIVE epochs — floor-division bucketing vs truncating
    division is the classic cross-engine divergence), 5% to the far
    future (year ~2185), and order/ship dates spread likewise.
    Exercises every window bucket, epoch extraction, date-diff, and
    watermark path on epochs the fixtures never leave 2024 for."""
    lo = pd.Timestamp("1965-03-07 04:05:06")
    hi = pd.Timestamp("2185-11-23 18:19:20")
    e = dfs["events"]
    n = len(e)
    if n:
        past = rng.random(n) < 0.10
        future = (~past) & (rng.random(n) < 0.05)
        ts = e["ts"].copy()
        ts[past] = lo + pd.to_timedelta(
            rng.integers(0, 10_000_000, size=int(past.sum())), unit="s"
        )
        ts[future] = hi + pd.to_timedelta(
            rng.integers(0, 10_000_000, size=int(future.sum())), unit="s"
        )
        e["ts"] = ts
    for t, c in (("orders", "o_orderdate"), ("lineitem", "l_shipdate")):
        df = dfs[t]
        if len(df):
            past = rng.random(len(df)) < 0.10
            col = df[c].copy()
            col[past] = lo + pd.to_timedelta(
                rng.integers(0, 10_000_000, size=int(past.sum())), unit="s"
            )
            df[c] = col
    return dfs


def v_nonfinite(dfs, rng):
    """NaN and ±inf in double measures — the engines genuinely
    disagree on NaN in some contexts (ordering, grouping); this
    variant maps exactly where."""
    l = dfs["lineitem"]
    n = len(l)
    if n:
        l.loc[rng.random(n) < 0.03, "l_extendedprice"] = float("nan")
        l.loc[rng.random(n) < 0.02, "l_discount"] = float("inf")
    e = dfs["events"]
    if len(e):
        e.loc[rng.random(len(e)) < 0.03, "value"] = float("nan")
        e.loc[rng.random(len(e)) < 0.02, "value"] = float("-inf")
    c = dfs["customer"]
    if len(c):
        c.loc[rng.random(len(c)) < 0.05, "c_acctbal"] = float("nan")
    return dfs


_UNI_SNIPPETS = [
    "中文測試文本",                 # CJK (no ASCII whitespace inside)
    "🚀🎲📊",                       # astral-plane emoji (UTF-16 surrogates)
    "été",              # combining accents (NFD)
    "été",                # the same text precomposed (NFC)
    "مرحبا بالعالم",                # RTL Arabic
    "Ｆｕｌｌｗｉｄｔｈ１２３",      # full-width Latin/digits
    "straße STRASSE",          # sharp-s casing trap
    "İstanbul i̇stanbul", # dotted-I casing trap
    "a​b c",              # zero-width space + NBSP (non-ASCII \\s)
    "ΟΔΥΣΣΕΑΣ και ΟΔΟΣ.",  # Greek Final_Sigma trap: word-final Σ → ς
                           # (JVM conditional mapping) vs σ (utf8proc
                           # simple); medial ΣΣ + terminal punctuation
    "ΑΣ-Β Σ 中Σ ΑΣ1",      # sigma boundary probes: hyphen, lone,
                           # non-cased-letter neighbor, digit follower
    "ΟΔΥΣΣΕΑΣ'Σ Α'Σ ΑΣ'Β",  # Final_Sigma case-ignorable clause
                           # (ADVICE r10 #2): apostrophe between sigma
                           # and boundary — final, preceded-through-
                           # ignorable, and medial-through-ignorable
    "ﬁne ﬂat ß",           # Latin ligature + sharp-s UPPERCASE traps:
                           # JVM full upper() → FINE FLAT SS, utf8proc
                           # simple → ﬁNE ﬂAT ẞ (oracle replace chain)
]


def v_unicode(dfs, rng):
    """Non-ASCII text in every string surface a real corpus has: CJK,
    astral-plane emoji, NFC-vs-NFD combining forms, RTL, full-width
    forms, locale casing traps (ß, dotted I), and non-ASCII
    whitespace. Every fixture string is plain ASCII, so the entire
    text stack — `\\s+` tokenization, lower(), length(), regexp
    classes, LIKE, collated sorts — has never been differentially
    tested against DuckDB's utf8proc semantics."""
    def decorate(series, frac):
        col = series.astype(object)
        idx = np.flatnonzero(rng.random(len(col)) < frac)
        for j in idx:
            snip = _UNI_SNIPPETS[int(rng.integers(0, len(_UNI_SNIPPETS)))]
            cur = col.iloc[j]
            col.iloc[j] = snip if cur is None else f"{cur} {snip}"
        return col

    d = dfs["documents"]
    if len(d):
        d["text"] = decorate(d["text"], 0.10)
    c = dfs["customer"]
    if len(c):
        c["c_name"] = decorate(c["c_name"], 0.10)
    p = dfs["part"]
    if len(p):
        p["p_name"] = decorate(p["p_name"], 0.10)
    s = dfs["supplier"]
    if len(s):
        s["s_name"] = decorate(s["s_name"], 0.10)
    # the catalog's two upper() surfaces (p04 c_mktsegment, c09
    # p_brand): without these the full-vs-simple UPPERCASE mapping
    # divergence (ß→SS vs ẞ, ligatures) is never probed — the oracles
    # carry a replace-chain contract mirroring _lower_sql
    if len(c):
        c["c_mktsegment"] = decorate(c["c_mktsegment"], 0.10)
    if len(p):
        p["p_brand"] = decorate(p["p_brand"], 0.10)
    # unicode INSIDE JSON values (probed convergent r9 — raw CJK/emoji
    # and \uXXXX escapes extract byte-identically on both engines;
    # this keeps that parity under regression): inject a decorated
    # string field into valid props JSON objects
    import json as _json

    e = dfs["events"]
    if len(e):
        col = e["props"].astype(object)
        idx = np.flatnonzero(rng.random(len(e)) < 0.05)
        for j in idx:
            raw = col.iloc[j]
            try:
                obj = _json.loads(raw) if raw is not None else None
            except (TypeError, ValueError):
                continue
            if isinstance(obj, dict):
                obj["uni"] = _UNI_SNIPPETS[int(rng.integers(0, len(_UNI_SNIPPETS)))]
                col.iloc[j] = _json.dumps(obj, ensure_ascii=False)
        e["props"] = col
    return dfs


_BADJSON_FRAGMENTS = [
    # malformed — json_valid=false on DuckDB, NULL extraction on Spark
    "not json at all",
    '{"k": 12',            # truncated object
    "[1,2",                # truncated array
    "",                    # empty string
    "   ",                 # whitespace only
    '{"k":}',              # missing value
    # valid JSON, edge-typed k — each engine path coerces differently
    # (catalog.py JSON coercion contract: get_json_object+try_cast vs
    # from_json struct vs from_json map vs try_variant_get)
    '{"k": "99"}',         # string-typed integer
    '{"k": "xyz"}',        # string-typed garbage
    '{"k": 3.7}',          # float where int consumers expect integer
    '{"k": 1e3}',          # scientific notation (DOUBLE-typed)
    '{"k": true}',         # boolean
    '{"k": null}',         # explicit null (key EXISTS, value doesn't)
    '{"k": [1, 2]}',       # array-typed
    '{"k": 9223372036854775808}',   # int64 overflow
    '{"k": -4}',           # negative int (sign handling in guards)
    '{"nested": {"k": 5}, "k": 61, "z": 1}',  # top-level k + 3 keys
    '{"a": 1, "b": 2, "c": 3}',               # NO k, 3 keys
]
# Engine-permissive edges deliberately NOT injected (no SQL contract
# can mirror them — documented in plans/catalog.py): trailing garbage
# ('{"k":1}x' — Jackson parses the valid prefix, json_valid is false)
# and NaN/Infinity literals (yyjson accepts them, Jackson rejects).


def v_badjson(dfs, rng):
    """Corrupt and edge-typed JSON in events.props — the real-corpus
    hazard the json_valid guards were built for, now probed end to
    end: malformed payloads (truncated/garbage/empty) and VALID
    payloads whose k is string/float/bool/null/array/overflow. Under
    Spark 4's default ANSI mode a naive cast of one extracted
    non-numeric string ABORTS the whole query — the engine uses
    try_cast / strict from_json / try_variant_get, and each oracle
    carries the matching DuckDB spelling (plans/catalog.py)."""
    e = dfs["events"]
    if len(e):
        col = e["props"].astype(object)
        idx = np.flatnonzero(rng.random(len(e)) < 0.20)
        for j in idx:
            col.iloc[j] = _BADJSON_FRAGMENTS[
                int(rng.integers(0, len(_BADJSON_FRAGMENTS)))
            ]
        e["props"] = col
    return dfs


# longdoc shapes (index → builder): every pathological LENGTH regime a
# real web corpus contains and the short (48-553 char) fixtures never
# probe. Sizes are big enough to stress shingle/token/packing paths
# (20-170 KB) but bounded so the full-catalog differential sweep stays
# tractable on both engines.
_LONGDOC_SHAPES = [
    # one token repeated: 30k tokens, ONE distinct shingle — dup-block
    # collapse, MinHash on a single-element set, repetition scores
    lambda: ("spam " * 30000).strip(),
    # 25k DISTINCT tokens — per-doc vocabulary explosion (TF-IDF/BM25
    # term dictionaries, distinct-shingle counts, packing budgets:
    # a single doc larger than l25/l33's sequence budget)
    lambda: " ".join(f"tok{i}" for i in range(25000)),
    # a single 120k-char token, no whitespace — tokenizer must emit
    # ONE giant token; substring/prefix fingerprints on it
    lambda: "x" * 120000,
    # short period, long text: 4-token cycle × 8000 — few distinct
    # shingles with huge multiplicity (winnowing, bigram repetition)
    lambda: "alpha beta gamma delta " * 8000,
    # maximal token-per-char density: 60k 1-char tokens
    lambda: ("a " * 60000).strip(),
    # case-mapping traps at length: the Final_Sigma/İ/ß contract
    # exercised 3000× in one document, not once in a snippet
    lambda: "ΟΔΥΣΣΕΑΣ'Σ İstanbul straße ΑΣ'Β σ ς " * 3000,
    # punctuation flood — quality-score punct ratio ≈ 1, tokenizer
    # boundary behavior on punctuation-only "words"
    lambda: "!?.,;: " * 15000,
    # whitespace flood: 40k chars of mixed runs, almost no tokens
    lambda: ("  \t " * 8000) + "lone" + ("   " * 2000),
]

# events.props at length: valid JSON whose VALUES are huge — the
# extraction/variant paths must stream past them, not choke
_LONGJSON_SHAPES = [
    lambda: json.dumps({"k": 7, "pad": "y" * 60000}),
    lambda: json.dumps({f"f{i}": i for i in range(2000)} | {"k": 3}),
]


def v_longdoc(dfs, rng):
    """Very long / pathologically shaped documents — the 100 TB corpus
    hazard class no other variant touches (fixture docs are 48-553
    chars). ~4% of documents.text is replaced by one of the
    _LONGDOC_SHAPES regimes (repeated token, distinct-vocab explosion,
    single giant token, periodic text, 1-char token flood, cased-trap
    repetition, punctuation flood, whitespace flood) with n_chars kept
    consistent; ~2% of events.props becomes valid JSON with a 60 KB
    value / 2000 keys. Probes: shingle explosion + dup-block collapse,
    MinHash fold cost, packing when one doc exceeds the sequence
    budget, per-doc vocab bigger than the corpus vocab, tokenizer and
    regex behavior on degenerate boundaries, JSON extraction past huge
    payloads."""
    d = dfs["documents"]
    if len(d):
        n_mut = max(len(_LONGDOC_SHAPES), int(0.04 * len(d)))
        n_mut = min(n_mut, len(d))
        idx = rng.choice(len(d), size=n_mut, replace=False)
        text = d["text"].astype(object)
        n_chars = d["n_chars"].astype("int64").copy()
        for pos, j in enumerate(idx):
            t = _LONGDOC_SHAPES[pos % len(_LONGDOC_SHAPES)]()
            text.iloc[j] = t
            n_chars.iloc[j] = len(t)
        d["text"] = text
        d["n_chars"] = n_chars
    e = dfs["events"]
    if len(e):
        col = e["props"].astype(object)
        idx = np.flatnonzero(rng.random(len(e)) < 0.02)
        for j in idx:
            col.iloc[j] = _LONGJSON_SHAPES[
                int(rng.integers(0, len(_LONGJSON_SHAPES)))
            ]()
        e["props"] = col
    return dfs


VARIANTS = {
    "nulls": v_nulls,
    "empty_facts": v_empty_facts,
    "tiny": v_tiny,
    "dup": v_dup,
    "ties": v_ties,
    "extremes": v_extremes,
    "skew": v_skew,
    "nonfinite": v_nonfinite,
    "timewarp": v_timewarp,
    "unicode": v_unicode,
    "badjson": v_badjson,
    "longdoc": v_longdoc,
}

# CI mini-sweep (tests/test_fuzz_harness.py): the nulls-variant queries
# the first fuzz wave flagged, one per engine fix it motivated —
# token-less shingle exclusion (l05/l06/l08/l58/l31/pl03), null-safe
# incremental anti-join (l28), incomplete-partition predicates
# (mv01/src05/p03), concat_ws field drops (src07/wg01), NOT-IN /
# EXISTS null traps (q21/f07/j08/scd01), NULL-payload Arrow guards
# (m01/m02/m04), divide-by-zero + degenerate ranges (a05/a07/a13),
# try_parse_json (c12), pivot coalesce (r05), NULL grouping
# keys (l01/l41/l44/l54/d01/c05), null-safe rendezvous (st10), asof
# NULL keys (aj01). Kept small enough to run under ~a minute at
# sf0.001 so a regression in any fuzz fix fails CI immediately, not
# at the next session-scale sweep.
#
# CI mini-sweep, unicode variant: the nine queries the r9 unicode
# wave flagged — ALL one root cause: JVM full vs utf8proc simple case
# mapping of U+0130, now spelled in every oracle via _LOWER_TEXT (see
# plans/q_llm.py) — plus lang-id and quality scoring as the broadest
# text-feature surfaces.
UNICODE_SMOKE = [
    "l03_lang_id",
    "l04_quality_score",
    "l07_ngram_jaccard",
    "l14_normalize_fingerprint",
    "l19_tfidf_top_terms",
    "l34_unigram_surprisal",
    "l39_winnowing_fingerprints",
    "l56_containment_dedup",
    "l57_containment_prefix_join",
    "l58_simhash_portable",
    "pl01_pretraining_pipeline",
]
BADJSON_SMOKE = [
    "f03_json_field_existence",
    "c07_json_typed_extract",
    "c10_map_functions",
    "c12_variant_json",
    "st05_pusher_decode",
    "dq01_expectations_report",
]
# CI mini-sweep, longdoc variant: the broadest per-regime surfaces —
# token/char stats and quality scoring (every shape), shingle + LSH
# dedup (repeated-token and periodic shapes), packing and budgets
# (the doc that exceeds the sequence budget), term dictionaries
# (distinct-vocab explosion), winnowing (periodic), containment
# (giant single token), and the long-JSON events shapes.
LONGDOC_SMOKE = [
    "l17_scrub_urls_emails",      # r11 finding: O(n²) Java regex backtracking
    "l41_gopher_rule_accounting", # r11 finding: struct re-expansion blowup
    "l01_text_stats",
    "l04_quality_score",
    "l08_minhash_lsh",
    "l15_token_chunking",
    "l18_bigram_repetition",
    "l25_sequence_packing",
    "l33_token_budget",
    "l35_bm25_topk",
    "l39_winnowing_fingerprints",
    "l57_containment_prefix_join",
    "c07_json_typed_extract",
    "c10_map_functions",
]
NULLS_SMOKE = [
    "a05_statistical_aggregates",
    "a07_approx_quantiles",
    "a13_equiwidth_histogram",
    "aj01_asof_last_view_before_purchase",
    "c05_null_defaulting",
    "c12_variant_json",
    "d01_distinct",
    "f07_stratified_sample",
    "j08_full_outer_reconciliation",
    "l01_text_stats",
    "l05_prefix_dedup",
    "l06_canonical_dedupe",
    "l08_minhash_lsh",
    "l28_incremental_exact_dedupe",
    "l31_chunk_dedup",
    "l41_gopher_rule_accounting",
    "l44_train_val_test_split",
    "l54_zipf_coverage",
    "l58_simhash_portable",
    "m01_multimodal_features",
    "m02_frame_sample_plan",
    "m04_image_roundtrip",
    "mv01_incremental_aggregate",
    "p03_two_branch_union",
    "pl03_hybrid_retrieval",
    "q21_sole_late_shipper",
    "r05_pivot_multi_agg",
    "scd01_dimension_history",
    "src05_schema_evolution",
    "src07_text_roundtrip",
    "st10_stream_static_join",
    "wg01_place_wagers",
]

# CI mini-sweep, timewarp variant: the negative-epoch floor-divide and
# extreme-timestamp fixes (ts06/co01/dq02 oracles spell floor(x/d); c01/
# c03/c08 parse & render pre-1970 and year-2185 instants; ts01/ts02/w07/
# mk01 window over extreme ranges; st01/st02 drain them — the watermark-
# eviction shapes are contract skips, not smoke candidates). ~25 s.
TIMEWARP_SMOKE = [
    "c01_iso_parse_roundtrip",
    "c03_epoch_micros",
    "c08_date_arithmetic",
    "co01_cohort_retention",
    "dq02_freshness_report",
    "mk01_transition_matrix",
    "st01_tumbling_window",
    "st02_sliding_window",
    "ts01_gap_fill_forward",
    "ts02_ohlc_resample",
    "ts06_wow_growth",
    "w07_time_range_moving_avg",
]

# Documented out-of-contract divergences: (variant, query) pairs where
# the adversarial data violates a stated INPUT contract of the operator
# (not an engine bug), with the reason. These count as "skipped", not
# findings; everything here must name the violated contract. The dq01
# expectations report (pk-uniqueness checks) is the production guard
# for the id-keyed entries.
KNOWN_CONTRACT_SKIPS = {
    # duplicate primary keys: these operators define identity by id —
    # dedup survivor re-joins, rank/packing keyed on id, per-id pair
    # listings. Exact-duplicate id rows multiply join fan-out on one
    # side or collapse argmin partitions on the other; same-id rows
    # with DIFFERING attributes would be nondeterministic everywhere.
    ("dup", "l13_ann_ivf"): "vec_id keys the centroid/corpus identity",
    ("dup", "l25_sequence_packing"): "doc_id keys the packing rank",
    ("dup", "l51_dsir_importance"): "doc_id keys the importance rank",
    ("dup", "l57_containment_prefix_join"):
        "doc_id keys the pair listing (id_a < id_b)",
    ("dup", "m05_audio_frame_energy"):
        "asset_id keys the per-frame feature rows",
    ("dup", "pl02_corpus_assembly"):
        "survivor-id re-joins assume unique doc_id (dq gate upstream)",
    ("dup", "l46_knn_classify"):
        "k=10 cut is tie-nondeterministic between exact-duplicate "
        "(sim, vec_id) neighbor rows — vec_id keys neighbor identity",
    # Arrow/pandas represent SQL NULL and NaN identically in a double
    # column, so the stateful worker's fillna(0.0) NULL contract
    # necessarily folds true-NaN values too; no per-row semantics can
    # distinguish them through the Arrow transfer. Non-finite event
    # values are a data-quality-gate concern upstream of the stream.
    ("nonfinite", "st15_stream_anomalies"):
        "NULL and NaN are indistinguishable through Arrow in the "
        "stateful worker (fillna folds both)",
    # far-future timestamp outliers advance the WATERMARK past every
    # genuine event, so the watermarked operators evict/withhold them
    # as late data — the documented streaming contract (st16 exists
    # to pin exactly this behavior at fixture scale). Which rows
    # survive depends on microbatch ARRIVAL ORDER, which no batch SQL
    # oracle can express. The production guard is event-time
    # validation upstream (a dq-gate on plausible timestamp ranges).
    ("timewarp", "st03_session_window"):
        "watermark advanced by future outliers: session eviction is "
        "arrival-order semantics",
    ("timewarp", "st08_stream_dedup"):
        "watermark advanced by future outliers: dedup-state eviction "
        "is arrival-order semantics",
    ("timewarp", "st11_stream_left_outer_join"):
        "watermark advanced by future outliers: join-state eviction "
        "is arrival-order semantics",
    ("timewarp", "st16_late_data_drop"):
        "the late-drop query itself: future outliers make 'late' an "
        "arrival-order property",
    ("timewarp", "pl04_streaming_pipeline"):
        "composed watermark pipeline: same eviction semantics as its "
        "st stages",
    # non-finite doubles: DuckDB's second-moment aggregates RAISE
    # (OutOfRange: STDDEV_SAMP/VARSAMP) on inf inputs where Spark
    # yields NaN — an oracle-side limitation, not an engine bug; the
    # engine result was manually verified NaN-consistent. zorder01's
    # oracle casts -inf to BIGINT (conversion error) where the engine
    # buckets via floor+coalesce.
    ("nonfinite", "a05_statistical_aggregates"):
        "DuckDB raises on stddev/var over inf; engine yields NaN",
    ("nonfinite", "a19_welch_t_test"):
        "DuckDB raises on var_samp over inf; engine yields NaN",
    ("nonfinite", "l16_grouped_zscore"):
        "DuckDB raises on stddev over inf; engine yields NaN",
    ("nonfinite", "zorder01_multidim_clustering"):
        "DuckDB cannot cast -inf to BIGINT in the zkey oracle",
    # q14 keeps prices in exact integer CENTS end-to-end (the design
    # that made its cross-engine rounding bit-stable — see its
    # docstring); |price| beyond ~9e16 overflows the BIGINT cents
    # domain on the Spark side while DuckDB silently widens to
    # HUGEINT. A documented range contract of the representation.
    ("extremes", "q14_min_cost_supplier"):
        "integer-cents price representation bounds |price| < ~9e16",
}


# ---------------------------------------------------------------- plumbing

def load_base(base_dir: str) -> dict[str, tuple[pd.DataFrame, pa.Schema]]:
    out = {}
    for t in TABLES:
        tbl = pq.read_table(table_path(base_dir, t))
        out[t] = (tbl.to_pandas(), tbl.schema)
    return out


def write_variant(base, variant_fn, seed: int, out_dir: str) -> None:
    rng = np.random.default_rng(seed)
    dfs = {t: df.copy() for t, (df, _) in base.items()}
    dfs = variant_fn(dfs, rng)
    os.makedirs(out_dir, exist_ok=True)
    for t, df in dfs.items():
        schema = base[t][1]
        # remove_metadata: stale pandas index metadata on a mutated
        # frame confuses from_pandas
        tbl = pa.Table.from_pandas(
            df, schema=schema.remove_metadata(), preserve_index=False
        )
        pq.write_table(tbl, table_path(out_dir, t))


def run_variant(spark, mod, variant: str, sf_dir: str, only: list[str]) -> dict:
    """Replay the catalog (or the ``only`` filter) on the variant at
    ``sf_dir``, Spark against the DuckDB oracle; return each query's
    result. The roundtrip scratch the queries write for this input dir
    (plans/q_sources._scratch) is removed afterwards."""
    try:
        qs, osql = mod.queries(), mod.oracle_sql()
        con = connect(sf_dir)
        results = {}
        for name in sorted(qs):
            if only and not any(s in name for s in only):
                continue
            skip_reason = KNOWN_CONTRACT_SKIPS.get((variant, name))
            if skip_reason:
                results[name] = {"status": "skipped_contract",
                                 "detail": skip_reason}
                print(f"  {variant}/{name}: skipped_contract ({skip_reason})")
                continue
            t0 = time.time()
            s_err = o_err = None
            sdf = odf = None
            try:
                sdf = qs[name](spark, sf_dir).toPandas()
            except Exception as exc:  # noqa: BLE001
                s_err = f"{type(exc).__name__}: {exc}"
            finally:
                spark.catalog.clearCache()
            if name in osql:
                try:
                    odf = con.execute(osql[name]).fetch_df()
                except Exception as exc:  # noqa: BLE001
                    o_err = f"{type(exc).__name__}: {exc}"
            else:
                status = "rows_only_ok" if s_err is None else "spark_error"
                results[name] = {"status": status, "err": s_err,
                                 "sec": round(time.time() - t0, 2)}
                print(f"  {variant}/{name}: {status}"
                      + (f" {s_err.splitlines()[0][:160]}" if s_err else ""))
                continue
            if s_err and o_err:
                status, detail = "both_error", f"spark={s_err} oracle={o_err}"
            elif s_err:
                status, detail = "spark_error", s_err
            elif o_err:
                status, detail = "oracle_error", o_err
            else:
                why = frame_mismatch(sdf, odf)
                status, detail = ("match", "") if why is None else ("mismatch", why)
            results[name] = {"status": status, "detail": detail[:500],
                             "rows": None if sdf is None else len(sdf),
                             "sec": round(time.time() - t0, 2)}
            line = f"  {variant}/{name}: {status}"
            if detail:
                line += " " + detail.splitlines()[0][:160]
            print(line)
        return results
    finally:
        for path in glob.glob(_scratch(sf_dir, "*")):
            shutil.rmtree(path, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--variants", default=",".join(VARIANTS))
    ap.add_argument("--queries", default="")
    ap.add_argument("--base", default="/root/testdata/sf0.001")
    ap.add_argument("--seed", type=int, default=20260816)
    ap.add_argument("--out", default="")
    ap.add_argument("--work", default="/tmp/spark_fuzz")
    args = ap.parse_args()

    only = [s for s in args.queries.split(",") if s]
    names = [v for v in args.variants.split(",") if v]
    unknown = set(names) - set(VARIANTS)
    if unknown:
        print(f"unknown variants: {sorted(unknown)}", file=sys.stderr)
        return 2

    mod = load_entry()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = load_base(args.base)
    report = {"base": args.base, "seed": args.seed, "variants": {}}
    bad = 0
    for v in names:
        vdir = os.path.join(args.work, f"fz_{v}_{args.seed}")
        shutil.rmtree(vdir, ignore_errors=True)
        try:
            write_variant(base, VARIANTS[v], args.seed, vdir)
        except Exception:  # noqa: BLE001
            print(f"VARIANT {v}: generator failed")
            traceback.print_exc()
            bad += 1
            continue
        print(f"VARIANT {v} -> {vdir}")
        res = run_variant(spark, mod, v, vdir, only)
        report["variants"][v] = res
        n_bad = sum(
            1 for r in res.values()
            if r["status"] in ("mismatch", "spark_error", "oracle_error")
        )
        bad += n_bad
        print(f"VARIANT {v}: {len(res)} queries, {n_bad} findings")

    print(f"RESULT: {'FAIL' if bad else 'PASS'} ({bad} findings)")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
        print(f"report -> {args.out}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
