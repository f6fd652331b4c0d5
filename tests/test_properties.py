"""Property-based tests (hypothesis): the composed operators against
naive Python reference implementations on random inputs — catches
edge-cases example tests miss (empty groups, duplicate timestamps,
single-token docs, boundary odds)."""

from __future__ import annotations

import datetime
import math
import re

import pytest

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sports_betting_data_pipeline_spark.functions.odds import (
    odds_ladder,
    snap_to_ladder,
)
from sports_betting_data_pipeline_spark.functions.text import shingles
from sports_betting_data_pipeline_spark.operators.asof import asof_join

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(vals=st.lists(st.integers(-20000, 20000), min_size=1, max_size=30))
@settings(**_SETTINGS)
def test_snap_always_nearest_rung(spark, vals):
    lad = odds_ladder()
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    got = df.select("v", snap_to_ladder(F.col("v")).alias("s")).collect()
    for row in got:
        assert row.s in lad
        best = min(lad, key=lambda r: (abs(r - row.v), r))
        assert row.s == best, f"v={row.v}: got {row.s}, want {best}"


def _java_ws_tokens(text: str) -> list[str]:
    """Split on Java regex ``\\s`` (ASCII ``[ \\t\\n\\x0B\\f\\r]``, not
    ``str.split()``'s Unicode whitespace), dropping empty tokens."""
    return [t for t in re.split(r"[ \t\n\x0b\f\r]+", text) if t]


def _py_shingles(text: str, k: int = 3) -> list[str]:
    toks = _java_ws_tokens(text.lower())
    if not toks:
        return []
    if len(toks) < k:
        return [" ".join(toks)]
    seen, out = set(), []
    for i in range(len(toks) - k + 1):
        s = " ".join(toks[i : i + k])
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab c"),  # forces token collisions
            max_size=40,
        ),
        min_size=1,
        max_size=10,
    )
)
@settings(**_SETTINGS)
# mixed case, punctuation, runs of spaces, a 1-token and a blank doc
@example(texts=["The  QUICK brown FOX!  over THE lazy dog the a an of", "x",
                "  ", "AbC dEf AbC A B C d e f g h"])
def test_shingles_match_python_reference(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], ["t"])
    got = [r.s for r in df.select(shingles("t", 3).alias("s")).collect()]
    want = [_py_shingles(t, 3) for t in texts]
    # Spark's regex split of "" yields [""] -> filtered -> [] joined to [""];
    # normalize the all-whitespace case the same way on both sides.
    norm = lambda xs: [x for x in xs if x != ""]
    assert [norm(g) for g in got] == [norm(w) for w in want]


def _py_asof(left, right):
    out = {}
    for lk, lts in left:
        cands = [(rts, rv) for rk, rts, rv in right if rk == lk and rts <= lts]
        out[(lk, lts)] = max(cands)[1] if cands else None
    return out


@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50)),
        min_size=1,
        max_size=12,
        unique=True,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50)),
        min_size=0,
        max_size=12,
        unique=True,
    ),
)
@settings(**_SETTINGS)
def test_asof_join_matches_naive(spark, left, right):
    base = datetime.datetime(2024, 1, 1)
    mk = lambda m: base + datetime.timedelta(minutes=m)
    ldf = spark.createDataFrame([(k, mk(m)) for k, m in left], ["k", "ts"])
    # unique (k, ts) on the right: determinism precondition of asof_join
    rrows = {(k, m): f"v{k}_{m}" for k, m in right}
    rdf = spark.createDataFrame(
        [(k, mk(m), v) for (k, m), v in rrows.items()] or [(99, mk(0), "x")],
        ["k", "ts", "rv"],
    )
    got = {
        (r.k, r.ts): (r.asof.rv if r.asof is not None else None)
        for r in asof_join(ldf, rdf, key="k", ts="ts", payload_cols=["rv"]).collect()
    }
    want = _py_asof(
        [(k, mk(m)) for k, m in left],
        [(k, mk(m), v) for (k, m), v in rrows.items()]
        if right
        else [(99, mk(0), "x")],
    )
    assert got == want


def test_stratified_sample_keeps_null_strata_whole(spark):
    from sports_betting_data_pipeline_spark.operators.relational import (
        stratified_sample,
    )

    df = spark.createDataFrame(
        [(i, None if i % 3 == 0 else ("a" if i % 2 == 0 else "zz")) for i in range(30)],
        ["id", "s"],
    )
    out = stratified_sample(df, key="id", strata_col="s", rates={"a": (1, 2)})
    # NULL and unlisted strata survive untouched
    assert out.filter(F.col("s").isNull()).count() == df.filter(F.col("s").isNull()).count()
    assert out.filter(F.col("s") == "zz").count() == df.filter(F.col("s") == "zz").count()
    # listed stratum is actually thinned by the deterministic predicate
    kept_a = {r.id for r in out.filter(F.col("s") == "a").collect()}
    want_a = {r.id for r in df.filter((F.col("s") == "a") & (F.col("id") % 2 < 1)).collect()}
    assert kept_a == want_a


@given(
    docs=st.lists(
        st.tuples(st.sampled_from(["en", "de", "fr"]), st.integers(0, 7)),
        min_size=1,
        max_size=25,
    )
)
@settings(**_SETTINGS)
def test_pack_sequences_matches_python_reference(spark, docs):
    from sports_betting_data_pipeline_spark.functions.corpus import pack_sequences

    budget = 5
    rows = [
        (i, lang, " ".join(["tok"] * n_tok))  # n_tok whitespace tokens
        for i, (lang, n_tok) in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    got = {
        r.doc_id: (r.n_tokens, r.start_bin, r.end_bin, r.start_off)
        for r in pack_sequences(df, budget=budget, shard_col="lang").collect()
    }
    # naive reference: concat per shard in doc_id order, chop at budget
    want = {}
    for lang in {l for l, _ in docs}:
        cum = 0
        for i, (l, n_tok) in enumerate(docs):
            if l != lang or n_tok == 0:
                continue
            start = cum
            cum += n_tok
            want[i] = (n_tok, start // budget, (cum - 1) // budget, start % budget)
    assert got == want
    for n_tok, sb, eb, off in got.values():
        assert 0 <= off < budget
        assert sb <= eb
        # straddles a boundary exactly when the tail doesn't fit
        assert (sb != eb) == (off + n_tok > budget)
    # the n_tokens_col passthrough (pl02's narrow-cache path) must be
    # indistinguishable from tokenizing text_col itself
    from sports_betting_data_pipeline_spark.functions.text import ws_tokens

    pre = df.withColumn("ntc", F.size(ws_tokens("text")))
    got_pre = {
        r.doc_id: (r.n_tokens, r.start_bin, r.end_bin, r.start_off)
        for r in pack_sequences(
            pre, budget=budget, shard_col="lang", n_tokens_col="ntc"
        ).collect()
    }
    assert got_pre == got


def test_temperature_mixture_quota_invariants(spark):
    from sports_betting_data_pipeline_spark.functions.corpus import (
        temperature_mixture,
    )

    rows = [(i, "big" if i < 900 else ("mid" if i < 990 else "tiny"))
            for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    kept = temperature_mixture(df, group_col="lang", n_target=100).collect()
    by_group = {}
    for r in kept:
        by_group.setdefault(r.lang, []).append(r.rk)
    # integer-exact quotas: w = floor(sqrt(c)) -> big=30, mid=9, tiny=3;
    # quota_g = 100*w // 42
    assert sorted(by_group) == ["big", "mid", "tiny"]
    assert len(by_group["big"]) == 100 * 30 // 42
    assert len(by_group["mid"]) == 100 * 9 // 42
    assert len(by_group["tiny"]) == 100 * 3 // 42
    # sub-linear: tiny's kept FRACTION exceeds big's
    assert len(by_group["tiny"]) / 10 > len(by_group["big"]) / 900
    # ranks are 1..k per group (md5 order, deterministic)
    for g, rks in by_group.items():
        assert sorted(rks) == list(range(1, len(rks) + 1))


def test_temperature_mixture_quota_survives_bigint_product(spark):
    """The quota multiply runs in DECIMAL(38,0): with n_target near
    2^62 and a weight of 3, a bigint product would wrap silently in
    non-ANSI mode and the quota would go negative (dropping every row
    of that group). Exact expected value: n_target * w_g // sum(w)."""
    from sports_betting_data_pipeline_spark.functions.corpus import (
        temperature_mixture,
    )

    n_target = 2**62  # 3 * 2^62 > 2^63: overflows int64
    rows = [(i, "a" if i < 9 else "b") for i in range(13)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    # counts: a=9 (w=3), b=4 (w=2); sum(w)=5
    kept = temperature_mixture(df, group_col="lang", n_target=n_target)
    by_group = {}
    for r in kept.collect():
        by_group.setdefault(r.lang, []).append(r.rk)
    # quotas exceed the group sizes, so every row must be kept
    assert len(by_group["a"]) == 9 and len(by_group["b"]) == 4


def test_exact_quantile_cuts_constant_nonfinite(spark):
    """The constant-column fast path built its literal via repr();
    repr(inf) = 'inf' is unparseable SQL. F.lit must round-trip
    ±Infinity (and a plain constant with rounding still works)."""
    from sports_betting_data_pipeline_spark.operators.quantiles import (
        exact_quantile_cuts,
    )

    inf = float("inf")
    df = spark.createDataFrame([(inf,), (inf,)], "v double")
    got = exact_quantile_cuts(df, "v", [0.25, 0.75]).collect()[0]["qs"]
    assert got == [inf, inf]
    df2 = spark.createDataFrame([(2.5,), (2.5,)], "v double")
    got2 = exact_quantile_cuts(df2, "v", [0.5], round_to=0).collect()[0]["qs"]
    assert got2 == [3.0]  # Spark HALF_UP, not banker's


# ---------------------------------------------------------------------------
# Round-3 operators vs naive references
# ---------------------------------------------------------------------------
def _py_chunk_dedup(docs: list[tuple[int, str]], w: int = 5):
    """Naive reference for chunk_dedup_stats: global first-occurrence
    rule over (doc_id, chunk_idx) order."""
    seen: dict[str, tuple[int, int]] = {}
    out = {}
    for doc_id, text in sorted(docs):
        toks = [t for t in text.split() if t]
        if not toks:
            continue
        chunks = [" ".join(toks[i * w:(i + 1) * w])
                  for i in range((len(toks) + w - 1) // w)]
        n_dup = 0
        for idx, ch in enumerate(chunks):
            if ch in seen and seen[ch] < (doc_id, idx):
                n_dup += 1
            else:
                seen.setdefault(ch, (doc_id, idx))
        out[doc_id] = (len(chunks), n_dup)
    return out


@given(
    docs=st.lists(
        st.tuples(
            st.integers(0, 30),
            st.lists(
                st.sampled_from("aa bb cc dd ee".split()), min_size=0, max_size=17
            ).map(" ".join),
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[0],
    )
)
@settings(**_SETTINGS)
def test_chunk_dedup_matches_reference(spark, docs):
    from sports_betting_data_pipeline_spark.functions.corpus import (
        chunk_dedup_stats,
    )

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_dup_chunks"])
        for r in chunk_dedup_stats(df, chunk_tokens=5).collect()
    }
    assert got == _py_chunk_dedup(docs, w=5)


@given(
    sigs=st.lists(st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=40),
    h=st.integers(0, 12),
    cap=st.integers(1, 10),
)
@settings(**_SETTINGS)
def test_neardup_state_invariants(sigs, h, cap):
    """The st09 state transition: (a) state ids unique and <= cap,
    (b) kept set equals the naive seen-semantics rule when uncapped,
    (c) redelivering the same batch emits nothing and leaves state
    unchanged."""
    from sports_betting_data_pipeline_spark.streaming.jobs import (
        neardup_bucket_update,
    )

    ids = list(range(len(sigs)))
    kept, _, st_ids, st_sigs = neardup_bucket_update(
        [], [], ids, sigs, h, 10_000
    )
    # naive reference
    ref_kept, seen = [], []
    for i, s in zip(ids, sigs):
        near = any(
            bin((s ^ t) & 0xFFFFFFFFFFFFFFFF).count("1") <= h for t in seen
        )
        if not near:
            ref_kept.append(i)
        seen.append(s)
    assert kept == ref_kept
    assert st_ids == ids and st_sigs == sigs

    # capped: bounded, unique, deterministic smallest-id compaction
    _, _, cap_ids, cap_sigs = neardup_bucket_update([], [], ids, sigs, h, cap)
    assert len(cap_ids) == min(cap, len(ids)) == len(set(cap_ids))
    assert cap_ids == sorted(ids)[: min(cap, len(ids))]

    # redelivery is a no-op
    kept2, _, st2_ids, st2_sigs = neardup_bucket_update(
        cap_ids, cap_sigs, ids, sigs, h, cap
    )
    kept2_new = [i for i in kept2 if i in cap_ids]
    assert kept2_new == []
    if max(ids) < cap:  # full redelivery of an uncapped bucket
        assert st2_ids == cap_ids and st2_sigs == cap_sigs


@given(
    texts=st.lists(
        st.one_of(
            st.none(),
            st.text(alphabet=st.sampled_from("ab \t\n"), min_size=0, max_size=40),
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(**_SETTINGS)
def test_simhash_two_implementations_agree(spark, texts):
    """The explode+aggregate scale path (simhash_signatures) and the
    single-expression fold (simhash64) are independent implementations
    of the same signature — they must agree bit-for-bit on every doc,
    including token-less docs: empty/whitespace AND NULL text all
    sign to 0 (explode_outer in one form, the coalesce'd fold in the
    other — the pre-fix expression form gave NULL for NULL text and
    crashed st09's stateful update; fuzz_oracle nulls variant)."""
    from sports_betting_data_pipeline_spark.functions.dedup import (
        simhash64,
        simhash_signatures,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id int, text string",
    )
    expr_sigs = {
        r["doc_id"]: r["sig"]
        for r in df.select(
            "doc_id", simhash64("text").alias("sig")
        ).collect()
    }
    agg_sigs = {
        r["_id"]: r["_sig"]
        for r in simhash_signatures(df, "doc_id", "text").collect()
    }
    assert expr_sigs == agg_sigs


@given(
    docs=st.lists(
        st.tuples(
            st.integers(0, 10_000),  # doc_id (may collide; dedup below)
            st.integers(0, 40),      # n_tokens
            st.floats(0.0, 1.0),     # raw quality
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda d: d[0],
    ),
    budget=st.integers(0, 300),
)
@settings(**_SETTINGS)
def test_token_budget_two_phase_equals_naive_global_window(
    spark, docs, budget
):
    """The r4 two-phase distributed prefix sum must keep EXACTLY the
    rows (and cum_tokens) of the naive single-partition global window
    it replaced — including ties on quality, zero-token docs, and a
    budget of 0."""
    import pandas as pd
    from pyspark.sql import Window

    from sports_betting_data_pipeline_spark.functions.corpus import (
        token_budget_selection,
    )

    rows = [
        (doc_id, " ".join(["w"] * n_toks), round(q, 6))
        for doc_id, n_toks, q in docs
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "_q"])

    got = (
        token_budget_selection(df, budget=budget)
        .orderBy("doc_id")
        .toPandas()
    )

    # naive reference: global ordered cumsum in (quality desc, id)
    from sports_betting_data_pipeline_spark.functions.text import (
        quality_score,
        ws_token_count,
    )

    scored = df.select(
        "doc_id",
        F.round(quality_score("text"), 6).alias("quality"),
        ws_token_count("text").alias("n_tokens"),
    )
    w = Window.orderBy(F.col("quality").desc(), F.col("doc_id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = (
        scored.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget)
        .orderBy("doc_id")
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True)
    )


@given(
    probe=st.lists(st.integers(0, 500), min_size=1, max_size=60),
    build=st.lists(st.integers(0, 500), min_size=0, max_size=25),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bloom_prefilter_never_drops_a_match(spark, probe, build):
    """For ANY key sets, bloom_prefilter(probe) ⊇ probe ∩ build — the
    no-false-negative law that makes prefilter+exact ≡ exact."""
    from sports_betting_data_pipeline_spark.operators.relational import (
        bloom_prefilter,
    )

    pdf = spark.createDataFrame([(k,) for k in probe], "k: bigint")
    bdf = spark.createDataFrame([(k,) for k in build], "bk: bigint")
    kept = {
        r.k for r in bloom_prefilter(pdf, "k", bdf, "bk", num_words=8).collect()
    }
    required = {k for k in probe if k in set(build)}
    assert required <= kept


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 10_000), st.floats(0.01, 100.0)),
        min_size=1, max_size=25, unique_by=lambda t: t[0],
    )
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_weighted_sample_matches_python_reference(spark, rows):
    """weighted_sample's md5-derived A-Res draw must equal the same
    algorithm computed in pure Python (hashlib md5 → uint32 →
    ln(u)/w, top-3 by key desc then id asc)."""
    import hashlib
    import math

    from sports_betting_data_pipeline_spark.operators.relational import (
        weighted_sample,
    )

    def es_key(key_id, w):
        h = int(hashlib.md5(str(key_id).encode()).hexdigest()[:8], 16)
        return math.log((h + 1.0) / 4294967296.0) / w

    expected = [
        kid for kid, _ in sorted(
            rows, key=lambda t: (-es_key(t[0], t[1]), t[0])
        )[:3]
    ]
    df = spark.createDataFrame(rows, "id: bigint, w: double")
    got = [
        r.id
        for r in weighted_sample(df, k=3, weight_col="w", key_cols=["id"])
        .orderBy("_rank")
        .collect()
    ]
    assert got == expected


@given(
    vals=st.lists(
        st.floats(
            min_value=-1e6,
            max_value=1e6,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=40,
    ),
    probs=st.lists(
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        min_size=1,
        max_size=5,
    ),
)
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_exact_quantile_cuts_matches_numpy(spark, vals, probs):
    # The distributed operator must reproduce numpy's linear
    # interpolation (the same definition Spark percentile and DuckDB
    # quantile_cont use) on arbitrary value sets — including
    # duplicates, negatives, and single-element inputs.
    import numpy as np

    from sports_betting_data_pipeline_spark.operators.quantiles import (
        exact_quantile_cuts,
    )

    probs = sorted(probs)
    df = spark.createDataFrame([(float(v),) for v in vals], ["v"])
    got = exact_quantile_cuts(
        df, "v", probs, num_partitions=4, round_to=None
    ).collect()[0]["qs"]
    want = np.quantile(np.array(vals, dtype=float), probs, method="linear")
    assert len(got) == len(probs)
    for g, w in zip(got, want):
        assert g == pytest.approx(w, rel=1e-12, abs=1e-9), (vals, probs)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.data())
def test_blocked_nearest_neighbor_certification_is_exact(spark, data):
    """geo02's grid-blocked nearest-neighbor (certification bound +
    all-cells fallback) must equal the brute-force argmin for RANDOM
    coordinates, not just the fixture's md5-derived ones — a wrong
    certification inequality would surface here as a customer matched
    to a non-nearest supplier."""
    import math

    from sports_betting_data_pipeline_spark.plans.q_relational import (
        blocked_nearest_supplier,
    )

    n_c = data.draw(st.integers(min_value=1, max_value=12))
    n_s = data.draw(st.integers(min_value=1, max_value=25))
    # Full closed ranges — slat=90 / slon=180 floor into nonexistent
    # grid cells unless sgrid clamps them (ADVICE r6); hypothesis
    # weights interval endpoints heavily, so the boundary is exercised.
    coord = st.tuples(
        st.floats(min_value=-90.0, max_value=90.0, allow_nan=False),
        st.floats(min_value=-180.0, max_value=180.0, allow_nan=False),
    )
    custs = data.draw(
        st.lists(coord, min_size=n_c, max_size=n_c)
    )
    supps = data.draw(
        st.lists(coord, min_size=n_s, max_size=n_s)
    )

    cust = spark.createDataFrame(
        [(i, la, lo) for i, (la, lo) in enumerate(custs)],
        ["c_custkey", "clat", "clon"],
    ).select(
        "c_custkey",
        F.col("clat").cast("double"),
        F.col("clon").cast("double"),
    )
    supp = spark.createDataFrame(
        [(j, la, lo) for j, (la, lo) in enumerate(supps)],
        ["s_suppkey", "slat", "slon"],
    ).select(
        "s_suppkey",
        F.col("slat").cast("double"),
        F.col("slon").cast("double"),
    )

    def hav(c, s):
        (clat, clon), (slat, slon) = c, s
        a = (
            math.sin(math.radians(slat - clat) / 2) ** 2
            + math.cos(math.radians(clat))
            * math.cos(math.radians(slat))
            * math.sin(math.radians(slon - clon) / 2) ** 2
        )
        return 2 * 6371.0 * math.asin(math.sqrt(a))

    want = {}
    for i, c in enumerate(custs):
        best = min(
            ((hav(c, s), j) for j, s in enumerate(supps)),
        )
        want[i] = best

    got = {
        r["c_custkey"]: r["nearest_suppkey"]
        for r in blocked_nearest_supplier(cust, supp).collect()
    }
    assert set(got) == set(want)
    for i, (best_d, best_j) in want.items():
        # Distance-optimality rather than argmin identity: boundary
        # coordinates (both poles, the antimeridian) make physically
        # coincident points with different ids, where JVM-vs-libm ULP
        # noise may break the (d_km, s_suppkey) tiebreak; 1e-9 km
        # (a micron) passes only FP noise, never a certification bug.
        assert hav(custs[i], supps[got[i]]) <= best_d + 1e-9, (
            i,
            got[i],
            best_j,
        )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        ),
        min_size=1,
        max_size=16,
    )
)
def test_similarity_matches_python_left_fold(spark, pairs):
    """dot/l2_norm/cosine equal a Python left fold over the pairs
    (``acc = 0.0; acc += x*y``, ``math.sqrt``, ``max(na*nb, 1e-12)``).
    That fold is the order Spark's ``aggregate`` adds in, so the values
    match exactly: any float divergence at all is a regression (oracle
    hashes depend on it)."""
    from sports_betting_data_pipeline_spark.functions.similarity import (
        cosine,
        dot,
        l2_norm,
    )

    a = [x for x, _ in pairs]
    b = [y for _, y in pairs]
    df = spark.createDataFrame(
        [(a, b)], "va: array<double>, vb: array<double>"
    )
    row = df.select(
        dot("va", "vb").alias("dot"),
        l2_norm("va").alias("norm"),
        cosine("va", "vb").alias("cos"),
    ).collect()[0]

    def fold(xs, ys):
        acc = 0.0
        for x, y in zip(xs, ys):
            acc += x * y
        return acc

    na, nb = math.sqrt(fold(a, a)), math.sqrt(fold(b, b))
    assert row["dot"] == fold(a, b), pairs
    assert row["norm"] == na, pairs
    assert row["cos"] == fold(a, b) / max(na * nb, 1e-12), pairs


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.text(
        alphabet=st.sampled_from(list("ab c`'\\\t\né")),
        max_size=40,
    ),
    st.integers(1, 4),
)
def test_text_builders_match_python_tokenizer(spark, text, k):
    """ws_tokens and shingles equal a Python tokenizer that splits on
    Java's ``\\s`` set, and the MinHash signature equals a relational
    reference (explode the shingles and the seeds, then
    ``min(xxhash64(xxhash64(s), i))`` per seed) — on texts holding
    quotes, backslashes, tabs and non-ASCII, which exercise the SQL
    literal escaping in the generated expression text."""
    from sports_betting_data_pipeline_spark.functions.dedup import (
        minhash_signature_from_shingles,
    )
    from sports_betting_data_pipeline_spark.functions.text import (
        shingles_sql,
        ws_tokens,
    )

    n = 8
    df = spark.createDataFrame([(text,)], "t: string")
    row = df.select(
        ws_tokens("t").alias("toks"),
        shingles("t", k).alias("sh"),
        minhash_signature_from_shingles(shingles_sql("t", k), n).alias("sig"),
    ).collect()[0]
    assert row["toks"] == _java_ws_tokens(text), repr(text)
    assert row["sh"] == _py_shingles(text, k), repr(text)

    sh = spark.createDataFrame([(row["sh"],)], "sh: array<string>")
    pre = sh.select(
        minhash_signature_from_shingles(
            "transform(sh, s -> xxhash64(s))", n, pre_hashed=True
        ).alias("sig")
    ).collect()[0]["sig"]
    seeds = spark.range(n).select(F.col("id").cast("int").alias("i"))
    mins = dict(
        sh.select(F.explode("sh").alias("s"))
        .crossJoin(seeds)
        .groupBy("i")
        .agg(F.min(F.xxhash64(F.xxhash64("s"), "i")).alias("m"))
        .collect()
    )
    want = [mins.get(i, (1 << 63) - 1) for i in range(n)]
    assert row["sig"] == want, repr(text)
    assert pre == want, repr(text)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.one_of(
        st.none(),
        st.integers(min_value=0, max_value=4_102_444_800_000_000_000),
    )
)
# 1970-01-01 00:00:00.000001 UTC: its New York wall clock is pre-epoch,
# where truncating epoch seconds once rendered the offset as -04:59
@example(1_000)
def test_temporal_renderings_match_zoneinfo(spark, ns):
    """The C1/C3/C4 SQL renderings (flatten_sheet's timestamp cells)
    equal Python's ``str()`` of the zoneinfo datetime, µs-exact — across
    DST boundaries, µs fractions, and null inputs."""
    from zoneinfo import ZoneInfo

    from sports_betting_data_pipeline_spark.operators.temporal import (
        iso_to_eastern_sql,
        ns_epoch_to_eastern_sql,
        ns_epoch_to_naive_sql,
    )

    epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
    if ns is None:
        iso = None
        want = (None, None, None)
    else:
        utc = epoch + datetime.timedelta(microseconds=ns // 1000)
        iso_utc = epoch + datetime.timedelta(seconds=(ns // 1_000_000_000) % 4_102_444_800)
        iso = iso_utc.strftime("%Y-%m-%dT%H:%M:%SZ")
        want = (
            str(utc.astimezone(ZoneInfo("US/Eastern"))),
            str(utc.replace(tzinfo=None)),
            str(iso_utc.astimezone(ZoneInfo("America/New_York"))),
        )
    df = spark.createDataFrame([(ns, iso)], "ns: long, iso: string")
    row = df.selectExpr(
        ns_epoch_to_eastern_sql("ns"),
        ns_epoch_to_naive_sql("ns"),
        iso_to_eastern_sql("iso"),
    ).collect()[0]
    assert tuple(row) == want, (ns, iso)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.sampled_from([0.0, 1.0, 1.5, 2.0, 2.0, 7.25, -3.5, 1e6, -1e6]),
        min_size=30,
        max_size=120,
    ),
    probs=st.lists(
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        min_size=1,
        max_size=4,
    ),
)
def test_exact_quantile_cuts_multilevel_refinement(spark, vals, probs):
    # Force the bucket-refinement loop through MULTIPLE levels and the
    # single-distinct-value early-resolution path (duplicate-heavy
    # values, tiny threshold, 4-way buckets): exactness must never
    # depend on refine_threshold/buckets/max_levels — they only prune.
    import numpy as np

    from sports_betting_data_pipeline_spark.operators.quantiles import (
        exact_quantile_cuts,
    )

    probs = sorted(probs)
    df = spark.createDataFrame([(float(v),) for v in vals], ["v"])
    got = exact_quantile_cuts(
        df, "v", probs, round_to=None,
        buckets=4, refine_threshold=3, max_levels=3,
    ).collect()[0]["qs"]
    want = np.quantile(np.array(vals, dtype=float), probs, method="linear")
    assert len(got) == len(probs)
    for g, w in zip(got, want):
        assert g == pytest.approx(w, rel=1e-12, abs=1e-9), (vals, probs)
