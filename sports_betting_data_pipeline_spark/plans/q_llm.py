"""LLM-data-pipeline catalog queries (SURVEY.md §2.10): text analysis,
dedup, similarity search, multimodal plumbing — over the documents /
embeddings fixtures.

Oracle policy: everything SQL-expressible gets a DuckDB oracle
(token stats, word frequency, lang-ID heuristic, quality score,
prefix/canonical dedup, n-gram Jaccard, brute-force ANN, multimodal
metadata). MinHash-LSH queries that VERIFY candidates with exact
Jaccard are also hash-checked (l08, l22, l30): verification makes
the output a subset of the exact all-pairs set, and LSH recall on
this corpus is exactly 1.0 (deterministic xxhash64), so the sets
coincide — DuckDB replays the exact-Jaccard rule without needing
xxhash64. Unverified signature ops (SimHash, sign-projection ANN
buckets) stay rows-only with recall pinned by planted-duplicate unit
tests (tests/test_llm_ops.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sports_betting_data_pipeline_spark.functions.dedup import (
    connected_components,
    containment_prefix_pairs,
    exact_dedupe_canonical,
    incremental_neardup_novel,
    jaccard,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
)
from sports_betting_data_pipeline_spark.functions.multimodal import (
    extract_features,
    frame_sample_plan,
    synthesize_assets,
)
from sports_betting_data_pipeline_spark.functions.similarity import (
    brute_force_topk,
    embedding_neardup_pairs,
    ivf_mutual_nn,
    ivf_topk,
    lsh_topk,
    semdedup,
)
from sports_betting_data_pipeline_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    bpe_ish_token_count,
    char_count,
    lang_id,
    mean_token_length,
    quality_score,
    shingles,
    stopword_ratio,
    uniq_token_ratio,
    winnow_fingerprints,
    ws_token_count,
    ws_tokens,
)
from sports_betting_data_pipeline_spark.io import load_table, size_hint, widen_for_compute
from sports_betting_data_pipeline_spark.plans.catalog import register

# DuckDB fragment equal to text.ws_tokens.
#
# Case-mapping contract (unicode fuzz variant, r9; sigma r10): the
# engine's lower() is the JVM's Unicode FULL+conditional case mapping,
# DuckDB's is utf8proc's SIMPLE mapping. SpecialCasing.txt has exactly
# two non-locale lowercase divergences between them:
#   1. U+0130 'İ' → 'i̇' (i + combining dot, full) vs 'i' (simple) —
#      handled by a pre-lower replace, a byte-level no-op on ASCII and
#      on the JVM (full mapping produces the same two codepoints).
#   2. Final_Sigma: word-final 'Σ' → 'ς' (JVM) vs 'σ' (DuckDB) —
#      handled by a post-lower regexp_replace implementing the full
#      rule "σ preceded by cased (case-ignorable)* and not followed by
#      (case-ignorable)* cased → ς", with [\p{Lu}\p{Ll}\p{Lt}] as the
#      cased class and the JDK ConditionalSpecialCasing ignorable set
#      [\p{Mn}\p{Me}\p{Cf}\p{Lm}\p{Sk} ' ’] (soft hyphen is Cf) on
#      BOTH sides — so "ΟΔΥΣΣΕΑΣ'Σ" and combining-mark shapes now
#      match the JVM (ADVICE r10 #2; previously the ignorable clause
#      was skipped). Remaining documented approximation: the cased
#      class omits Other_Uppercase/Other_Lowercase (circled letters,
#      cased modifier letters) — verified vs Spark 4.1.2 on 28 probes
#      (CJK/digit/medial/final/ΣΣ/apostrophe/combining/soft-hyphen,
#      tests/test_oracle_parity.py::test_case_mapping_oracle_contract).
# Every oracle lowers corpus text via _lower_sql(); token-level
# lower(x) stopword membership needs no wrapper: no English stopword
# contains a dotted I or sigma under either mapping.
_DTOKS = "list_filter(string_split_regex({src}, '\\s+'), t -> t != '')"


# RE2 character-class fragments for the Final_Sigma rewrite.
# \x27 (apostrophe) is spelled as an RE2 hex escape so the pattern can
# live inside a single-quoted SQL literal without doubling.
_SIGMA_CASED = r"\p{Lu}\p{Ll}\p{Lt}"
_SIGMA_IGN = r"\p{Mn}\p{Me}\p{Cf}\p{Lm}\p{Sk}\x27’"


def _lower_sql(src: str = "text") -> str:
    """The oracle (DuckDB) spelling of the engine's ``lower(src)`` —
    see the case-mapping contract above."""
    return (
        f"regexp_replace(lower(replace({src}, 'İ', 'i̇')), "
        f"'([{_SIGMA_CASED}][{_SIGMA_IGN}]*)σ"
        f"([{_SIGMA_IGN}]*(?:$|[^{_SIGMA_CASED}{_SIGMA_IGN}]))', "
        r"'\1ς\2', 'g')"
    )


_LOWER_TEXT = _lower_sql("text")

# DuckDB fragment equal to text.shingles(lower(text), 3): distinct
# 3-word sliding windows; <3-token docs yield their full-token join.
# ELEMENT indexing ({toks}[i], O(1); out-of-bounds → NULL, filtered),
# never a slice inside the lambda: DuckDB evaluates a list slice in
# O(list length), so the old {toks}[i:i+2] spelling made every
# shingle-bearing oracle O(n²) in document length — the longdoc fuzz
# variant (r11) hung it on 60k-token documents while the engine side
# stayed linear.
_DSH3 = (
    "list_distinct(list_transform("
    "range(1, greatest(len({toks}) - 2, 1) + 1), "
    "i -> array_to_string(list_filter("
    "[{toks}[i], {toks}[i+1], {toks}[i+2]], x -> x IS NOT NULL), ' ')))"
)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
@register(
    "l01_text_stats",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, n_chars, text,
               {_DTOKS.format(src='text')} AS toks
        FROM documents WHERE doc_id % 7 = 0
    )
    SELECT doc_id, n_chars,
           CAST(length(text) AS BIGINT) AS len_chars,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]')) AS BIGINT) AS n_bpe,
           -- EMPTY toks -> 0.0 (the engine's total-function choice,
           -- like the ratios below; bare list_sum([]) is NULL) but
           -- NULL toks (NULL text) stays NULL — a blanket coalesce
           -- resurrected 0.0 for unknown text (fuzz_oracle extremes,
           -- then nulls)
           round(CASE WHEN toks IS NULL THEN NULL
                 ELSE coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
                      / greatest(len(toks), 1) END, 6) AS mean_tok_len,
           round(len(list_distinct(toks)) / greatest(len(toks), 1), 6) AS uniq_ratio,
           round(len(list_filter(toks, x -> list_contains({STOPWORDS!r}, lower(x)))) / greatest(len(toks), 1), 6) AS sw_ratio
    FROM t
    """,
)
def l01_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex), mean token length,
    uniqueness and stopword ratios — per-document text statistics."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.pmod(F.col("doc_id"), F.lit(7)) == 0
    )
    text = F.col("text")
    return docs.select(
        "doc_id",
        "n_chars",
        char_count(text).alias("len_chars"),
        ws_token_count(text).alias("n_tokens"),
        bpe_ish_token_count(text).alias("n_bpe"),
        F.round(mean_token_length(text), 6).alias("mean_tok_len"),
        F.round(uniq_token_ratio(text), 6).alias("uniq_ratio"),
        F.round(stopword_ratio(text), 6).alias("sw_ratio"),
    )


@register(
    "l02_word_frequency",
    oracle=f"""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest({_DTOKS.format(src=_LOWER_TEXT)}) AS word FROM documents)
    GROUP BY word
    ORDER BY cnt DESC, word
    LIMIT 20
    """,
)
def l02_word_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word frequency: explode(tokens) → count → top-20.

    Scale: partial aggregation makes the shuffle carry only per-word
    partial counts; the limit compiles to TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(ws_tokens(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "word")
        .limit(20)
    )


def _lang_oracle_sql() -> str:
    toks = _DTOKS.format(src=_lower_sql())
    scores = ", ".join(
        f"len(list_intersect(list_distinct({toks}), {words!r})) AS s_{lang}"
        for lang, words in LANG_MARKERS.items()
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in LANG_MARKERS) + ")"
    case = " ".join(
        f"WHEN s_{lang} = best AND best > 0 THEN '{lang}'" for lang in LANG_MARKERS
    )
    return f"""
    WITH scored AS (
        SELECT doc_id, lang, {scores} FROM documents
    ), best AS (
        SELECT doc_id, lang, {best} AS best, * FROM scored
    )
    SELECT lang AS lang_true,
           CASE {case} ELSE 'unknown' END AS lang_pred,
           count(*) AS n_docs
    FROM best
    GROUP BY 1, 2
    ORDER BY 1, 2
    """


@register("l03_lang_id", oracle=_lang_oracle_sql())
def l03_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (marker-word overlap, fixed tie
    precedence) cross-tabulated against the labeled lang column."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("lang").alias("lang_true"),
            lang_id(F.col("text")).alias("lang_pred"),
        )
        .groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang_true", "lang_pred")
    )


@register(
    "l04_quality_score",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_DTOKS.format(src='text')} AS toks FROM documents
        WHERE doc_id % 5 = 0
    ), feats AS (
        SELECT doc_id,
               len(toks) AS n,
               list_sum(list_transform(toks, x -> length(x))) / greatest(len(toks), 1) AS mtl,
               len(list_filter(toks, x -> list_contains({STOPWORDS!r}, lower(x)))) / greatest(len(toks), 1) AS sw,
               len(list_distinct(toks)) / greatest(len(toks), 1) AS uniq
        FROM t
    )
    SELECT doc_id,
           round((
             (CASE WHEN n >= 10 AND n <= 100000 THEN 1.0 ELSE 0.0 END) +
             (CASE WHEN mtl >= 2.0 AND mtl <= 12.0 THEN 1.0 ELSE 0.0 END) +
             (CASE WHEN sw >= 0.05 THEN 1.0 ELSE 0.0 END) +
             uniq) / 4.0, 6) AS quality
    FROM feats
    """,
)
def l04_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining-filter quality heuristic (length / token-shape /
    stopword-mass / repetition), bounded [0,1]."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.pmod(F.col("doc_id"), F.lit(5)) == 0
    )
    return docs.select(
        "doc_id", F.round(quality_score(F.col("text")), 6).alias("quality")
    )


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------
@register(
    "l05_prefix_dedup",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_DTOKS.format(src='text')} AS toks FROM documents
    )
    SELECT array_to_string(toks[1:2], ' ') AS prefix,
           min(doc_id) AS keep_id,
           count(*) AS n_docs
    FROM t
    GROUP BY 1
    """,
)
def l05_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a prefix key: canonical min-id per group + group
    size (the hash-groupBy exact-dedup shape, one narrow shuffle).

    TOKEN-LESS text (NULL, empty, whitespace-only) keeps a NULL
    prefix — one no-content group, like any SQL GROUP BY null key.
    concat_ws alone would mint a '' prefix, which the oracle's
    array_to_string over a NULL/empty slice never does (fuzz_oracle
    nulls + extremes variants)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = ws_tokens(F.col("text"))
    prefix = F.when(
        F.size(toks) >= 1, F.concat_ws(" ", F.slice(toks, 1, 2))
    )
    return docs.groupBy(prefix.alias("prefix")).agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@register(
    "l06_canonical_dedupe",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars FROM (
        SELECT *, row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
        FROM documents
    ) WHERE rn = 1
    """,
)
def l06_canonical_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact dedup: keep the min-doc_id row per
    (lang, source) — dropDuplicates without its partition-order
    nondeterminism."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedupe_canonical(docs, key="doc_id", subset=["lang", "source"]).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


@register(
    "l07_ngram_jaccard",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, lang,
               list_distinct({_DTOKS.format(src=_LOWER_TEXT)}) AS sh
        FROM documents WHERE doc_id % 17 = 0
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh)) /
                 greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1), 6) AS jaccard_sim
    FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) /
          greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) >= 0.5
    """,
)
def l07_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact unigram-Jaccard near-dup pairs, blocked by lang.

    (Unigram TOKEN SETS here because the fixture word-soup has no
    repeated word SEQUENCES; the k=3 shingle path is pinned by
    planted-duplicate unit tests.) The set is the raw distinct-token
    list — [] for empty text, NULL for NULL text — exactly the
    oracle's list_distinct over its token fragment; shingles(k=1)
    would map empty text to [''] and silently pair empty docs at
    Jaccard 1.0 where the oracle scores them 0 (fuzz_oracle nulls
    variant). Jaccard is a ratio of two ints — bit-exact across
    engines, so the threshold filter is stable."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.pmod(F.col("doc_id"), F.lit(17)) == 0
    )
    sh = docs.select(
        F.col("doc_id").alias("_id"),
        F.col("lang").alias("_blk"),
        F.array_distinct(ws_tokens(F.lower(F.col("text")))).alias("_sh"),
    )
    left = sh.select(
        F.col("_blk"), F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")
    )
    right = sh.select(
        F.col("_blk"), F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")
    )
    return (
        left.join(right, on="_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("_j", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("_j") >= 0.5)
        .select("id_a", "id_b", F.round("_j", 6).alias("jaccard_sim"))
    )


@register(
    "l08_minhash_lsh",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_DTOKS.format(src=_LOWER_TEXT)} AS toks
        FROM documents
    ), s AS (
        SELECT doc_id, {_DSH3.format(toks='toks')} AS sh FROM t
    )
    SELECT id_a, id_b, jaccard_sim FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(len(list_intersect(a.sh, b.sh)) /
                     greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1),
                     6) AS jaccard_sim
        FROM s a JOIN s b ON a.doc_id < b.doc_id
    ) WHERE jaccard_sim >= 0.35
    """,
)
def l08_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH verified near-dup pairs over documents — the
    production near-dup operator: banded candidate generation (never
    O(n²)) + exact 3-shingle Jaccard verification at 0.35.
    ``collapse_exact=False`` here because a PAIRS query wants clique
    semantics for identical-doc blocks (the star-edge skew guard —
    equivalent only under connected components — is exercised by l22
    and pinned in tests).

    Oracle parity argument (same as l22): ``verify_threshold`` makes
    the output a SUBSET of the oracle's exact all-pairs set; with 8
    bands of 4 rows, LSH recall on this corpus is exactly 1.0 at
    sf0.01 (verified empirically; xxhash64 is deterministic, so this
    holds run-to-run), so the sets coincide. The oracle thresholds on
    the ROUNDED jaccard to mirror the Spark-side filter order.
    ``est_sim`` (the MinHash agreement estimate) is excluded from the
    compared columns — xxhash64 is not DuckDB-reproducible; its
    accuracy is pinned in tests/test_llm_ops.py instead."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_candidates(
        docs, id_col="doc_id", text_col="text", k=3, num_hashes=32, bands=8,
        verify_threshold=0.35,
    ).select("id_a", "id_b", "jaccard_sim")


@register("l09_simhash_neardup")
def l09_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, prefix-blocked with 4-rotation
    multi-probe — near-dups whose differing bits land in one prefix
    window are recovered by the other rotations (recall 0.535 → 0.93
    on planted dups, pinned in unit tests). Rows-only driver check."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_neardup_pairs(
        docs, id_col="doc_id", text_col="text", max_hamming=8, prefix_bits=16,
        probes=4,
    )


def _l58_oracle_sql() -> str:
    """DuckDB twin of the SimHash near-dup machinery (VERDICT r6 #8 —
    the l12 pattern applied to l09's family): the production query
    (l09) hashes tokens with Spark's xxhash64, which DuckDB cannot
    reproduce, so it stays rows-only; THIS query swaps in a portable
    60-bit token hash — the first 15 hex chars of md5(token), parsed
    identically by Spark's conv() and DuckDB's hex cast — and runs the
    SAME signature fold (±1 bit counters), prefix blocking, and
    Hamming verify on both engines. Every downstream step is exact
    integer arithmetic, so the pair set hash-checks bit-for-bit."""
    sums = ",\n               ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS c{j}"
        for j in range(60)
    )
    pack = " | ".join(
        f"(CASE WHEN c{j} > 0 THEN 1::BIGINT << {j} ELSE 0 END)"
        for j in range(60)
    )
    dtoks = _DTOKS.format(src=_lower_sql())
    return f"""
    WITH t AS (
        SELECT doc_id, unnest({dtoks}) AS tok
        FROM documents WHERE doc_id % 3 = 0
    ), h AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
        FROM t
    ), c AS (
        SELECT doc_id,
               {sums}
        FROM h GROUP BY doc_id
    ), s AS (
        SELECT doc_id, {pack} AS sig FROM c
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
    FROM s a JOIN s b
      ON (a.sig >> 48) = (b.sig >> 48) AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 8
    """


@register("l58_simhash_portable", oracle=_l58_oracle_sql())
def l58_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked SimHash near-dup twin of l09 on a 1/3 sampled
    slice: portable md5-derived 60-bit token hashes (see
    :func:`_l58_oracle_sql`), the columnar ±1-counter signature fold
    of :func:`functions.dedup.simhash_signatures` (60 codegen'd SUM
    aggregates, one shuffle on doc id), 12-bit prefix blocks, exact
    Hamming ≤ 8 verify. Single-block (no multi-probe rotations): the
    twin pins the signature/blocking/verify MACHINERY against an
    independent engine; l09 remains the production multi-probe
    variant. Token-less docs are excluded on both engines (inner
    explode ≡ unnest).

    Scale: identical shape to l09 — scan-side hashing, narrow
    (block, sig, id) self-join, never all-pairs."""
    from sports_betting_data_pipeline_spark.io import widen_for_compute

    docs = load_table(spark, sf_dir, "documents").filter(
        F.pmod("doc_id", F.lit(3)) == 0
    )
    toks = (
        widen_for_compute(docs.select("doc_id", "text"))
        .select(
            F.col("doc_id").alias("_id"),
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != ""
                )
            ).alias("_tok"),
        )
        .withColumn(
            "_h",
            F.expr("CAST(conv(substring(md5(_tok), 1, 15), 16, 10) AS BIGINT)"),
        )
    )
    counters = toks.groupBy("_id").agg(
        *[
            F.expr(f"sum(IF((shiftright(_h, {j}) & 1) = 1, 1, -1))").alias(
                f"_c{j}"
            )
            for j in range(60)
        ]
    )
    packed = F.expr(
        " | ".join(f"IF(_c{j} > 0, shiftleft(1L, {j}), 0L)" for j in range(60))
    )
    sigs = counters.select(
        "_id", packed.alias("_sig")
    ).withColumn("_blk", F.expr("shiftrightunsigned(_sig, 48)"))
    a = sigs.select(
        F.col("_blk"), F.col("_id").alias("id_a"), F.col("_sig").alias("_sa")
    )
    b = sigs.select(
        F.col("_blk"), F.col("_id").alias("id_b"), F.col("_sig").alias("_sb")
    )
    return (
        a.join(b, on="_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).cast("long"),
        )
        .filter(F.col("hamming") <= 8)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------
@register(
    "l10_ann_bruteforce",
    oracle="""
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 10
    ), sims AS (
        SELECT q.query_id, c.vec_id,
               list_cosine_similarity(c.embedding::DOUBLE[], q.qv) AS sim
        FROM embeddings c, q
    )
    SELECT query_id, vec_id, round(sim, 6) AS cosine_sim,
           CAST(rnk AS BIGINT) AS rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, vec_id) AS rnk
        FROM sims
    ) WHERE rnk <= 5
    """,
)
def l10_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5: broadcast query set × corpus scan, JVM-side
    double-precision dot products, per-query top-k window."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return brute_force_topk(emb, queries, k=5)


def _l11_oracle_sql() -> str:
    """Hash-checked oracle for LSH top-k: the seeded projection planes
    are deterministic Python-generated literals, so they embed in SQL
    (the odds-ladder shared-literal trick) and DuckDB recomputes bucket
    assignment and cosine re-rank independently. Both engines fold the
    dot products sequentially in doubles over identical literals, so
    the bucket signs agree exactly."""
    from sports_betting_data_pipeline_spark.functions.similarity import (
        _projection_literals,
    )

    planes = _projection_literals(64, 8, 42)

    def plane_sql(p: list[float]) -> str:
        return "[" + ", ".join(repr(v) for v in p) + "]"

    bucket = " + ".join(
        f"(CASE WHEN list_sum(list_transform(range(1, 65), "
        f"j -> v[j] * ({plane_sql(p)})[j])) > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
    WITH c AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cb AS (
        SELECT vec_id, v, {bucket} AS bucket FROM c
    ), q AS (
        SELECT vec_id AS query_id, v AS qv, bucket FROM cb WHERE vec_id < 10
    ), sims AS (
        SELECT q.query_id, cb.vec_id,
               list_sum(list_transform(range(1, 65), j -> cb.v[j] * q.qv[j])) /
               greatest(sqrt(list_sum(list_transform(cb.v, x -> x*x))) *
                        sqrt(list_sum(list_transform(q.qv, x -> x*x))), 1e-12) AS sim
        FROM cb JOIN q ON cb.bucket = q.bucket
    )
    SELECT query_id, vec_id, round(sim, 6) AS cosine_sim, CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, vec_id) AS rnk FROM sims)
    WHERE rnk <= 5
    """


@register("l11_ann_lsh", oracle=_l11_oracle_sql())
def l11_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via random-hyperplane LSH buckets + exact
    re-rank. Hash-checked: the seeded planes embed in the oracle SQL
    as literals (see _l11_oracle_sql); recall vs brute force is
    additionally asserted in unit tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return lsh_topk(emb, queries, k=5, bits=8, dim=64)


def _l12_oracle_sql() -> str:
    """DuckDB twin of the full multi-table sign-projection LSH pipeline
    (plane literals shared with the engine via _projection_literals, so
    both engines project against bit-identical hyperplanes). The sign
    of each projection is an ordered double sum on BOTH engines (DuckDB
    list_dot_product and Spark's per-(id,plane) hash-agg both
    accumulate in vector-index order), so bucket bits — and therefore
    the CANDIDATE SET — match exactly; verified at sf0.01 and sf0.1.
    The 6dp cosine rounding absorbs last-ulp verify differences (the
    l10/pl03 pattern)."""
    from sports_betting_data_pipeline_spark.functions.similarity import (
        _projection_literals,
    )

    all_planes = [_projection_literals(64, 8, 42 + t) for t in range(8)]
    flat = [p for planes in all_planes for p in planes]
    rows = ",\n".join(
        "({}, [{}]::DOUBLE[])".format(
            j, ",".join(repr(float(w)) for w in plane)
        )
        for j, plane in enumerate(flat)
    )
    return f"""
    WITH planted AS (
        SELECT vec_id + 10000000 AS vec_id,
               list_transform(embedding, (x, i) -> CASE WHEN i = 1
                   THEN CAST(CAST(x AS DOUBLE) + 0.01 AS FLOAT4) ELSE x END)
                   AS embedding
        FROM embeddings WHERE vec_id % 100 = 0
    ), corpus AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL SELECT vec_id, embedding FROM planted
    ), planes(j, w) AS (VALUES
    {rows}
    ), proj AS (
        SELECT c.vec_id, p.j, list_dot_product(c.embedding::DOUBLE[], p.w) AS pr
        FROM corpus c CROSS JOIN planes p
    ), buckets AS (
        SELECT vec_id, CAST(j // 8 AS INT) AS table_id,
               sum(CASE WHEN pr > 0 THEN 1::BIGINT << CAST(j % 8 AS INT)
                        ELSE 0 END) AS bucket
        FROM proj GROUP BY 1, 2
    ), cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM buckets a JOIN buckets b USING (table_id, bucket)
        WHERE a.vec_id < b.vec_id
    ), v AS (
        SELECT vec_id, embedding::DOUBLE[] AS vv,
               sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                   AS nn
        FROM corpus
    )
    SELECT id_a, id_b, cosine_sim FROM (
        SELECT id_a, id_b,
               round(list_dot_product(va.vv, vb.vv)
                     / greatest(va.nn * vb.nn, 1e-12), 6) AS cosine_sim
        FROM cand
        JOIN v va ON va.vec_id = cand.id_a
        JOIN v vb ON vb.vec_id = cand.id_b
    ) WHERE cosine_sim >= 0.99
    """


@register("l12_embedding_neardup", oracle=_l12_oracle_sql())
def l12_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection with PLANTED duplicates: the
    fixture embeddings are near-orthogonal (no natural near-dups), so
    the corpus is unioned with slightly-perturbed copies of every
    100th vector; the multi-table LSH self-join must recover those
    pairs at cosine >= 0.99. Hash-checked end-to-end against a DuckDB
    twin of the whole LSH pipeline (:func:`_l12_oracle_sql` — planes,
    buckets, candidate join, exact-cosine verify); recall across
    bucket boundaries and bucket-skew bounds are additionally pinned
    in tests/test_llm_ops.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    planted = emb.filter(F.pmod(F.col("vec_id"), F.lit(100)) == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: F.when(i == 0, x + F.lit(0.01)).otherwise(x),
        ).cast("array<float>").alias("embedding"),
        F.col("label"),
    )
    corpus = emb.unionByName(planted)
    return embedding_neardup_pairs(corpus, threshold=0.99, bits=8, tables=8, dim=64)


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------
@register(
    "m01_multimodal_features",
    oracle="""
    SELECT doc_id AS asset_id,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
           CAST(strlen(text) AS BIGINT) AS n_bytes
    FROM documents WHERE doc_id % 11 = 0
    """,
)
def m01_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column plumbing end-to-end: synthesize binary
    assets, run the Arrow-batched mapInPandas feature extractor, and
    surface metadata the oracle can check (payload byte counts).

    The float features (byte_mean/entropy/projection) are exercised in
    tests; this oracle pins the schema/partition/batch plumbing."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.pmod(F.col("doc_id"), F.lit(11)) == 0
    )
    feats = extract_features(synthesize_assets(docs))
    return feats.select("asset_id", "media_type", "n_bytes")


@register(
    "m02_frame_sample_plan",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(floor(greatest(CAST(doc_id % 120 AS BIGINT) * 1000 - 1, 0) / 10000) + 1 AS BIGINT) AS n_frames
    FROM documents WHERE doc_id % 3 = 2
    """,
)
def m02_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan from duration metadata (JVM-side; the
    frame decode itself is the stubbed codec step)."""
    docs = load_table(spark, sf_dir, "documents")
    plan = frame_sample_plan(synthesize_assets(docs))
    return plan.select(
        "asset_id", F.size("frame_offsets_ms").cast("long").alias("n_frames")
    )


@register(
    "l13_ann_ivf",
    oracle="""
    WITH cents AS (
        SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id < 8
    ), corpus AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), assigned AS (
        SELECT vec_id, cent_id FROM (
            SELECT c.vec_id, ct.cent_id,
                   row_number() OVER (
                       PARTITION BY c.vec_id
                       ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cent_id
                   ) AS rn
            FROM corpus c CROSS JOIN cents ct
        ) WHERE rn = 1
    ), q AS (
        SELECT vec_id AS query_id, v AS qv FROM corpus WHERE vec_id < 10
    ), probes AS (
        SELECT query_id, cent_id FROM (
            SELECT q.query_id, ct.cent_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_cosine_similarity(q.qv, ct.cv) DESC, ct.cent_id
                   ) AS rn
            FROM q CROSS JOIN cents ct
        ) WHERE rn <= 2
    ), sims AS (
        SELECT p.query_id, a.vec_id,
               list_cosine_similarity(co.v, q2.qv) AS sim
        FROM probes p
        JOIN assigned a USING (cent_id)
        JOIN corpus co ON co.vec_id = a.vec_id
        JOIN q q2 ON q2.query_id = p.query_id
    )
    SELECT query_id, vec_id, round(sim, 6) AS cosine_sim,
           CAST(rnk AS BIGINT) AS rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, vec_id) AS rnk
        FROM sims
    ) WHERE rnk <= 5
    """,
)
def l13_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: deterministic coarse quantizer (first 8 corpus
    vectors as cells), nprobe=2 probed cells per query, exact re-rank
    of candidates — the inverted-file scale path next to l10's exact
    baseline and l11's LSH variant, fully oracle-checkable because
    cell assignment is reproducible in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=2)


@register("l23_ann_ivf_kmeans")
def l23_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN with the PRODUCTION quantizer: k-means‖ centroids
    (MLlib KMeans, fixed seed) instead of l13's first-N stub — trained
    cells are tighter, so the same nprobe budget recovers more true
    neighbors (recall improvement pinned in tests/test_llm_ops.py).
    Rows-only driver check: k-means float iteration is not
    SQL-reproducible; l13 remains the hash-checked oracle path with
    the identical plan shape."""
    from sports_betting_data_pipeline_spark.functions.similarity import (
        kmeans_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = kmeans_centroids(emb, n_centroids=8, seed=42)
    return ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=2, centroids=cents)


@register(
    "l14_normalize_fingerprint",
    oracle=r"""
    WITH n AS (
        SELECT doc_id,
               trim(regexp_replace(""" + _lower_sql("text") + r""", '\s+', ' ', 'g')) AS norm
        FROM documents
    )
    SELECT doc_id,
           CAST(length(norm) AS BIGINT) AS n_chars_norm,
           md5(norm) AS fp
    FROM n
    """,
)
def l14_normalize_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization (lowercase, whitespace collapse, trim) with
    an md5 content fingerprint — the canonicalization step that runs
    before any dedup pass; the cross-engine md5 makes the oracle a
    byte-exact check of the normalized text itself."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return docs.select(
        "doc_id",
        F.length(norm).cast("long").alias("n_chars_norm"),
        F.md5(norm).alias("fp"),
    )


@register(
    "l15_token_chunking",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
        FROM documents
    ), nz AS (
        SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
    ), st AS (
        SELECT doc_id, toks, n, unnest(range(0, n, 40)) AS s FROM nz
    )
    SELECT doc_id,
           CAST(s // 40 AS BIGINT) AS chunk_idx,
           CAST(least(50, n - s) AS BIGINT) AS n_tokens_chunk,
           md5(array_to_string(toks[s+1:s+50], ' ')) AS fp
    FROM st
    """,
)
def l15_token_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (50-token chunks, stride 40 =
    10-token overlap) — the context-window packing step of a
    pretraining pipeline. Explode is shuffle-free; the md5 per chunk
    makes the oracle byte-exact. The token array is let-bound through
    the explode so tokenization runs once per doc, not per chunk."""
    docs = load_table(spark, sf_dir, "documents")
    # rlike(\S) == "has >= 1 ws-token", evaluated on the raw text so
    # predicate pushdown cannot substitute the tokenizer into the scan
    # filter (the _minhash_base r11 lesson; tokenize once, not twice)
    toks_df = docs.filter(F.col("text").rlike(r"\S")).select(
        "doc_id", ws_tokens(F.col("text")).alias("_toks")
    )
    st = toks_df.select(
        "doc_id",
        "_toks",
        F.size("_toks").alias("_n"),
        F.explode(
            F.sequence(F.lit(0), F.size("_toks") - 1, F.lit(40))
        ).alias("_s"),
    )
    chunk = F.concat_ws(" ", F.slice(F.col("_toks"), F.col("_s") + 1, 50))
    return st.select(
        "doc_id",
        (F.col("_s") / 40).cast("long").alias("chunk_idx"),
        F.least(F.lit(50), F.col("_n") - F.col("_s")).cast("long").alias(
            "n_tokens_chunk"
        ),
        F.md5(chunk).alias("fp"),
    )


@register(
    "l16_grouped_zscore",
    oracle="""
    WITH s AS (
        SELECT user_id, event_id, value,
               avg(value) OVER (PARTITION BY user_id) AS mu,
               stddev_samp(value) OVER (PARTITION BY user_id) AS sd,
               count(*) OVER (PARTITION BY user_id) AS n
        FROM events
        WHERE value IS NOT NULL AND user_id % 11 = 0
    )
    SELECT user_id, event_id,
           round(CASE WHEN n > 1 AND sd > 0 THEN (value - mu) / sd
                      ELSE 0.0 END, 6) AS zscore
    FROM s
    """,
)
def l16_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Arrow UDF (applyInPandas): per-user z-score
    normalization — each group arrives as ONE pandas frame, the
    feature-normalization shape of a training-data pipeline. The
    oracle is the equivalent window computation; for built-in math
    like this the window form is what production should use (see
    SCALE.md "Python boundary") — the query exists to pin the
    grouped-map plumbing against it.
    """
    import pandas as pd

    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .filter(F.pmod(F.col("user_id"), F.lit(11)) == 0)
        .select("user_id", "event_id", "value")
    )

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        sd = pdf["value"].std(ddof=1)
        if len(pdf) > 1 and sd > 0:
            z = (pdf["value"] - pdf["value"].mean()) / sd
        else:
            z = pdf["value"] * 0.0
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "zscore": z.round(6),
            }
        )

    return events.groupBy("user_id").applyInPandas(
        zscore, "user_id long, event_id long, zscore double"
    )


# Regex patterns restricted to syntax Java (Spark) and RE2 (DuckDB)
# evaluate identically: no backreferences, no lookaround — and with
# BOUNDED quantifiers on every run that precedes a required literal.
# r11 longdoc finding: the unbounded `[class]+@` spelling is O(n²) in
# Java's backtracking engine (every start position re-scans the run
# looking for the '@' that never comes — a single adversarial
# 120k-char token stalled an executor core for minutes) while RE2
# stays linear, so the ENGINE hung where the oracle finished. The
# RFC-shaped bounds (local ≤64, domain ≤255, TLD ≤24) cap the
# per-position work at a constant in both engines without changing
# what matches on real-world emails; both dialects resolve the
# bounded-greedy + literal shape to the identical leftmost match.
# RE2 rejects repetition sizes above 1000, so the URL-run bound is
# 1000 (still far past every real-world URL this pipeline scrubs).
_URL_RE = r"https?://[^\s]{1,1000}"
_EMAIL_RE = r"[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]{1,255}\.[A-Za-z]{2,24}"


@register(
    "l17_scrub_urls_emails",
    oracle=rf"""
    WITH s AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{_URL_RE}')) AS BIGINT) AS n_urls,
               CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
               trim(regexp_replace(regexp_replace(regexp_replace(text,
                   '{_URL_RE}', ' ', 'g'),
                   '{_EMAIL_RE}', ' ', 'g'),
                   '\s+', ' ', 'g')) AS clean
        FROM documents
    )
    SELECT doc_id, n_urls, n_emails, md5(clean) AS fp FROM s
    """,
)
def l17_scrub_urls_emails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/boilerplate scrubbing: count and strip URLs and emails,
    re-collapse whitespace — the C4-style cleaning pass. Patterns are
    dialect-shared so the md5 of the cleaned text is byte-exact
    against the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(text, _URL_RE, " "), _EMAIL_RE, " "
            ),
            r"\s+",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        F.regexp_count(text, F.lit(_URL_RE)).cast("long").alias("n_urls"),
        F.regexp_count(text, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.md5(clean).alias("fp"),
    )


@register(
    "l18_bigram_repetition",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(""" + _lower_sql("text") + r""", '\s+'), x -> x != '')
                   AS toks
        FROM documents
    ), g AS (
        SELECT doc_id, len(toks) AS n,
               CASE WHEN len(toks) >= 2 THEN
                   list_transform(range(1, len(toks)),
                                  i -> toks[i] || ' ' || toks[i+1])
               ELSE [] END AS grams
        FROM t
    )
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_bigrams,
           round(CASE WHEN len(grams) > 0
                      THEN 1.0 - len(list_distinct(grams)) / len(grams)
                      ELSE 0.0 END, 6) AS dup_bigram_ratio
    FROM g
    """,
)
def l18_bigram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition scoring (Gopher-style quality signal): fraction of
    duplicate 2-grams per document. Non-distinct n-grams built with
    the same let-binding discipline as shingles (tokenize once per
    row)."""
    docs = load_table(spark, sf_dir, "documents")

    def build(toks):
        n = F.size(toks)
        grams = F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.struct(
            F.size(grams).cast("long").alias("n_bigrams"),
            F.when(
                F.size(grams) > 0,
                1.0 - F.size(F.array_distinct(grams)) / F.size(grams),
            )
            .otherwise(F.lit(0.0))
            .alias("ratio"),
        )

    stats = F.transform(
        F.array(ws_tokens(F.lower(F.col("text")))), build
    )[0]
    return docs.select(
        "doc_id",
        stats["n_bigrams"].alias("n_bigrams"),
        F.round(stats["ratio"], 6).alias("dup_bigram_ratio"),
    )


@register(
    "pl01_pretraining_pipeline",
    oracle=rf"""
    WITH norm AS (
        SELECT doc_id,
               trim(regexp_replace({_LOWER_TEXT}, '\s+', ' ', 'g')) AS norm
        FROM documents
    ), toks AS (
        SELECT doc_id, norm,
               list_filter(string_split_regex(norm, '\s+'), x -> x != '') AS t
        FROM norm
    ), feats AS (
        SELECT doc_id, norm, t, len(t) AS n,
               list_sum(list_transform(t, x -> length(x))) / greatest(len(t), 1) AS mtl,
               len(list_filter(t, x -> list_contains({{STOPWORDS}}, x))) / greatest(len(t), 1) AS sw,
               len(list_distinct(t)) / greatest(len(t), 1) AS uniq
        FROM toks
    ), scored AS (
        SELECT *, ((CASE WHEN n >= 10 AND n <= 100000 THEN 1.0 ELSE 0.0 END) +
                   (CASE WHEN mtl >= 2.0 AND mtl <= 12.0 THEN 1.0 ELSE 0.0 END) +
                   (CASE WHEN sw >= 0.05 THEN 1.0 ELSE 0.0 END) + uniq) / 4.0 AS q
        FROM feats
    ), kept AS (
        SELECT * FROM scored WHERE q >= 0.75 AND n > 0
    ), deduped AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY md5(norm) ORDER BY doc_id
            ) AS rn FROM kept
        ) WHERE rn = 1
    ), chunked AS (
        SELECT doc_id, t, n, unnest(range(0, n, 40)) AS s FROM deduped
    )
    SELECT doc_id,
           CAST(s // 40 AS BIGINT) AS chunk_idx,
           CAST(least(50, n - s) AS BIGINT) AS n_tokens,
           md5(array_to_string(t[s+1:s+50], ' ')) AS fp
    FROM chunked
    """.replace("{STOPWORDS}", repr(
        __import__(
            "sports_betting_data_pipeline_spark.functions.text",
            fromlist=["STOPWORDS"],
        ).STOPWORDS
    )),
)
def pl01_pretraining_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pretraining-data pipeline: normalize → quality
    filter (>=0.75, calibrated so the fixture actually drops docs) → exact dedup on the canonical fingerprint (min
    doc_id wins) → 50-token/stride-40 chunking. Every stage is an
    operator proven individually (l14, l04, l06, l15); this query pins
    that they compose — one scan, narrow shuffles only at the dedup
    window and nothing else."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    # the tokenizer-emptiness clause runs as rlike(\S) on the RAW
    # text (equivalent: lower/ws-collapse/trim preserve exactly the
    # non-\s chars), so pushdown doesn't re-tokenize at the scan
    normed = docs.filter(F.col("text").rlike(r"\S")).select(
        "doc_id", norm.alias("norm")
    )
    scored = normed.withColumn("q", quality_score(F.col("norm"))).filter(
        F.col("q") >= 0.75
    )
    deduped = exact_dedupe_canonical(
        scored.withColumn("fp", F.md5("norm")), key="doc_id", subset=["fp"]
    )
    toks = deduped.select(
        "doc_id", ws_tokens(F.col("norm")).alias("_t")
    ).withColumn("_n", F.size("_t"))
    st = toks.select(
        "doc_id",
        "_t",
        "_n",
        F.explode(F.sequence(F.lit(0), F.col("_n") - 1, F.lit(40))).alias("_s"),
    )
    return st.select(
        "doc_id",
        (F.col("_s") / 40).cast("long").alias("chunk_idx"),
        F.least(F.lit(50), F.col("_n") - F.col("_s")).cast("long").alias(
            "n_tokens"
        ),
        F.md5(F.concat_ws(" ", F.slice(F.col("_t"), F.col("_s") + 1, 50))).alias(
            "fp"
        ),
    )


@register(
    "l19_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_DTOKS.format(src=_LOWER_TEXT)}) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
    ), idf AS (
        SELECT term, count(*) AS df FROM tf GROUP BY 1
    ), n AS (
        SELECT count(*) AS n_docs FROM documents
    )
    SELECT doc_id, term, tf, round(tf * ln(n_docs / df), 6) AS tfidf
    FROM tf JOIN idf USING (term) CROSS JOIN n
    QUALIFY row_number() OVER (
        PARTITION BY doc_id ORDER BY tf * ln(n_docs / df) DESC, term
    ) <= 3
    """,
)
def l19_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: top-3 most distinctive terms per document — the classic
    distributed IR aggregation (tokenize → per-doc term counts →
    corpus document frequencies → score → per-doc top-k).

    Scale: two shuffles total — (doc_id, term) partial-agg and the
    term-keyed df agg (whose output is vocabulary-sized, so it
    broadcasts back). The corpus size N attaches as a 1-row broadcast
    scalar (the physical form of an uncorrelated scalar subquery).
    Top-k per doc rides WindowGroupLimit, so only ~3 rows per doc
    survive to the final shuffle. Ranking ties break on the term so
    the top-3 set is engine-independent.
    """
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    idf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.col("tf") * F.log(F.col("n_docs") / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(score.desc(), "term")
    return (
        tf.join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(n))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .select("doc_id", "term", "tf", F.round(score, 6).alias("tfidf"))
    )


@register(
    "l20_label_centroids",
    oracle="""
    WITH e AS (
        SELECT label, unnest(range(len(embedding))) AS pos, embedding
        FROM embeddings
    )
    SELECT label, CAST(pos AS BIGINT) AS pos,
           round(avg(embedding[CAST(pos AS INTEGER) + 1]), 6) AS c_val,
           count(*) AS n_vecs
    FROM e GROUP BY label, pos
    """,
)
def l20_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids, one row per (label, dimension) —
    the building block of IVF coarse quantizers (l13) and k-means-style
    clustering, kept flat so the oracle hash is array-free.

    Scale: posexplode is map-side (64 rows per vector); the single
    shuffle carries (label, pos) partial sums — 10×64 groups regardless
    of corpus size.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", F.col("pos").cast("long").alias("pos"))
        .agg(
            F.round(F.avg("val"), 6).alias("c_val"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )


@register(
    "l21_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE s AS (
        SELECT doc_id, lang,
               list_distinct({_DTOKS.format(src=_LOWER_TEXT)}) AS sh
        FROM documents WHERE doc_id % 5 = 0
    ), p AS (
        SELECT a.doc_id AS src, b.doc_id AS dst
        FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh)) /
              greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) >= 0.35
    ), e AS (
        SELECT src, dst FROM p UNION SELECT dst, src FROM p
    ), r(node, lbl) AS (
        SELECT DISTINCT src, src FROM e
        UNION
        SELECT e.dst, r.lbl FROM r JOIN e ON e.src = r.node
    ), c AS (
        SELECT node AS doc_id, min(lbl) AS component FROM r GROUP BY node
    )
    SELECT doc_id, component,
           count(*) OVER (PARTITION BY component) AS comp_size
    FROM c
    """,
)
def l21_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-AUDIT variant of dedup clustering: all-pairs unigram
    Jaccard edges within a language block, fed through iterative
    min-label connected components. Quadratic within the dominant
    block — use :func:`l22_lsh_dedup_clusters` as the production-scale
    path (LSH candidate edges, never O(n²)); keep this one for sampled
    audits of the LSH path's recall. The pair stage rides
    ngram_jaccard_pairs' hashed payload (exact up to the documented
    within-pair 64-bit collision bound, ~5e-14 per pair; pass
    hashed=False there for a certified-exact string audit).

    Oracle: the same components via a recursive CTE (DuckDB) — label
    enumeration to fixpoint, then min per node. Spark converges in
    O(cluster diameter) supersteps, one node-id shuffle each.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.pmod(F.col("doc_id"), F.lit(5)) == 0
    )
    pairs = ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", k=1,
        threshold=0.35, block_col="lang",
    ).select("id_a", "id_b")
    # footer-stat size hint, ×32 edge bound — see l22's sizing note
    hint = size_hint(docs)
    cc = connected_components(
        pairs, size_hint=32 * hint if hint else None
    )
    return cc.select(
        F.col("node").alias("doc_id"),
        "component",
        F.count(F.lit(1))
        .over(Window.partitionBy("component"))
        .alias("comp_size"),
    )


@register(
    "l22_lsh_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE t AS (
        SELECT doc_id,
               {_DTOKS.format(src=_LOWER_TEXT)} AS toks
        FROM documents
    ), s AS (
        SELECT doc_id, {_DSH3.format(toks='toks')} AS sh FROM t
    ), p AS (
        SELECT a.doc_id AS src, b.doc_id AS dst
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh)) /
              greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) >= 0.35
    ), e AS (
        SELECT src, dst FROM p UNION SELECT dst, src FROM p
    ), r(node, lbl) AS (
        SELECT DISTINCT src, src FROM e
        UNION
        SELECT e.dst, r.lbl FROM r JOIN e ON e.src = r.node
    ), c AS (
        SELECT node AS doc_id, min(lbl) AS component FROM r GROUP BY node
    )
    SELECT doc_id, component,
           count(*) OVER (PARTITION BY component) AS comp_size
    FROM c
    """,
)
def l22_lsh_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-scale dedup-clustering path: MinHash-LSH
    candidate edges (banded equi-join, never O(n²)) verified with
    exact 3-shingle Jaccard, fed through iterative min-label connected
    components — replaces l21's all-pairs-within-block edge source,
    removing the one quadratic stage from the 100 TB dedup pipeline.

    Oracle parity argument: ``verify_threshold`` makes the LSH edge
    set a SUBSET of the oracle's exact all-pairs edge set (every
    surviving candidate has exact Jaccard >= 0.35), so components can
    differ only if LSH misses an edge that was the sole connector of a
    component. With 8 bands of 4 rows the miss probability at the 0.35
    operating point is per-pair small and near-dup clusters are dense
    (multiple redundant edges); on this corpus recall is exactly 1.0
    at sf0.01 and sf0.1 (verified empirically; xxhash64 is
    deterministic, so this holds run-to-run). The recursive CTE
    enumerates labels to fixpoint, then takes min per node.

    Scale: signatures are scan-side expressions; only (band_id,
    band_hash, id) rows shuffle for candidate generation; the CC loop
    shuffles node ids only, localCheckpoint per superstep.
    """
    docs = load_table(spark, sf_dir, "documents")
    # collapse_exact: identical shingle-sets band once and re-attach as
    # star edges — tames duplicate-block bucket skew without changing
    # components (tests/test_llm_ops.py pins the equivalence).
    pairs = minhash_lsh_candidates(
        docs, id_col="doc_id", text_col="text",
        k=3, num_hashes=32, bands=8, verify_threshold=0.35,
        collapse_exact=True,
    ).select("id_a", "id_b")
    # r11: truncate the LSH candidate pipeline out of the CC loop's
    # logical plan. Classic-mode PySpark re-analyzes the full plan on
    # every DataFrame transition, and each fused superstep builds ~7
    # ops over the edge table — whose plan embedded the ENTIRE banded
    # LSH join, so every level re-walked hundreds of nodes driver-side.
    # localCheckpoint(eager) collapses it to an RDD leaf; CC's own
    # repartition+persist below still provides the partitioned cache
    # its level joins reuse. Interleaved A/B: 4.07 -> 3.33 s min at
    # sf0.1, identical components. Applied HERE and not inside
    # connected_components: for edge pipelines with small logical
    # trees (l21/l55's single blocked self-join) the same flip
    # measured flat-to-negative — the extra edge materialization only
    # pays where the truncated subtree is large.
    # r12: eager=False — no separate checkpoint-count job, which
    # removed one synchronous job barrier: interleaved A/B 2.30 ->
    # 2.04 s min at sf0.1, identical 477 components. Construction is
    # NOT job-free: under AQE, building the checkpoint RDD still runs
    # the checkpointed subtree's shuffle stages while the builder runs
    # (13 construction jobs on the perfbench llm_dedup inputs), so
    # plan-only consumers still run the LSH join's stages at build time.
    # The downstream plan hangs off the RDD leaf either way.
    pairs = pairs.localCheckpoint(eager=False)
    # size_hint: corpus row count from the scan's parquet footer
    # metadata (io.size_hint — catalog statistics, no job), ×32 as a
    # generous near-dup-edges-per-doc bound. CC sizes its label loop
    # from it AND skips its edge-count job; the small-regime conf is
    # then already active while the first fused job materializes the
    # LSH candidate pipeline (whose tiny stages pay the same AQE
    # floor). Saturates to session parallelism at warehouse scale.
    hint = size_hint(docs)
    cc = connected_components(
        pairs, size_hint=32 * hint if hint else None
    )
    return cc.select(
        F.col("node").alias("doc_id"),
        "component",
        F.count(F.lit(1))
        .over(Window.partitionBy("component"))
        .alias("comp_size"),
    )


# ---------------------------------------------------------------------------
# Corpus assembly: decontamination, packing, shuffle, mixture
# ---------------------------------------------------------------------------

# DuckDB k-shingle fragment (generalizes _DSH3; parity with
# text.shingles: <k-token docs yield their full-token join). Element
# indexing, not lambda slices — see the _DSH3 O(n²) note.
def _dshk(toks: str, k: int) -> str:
    elems = ", ".join(
        f"{toks}[i+{d}]" if d else f"{toks}[i]" for d in range(k)
    )
    return (
        "list_distinct(list_transform("
        f"range(1, greatest(len({toks}) - {k - 1}, 1) + 1), "
        f"i -> array_to_string(list_filter([{elems}], "
        "x -> x IS NOT NULL), ' ')))"
    )


@register(
    "l24_decontamination",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_DTOKS.format(src='text')} AS toks FROM documents
    ), s AS (
        SELECT doc_id, unnest({_dshk('toks', 5)}) AS shingle FROM t
    ), bench AS (
        SELECT DISTINCT doc_id AS bid, shingle FROM s WHERE doc_id % 97 = 0
    ), corp AS (
        SELECT DISTINCT doc_id, shingle FROM s WHERE doc_id % 97 != 0
    )
    SELECT c.doc_id, CAST(count(DISTINCT b.bid) AS BIGINT) AS n_bench_hits
    FROM corp c JOIN bench b ON c.shingle = b.shingle
    GROUP BY c.doc_id
    """,
)
def l24_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: corpus docs sharing any 5-token
    shingle with the benchmark suite (docs with doc_id % 97 == 0 stand
    in for the eval set) are flagged with how many distinct benchmark
    docs they overlap — the n-gram-overlap rule of pretraining
    decontamination. Equi-join on exploded shingles; at 100 TB the
    tiny benchmark side becomes a bloom filter pushed into the corpus
    scan."""
    from sports_betting_data_pipeline_spark.functions.corpus import (
        decontaminate_hits,
    )

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.pmod("doc_id", F.lit(97)) == 0)
    corpus = docs.filter(F.pmod("doc_id", F.lit(97)) != 0)
    return decontaminate_hits(corpus, bench, k=5)


@register(
    "l25_sequence_packing",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, lang,
               CAST(len(list_filter(string_split_regex(text, '\s+'),
                                    x -> x != '')) AS BIGINT) AS n_tokens
        FROM documents
    ), nz AS (
        SELECT * FROM t WHERE n_tokens > 0
    ), c AS (
        -- DuckDB sum(BIGINT) is HUGEINT (int128); uncast it reaches
        -- pandas as float64 on some DuckDB versions and hash-diverges
        -- from Spark's int64 (driver r2 l25 hash_match:false). CAST
        -- pins every output to BIGINT on every DuckDB version.
        SELECT doc_id, lang, n_tokens,
               CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cum
        FROM nz
    )
    SELECT doc_id, lang, n_tokens,
           CAST((cum - n_tokens) // 512 AS BIGINT) AS start_bin,
           CAST((cum - 1) // 512 AS BIGINT) AS end_bin,
           CAST((cum - n_tokens) % 512 AS BIGINT) AS start_off
    FROM c
    """,
)
def l25_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chop sequence packing into 512-token training
    sequences, sharded by language: per doc, which sequence bins it
    occupies and at what offset (start_bin != end_bin = straddles a
    boundary). One shard-partitioned window cumsum; shards pack in
    parallel, no global sort."""
    from sports_betting_data_pipeline_spark.functions.corpus import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, budget=512, shard_col="lang")


@register(
    "l26_deterministic_shuffle",
    oracle="""
    SELECT doc_id, lang, shuffle_rank FROM (
        SELECT doc_id, lang,
               CAST(row_number() OVER (
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS BIGINT) AS shuffle_rank
        FROM documents
    ) WHERE shuffle_rank <= 100
    """,
)
def l26_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global training order: rank by md5(doc_id) —
    engine-independent, seedless, stable across runs and partitionings
    (md5 agrees byte-for-byte between Spark and DuckDB). Top-100 here
    so the catalog query stays bounded; production writes the full
    order out. The footer row count picks the physical rank strategy
    (global window below one partition's worth of rows, two-phase
    bucketed prefix rank above — identical output either way)."""
    from sports_betting_data_pipeline_spark.functions.corpus import (
        deterministic_shuffle,
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return deterministic_shuffle(docs, n_rows=size_hint(docs)).filter(
        F.col("shuffle_rank") <= 100
    )


@register(
    "l27_temperature_mixture",
    oracle="""
    WITH counts AS (
        SELECT lang, CAST(floor(sqrt(count(*))) AS BIGINT) AS w
        FROM documents GROUP BY lang
    ), q AS (
        SELECT lang, (1000 * w) // (SELECT sum(w) FROM counts) AS quota
        FROM counts
    ), r AS (
        SELECT doc_id, lang,
               CAST(row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS BIGINT) AS rk
        FROM documents
    )
    SELECT r.doc_id, r.lang, r.rk
    FROM r JOIN q ON q.lang = r.lang
    WHERE r.rk <= q.quota
    """,
)
def l27_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling (alpha=0.5): per-language
    quotas proportional to floor(sqrt(count)) — sub-linear weights
    up-weight small languages, the standard multilingual re-balancing.
    Integer-exact quota arithmetic + md5-ordered selection makes the
    EXACT sample set engine-reproducible (no RNG). Quotas broadcast;
    one rank window shuffle."""
    from sports_betting_data_pipeline_spark.functions.corpus import (
        temperature_mixture,
    )

    docs = load_table(spark, sf_dir, "documents")
    return temperature_mixture(docs, group_col="lang", n_target=1000)


@register(
    "l28_incremental_exact_dedupe",
    oracle=r"""
    WITH n AS (
        SELECT doc_id,
               md5(trim(regexp_replace(""" + _lower_sql("text") + r""", '\s+', ' ', 'g'))) AS fp
        FROM documents
    ), hist AS (
        SELECT DISTINCT fp FROM n WHERE doc_id % 10 != 9
    ), b AS (
        SELECT doc_id, fp FROM n WHERE doc_id % 10 = 9
    )
    -- NOT EXISTS + IS NOT DISTINCT FROM, not NOT IN: NULL
    -- fingerprints (NULL text) are one dedup class that must match
    -- history null-safely, and NOT IN over a set containing NULL
    -- returns zero rows for EVERY probe (fuzz_oracle nulls variant)
    SELECT min(doc_id) AS doc_id, fp
    FROM b WHERE NOT EXISTS (
        SELECT 1 FROM hist WHERE hist.fp IS NOT DISTINCT FROM b.fp
    )
    GROUP BY fp
    """,
)
def l28_incremental_exact_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time exact dedup: docs with ``doc_id % 10 = 9`` stand in
    for the NEW batch, the rest for the historical corpus; survivors
    are batch docs whose normalized-text md5 is unseen in history,
    canonicalized within the batch (min id per fingerprint). At scale
    the history side is the persisted fingerprint store, not a corpus
    scan (see functions/corpus.incremental_exact_dedupe)."""
    from sports_betting_data_pipeline_spark.functions.corpus import (
        incremental_exact_dedupe,
    )

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 9)
    history = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) != 9)
    return incremental_exact_dedupe(batch, history)


@register(
    "l29_source_mixture_plan",
    oracle=r"""
    WITH n AS (
        SELECT source,
               len(list_filter(string_split_regex(text, '\s+'), t -> t != ''))
                   AS ntok,
               md5(trim(regexp_replace(""" + _lower_sql("text") + r""", '\s+', ' ', 'g'))) AS fp
        FROM documents
    ), g AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(ntok) AS BIGINT) AS tot_tokens,
               CAST(count(DISTINCT fp) AS BIGINT) AS n_uniq
        FROM n GROUP BY source
    ), w AS (
        SELECT *, CAST(floor(sqrt(n_docs)) AS BIGINT) AS _w FROM g
    )
    SELECT source, n_docs, tot_tokens, n_uniq,
           round(1 - n_uniq / CAST(n_docs AS DOUBLE), 6) AS dup_rate,
           CAST((100 * _w) // (SELECT sum(_w) FROM w) AS BIGINT) AS quota
    FROM w
    """,
)
def l29_source_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile + mixture plan: doc/token counts,
    exact-dup rate (1 - distinct fingerprints / docs), and the
    alpha=0.5 temperature quota (floor(sqrt(n)) weights, integer-exact
    division — the l27 arithmetic) — the planning table a pretraining
    mixture is built from. One partial-agg shuffle over (source); the
    total-weight scalar is a 1-row broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    base = docs.select(
        "source",
        ws_token_count(F.col("text")).alias("_ntok"),
        F.md5(norm).alias("_fp"),
    )
    g = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_ntok").cast("long").alias("tot_tokens"),
        F.countDistinct("_fp").cast("long").alias("n_uniq"),
    )
    w = g.withColumn("_w", F.floor(F.sqrt(F.col("n_docs"))).cast("long"))
    tw = w.agg(F.sum("_w").alias("_tw"))
    return w.crossJoin(F.broadcast(tw)).select(
        "source",
        "n_docs",
        "tot_tokens",
        "n_uniq",
        F.round(F.lit(1.0) - F.col("n_uniq") / F.col("n_docs"), 6).alias(
            "dup_rate"
        ),
        F.expr("(100 * _w) div _tw").cast("long").alias("quota"),
    )


@register(
    "l30_incremental_neardup",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_DTOKS.format(src=_LOWER_TEXT)} AS toks
        FROM documents
    ), s AS (
        SELECT doc_id, {_DSH3.format(toks='toks')} AS sh FROM t
    ), p AS (
        SELECT ia, ib FROM (
            SELECT a.doc_id AS ia, b.doc_id AS ib,
                   round(len(list_intersect(a.sh, b.sh)) /
                         greatest(len(list_distinct(list_concat(a.sh, b.sh))),
                                  1), 6) AS j
            FROM s a JOIN s b ON a.doc_id < b.doc_id
        ) WHERE j >= 0.35
    ), dropped AS (
        SELECT ia AS did FROM p WHERE ia % 10 = 9 AND ib % 10 != 9
        UNION
        SELECT ib AS did FROM p WHERE ib % 10 = 9
    )
    SELECT doc_id, source, n_chars
    FROM documents
    WHERE doc_id % 10 = 9 AND doc_id NOT IN (SELECT did FROM dropped)
    """,
)
def l30_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time NEAR-dup filter: batch docs (doc_id % 10 = 9) that
    survive MinHash-LSH dedup against the historical store and against
    earlier batch docs (first-seen-wins, the batch analog of st09).
    Candidate generation is the batch-buckets x store-buckets equi-join
    — the persisted-LSH-index ingest pattern, never O(n²).

    Oracle parity argument (as l08/l22): verified pairs are a SUBSET
    of exact all-pairs Jaccard >= 0.35; LSH recall on this corpus is
    exactly 1.0 (deterministic xxhash64), so the surviving set
    coincides with the oracle's rule over exact pairs."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 9)
    store = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) != 9)
    out = incremental_neardup_novel(
        batch, store, id_col="doc_id", text_col="text",
        k=3, num_hashes=32, bands=8, threshold=0.35,
    )
    return out.select("doc_id", "source", "n_chars")


@register(
    "l31_chunk_dedup",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_DTOKS.format(src='text')} AS toks FROM documents
    ), nz AS (
        SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
    ), inst AS (
        SELECT doc_id,
               unnest(range(0, CAST(ceil(n / 20.0) AS BIGINT))) AS chunk_idx,
               toks
        FROM nz
    ), hashed AS (
        SELECT doc_id, chunk_idx,
               md5(array_to_string(toks[chunk_idx*20+1 : chunk_idx*20+20], ' ')) AS h
        FROM inst
    ), firsts AS (
        SELECT h, min(struct_pack(d := doc_id, i := chunk_idx)) AS f
        FROM hashed GROUP BY h
    ), flagged AS (
        SELECT hashed.doc_id,
               CASE WHEN f.d != hashed.doc_id OR f.i != hashed.chunk_idx
                    THEN 1 ELSE 0 END AS dup
        FROM hashed JOIN firsts ON hashed.h = firsts.h
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(dup) AS BIGINT) AS n_dup_chunks,
           round(sum(dup) / count(*), 6) AS dup_ratio
    FROM flagged GROUP BY doc_id
    """,
)
def l31_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-chunk exact dedup (MassiveText/RefinedWeb line-level
    dedup, adapted to fixed 20-token windows — the fixture corpus has
    no line structure): per doc, how many of its chunks already
    occurred earlier in the corpus ((doc_id, chunk_idx) order).
    First occurrence per hash is a partial-aggregable MIN over
    instance structs, not a window — hot boilerplate chunks combine
    map-side instead of creating a straggler partition."""
    from sports_betting_data_pipeline_spark.functions.corpus import (
        chunk_dedup_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    return chunk_dedup_stats(docs, chunk_tokens=20)


@register(
    "l32_ann_pq",
    oracle="""
    WITH c AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cb AS (  -- codebook: subspace s centroid j = first-16-by-id vectors
        SELECT s.s, e.j, e.v[s.s*8+1 : s.s*8+8] AS cvec
        FROM (SELECT unnest(range(0, 8)) AS s) s,
             (SELECT v, row_number() OVER (ORDER BY vec_id) - 1 AS j
              FROM c ORDER BY vec_id LIMIT 16) e
    ), dists AS (  -- every vector x subspace x centroid distance
        SELECT c.vec_id, cb.s, cb.j,
               list_sum(list_transform(range(1, 9),
                   p -> (c.v[cb.s*8+p] - cb.cvec[p]) * (c.v[cb.s*8+p] - cb.cvec[p])
               )) AS d2
        FROM c, cb
    ), enc AS (  -- PQ code: argmin centroid per (vector, subspace)
        SELECT vec_id, s, j AS code, d2,
               row_number() OVER (PARTITION BY vec_id, s
                                  ORDER BY d2, j) AS rn
        FROM dists
    ), codes AS (
        SELECT vec_id, s, code FROM enc WHERE rn = 1
    ), qtab AS (  -- query ADC table: query x subspace x centroid
        SELECT d.vec_id AS query_id, d.s, d.j AS code, d.d2
        FROM dists d WHERE d.vec_id < 10
    ), adc AS (  -- fixed-s-order sum so float addition matches Spark
        SELECT q.query_id, codes.vec_id,
               sum(CASE WHEN codes.s = 0 THEN q.d2 END) +
               sum(CASE WHEN codes.s = 1 THEN q.d2 END) +
               sum(CASE WHEN codes.s = 2 THEN q.d2 END) +
               sum(CASE WHEN codes.s = 3 THEN q.d2 END) +
               sum(CASE WHEN codes.s = 4 THEN q.d2 END) +
               sum(CASE WHEN codes.s = 5 THEN q.d2 END) +
               sum(CASE WHEN codes.s = 6 THEN q.d2 END) +
               sum(CASE WHEN codes.s = 7 THEN q.d2 END) AS total
        FROM codes JOIN qtab q ON q.s = codes.s AND q.code = codes.code
        GROUP BY q.query_id, codes.vec_id
    ), cand AS (  -- ADC retrieval: top-100 candidates per query
        SELECT query_id, vec_id
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY round(total, 6), vec_id) AS rnk
              FROM adc)
        WHERE rnk <= 100
    ), rer AS (  -- exact-L2 re-rank of ONLY the candidates
        SELECT cand.query_id, cand.vec_id,
               round(list_sum(list_transform(range(1, 65),
                   p -> (cv.v[p] - qv.v[p]) * (cv.v[p] - qv.v[p])
               )), 6) AS l2_d2
        FROM cand
        JOIN c cv ON cv.vec_id = cand.vec_id
        JOIN c qv ON qv.vec_id = cand.query_id
    )
    SELECT query_id, vec_id, l2_d2, CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY l2_d2, vec_id) AS rnk
          FROM rer)
    WHERE rnk <= 10
    """,
)
def l32_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN, the full two-stage production shape:
    corpus vectors compress to m=8 codes (the narrow table a 100 TB
    index actually stores); ADC retrieval is an equi-join of the code
    table against broadcast per-query centroid-distance tables with a
    fixed-order subspace sum (float addition does not commute — an
    orderless SUM would hash-diverge); the top-100 candidates then
    exact-L2 re-rank to top-10 (recall@10 0.36 ADC-only -> 0.90
    re-ranked, pinned in tests). No cross join; real vectors are
    touched only for candidates*n_queries rows. Deterministic first-16
    codebook (l13's quantizer trick per-subspace) makes the whole
    pipeline hash-checkable; production swaps per-subspace k-means
    (kmeans_centroids) for the codebook."""
    from sports_betting_data_pipeline_spark.functions.similarity import (
        pq_codebook,
        pq_topk_reranked,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    codebook = pq_codebook(emb, m=8, k_codes=16, dim=64)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return pq_topk_reranked(emb, queries, codebook, k=10, candidates=100, m=8, dsub=8)


@register(
    "m03_audio_roundtrip",
    oracle="""
    -- NULL n_chars: nothing to synthesize, so EVERY decoded field is
    -- unknown — including the otherwise-constant channel count and
    -- sample rate (fuzz_oracle nulls variant)
    SELECT doc_id AS asset_id,
           CASE WHEN n_chars IS NULL THEN NULL
                ELSE CAST(1 AS BIGINT) END AS n_channels,
           CASE WHEN n_chars IS NULL THEN NULL
                ELSE CAST(8000 AS BIGINT) END AS sample_rate,
           CAST(n_chars % 50 + 10 AS BIGINT) AS n_frames,
           CASE WHEN n_chars IS NULL THEN NULL
                ELSE round(CAST(doc_id % 100 + 1 AS DOUBLE), 6) END AS rms
    FROM documents
    """,
)
def m03_audio_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-codec multimodal roundtrip: per document, synthesize a
    deterministic mono 16-bit WAV (stdlib wave writer) and decode it
    back with functions/multimodal.decode_audio_wav inside one Arrow
    mapInPandas pass. Constant-amplitude signals make every decoded
    field an exact arithmetic function of (doc_id, n_chars), so a real
    binary encode->decode pass hash-checks against plain SQL."""
    from sports_betting_data_pipeline_spark.functions.multimodal import (
        audio_roundtrip_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    return audio_roundtrip_features(docs).withColumn(
        "rms", F.round("rms", 6)
    )


@register(
    "m04_image_roundtrip",
    oracle="""
    -- NULL n_chars: no height → no BMP → every decoded field unknown,
    -- including the doc_id-derived width (fuzz_oracle nulls variant)
    SELECT doc_id AS asset_id,
           CASE WHEN n_chars IS NULL THEN NULL
                ELSE CAST(doc_id % 6 + 2 AS BIGINT) END AS width,
           CAST(n_chars % 5 + 2 AS BIGINT) AS height,
           round(((doc_id % 256) + ((doc_id * 7) % 256)
                  + ((n_chars * 13) % 256)) / 3.0, 6) AS px_mean
    FROM documents
    """,
)
def m04_image_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-codec IMAGE roundtrip with zero optional dependencies: per
    document, synthesize a solid-color uncompressed 24-bit BMP with
    the stdlib codec (functions/multimodal.encode_bmp24) and decode it
    back through decode_image's BMP path inside one Arrow mapInPandas
    pass. Solid color makes px_mean exactly (b+g+r)/3 in IEEE double,
    so the real encode->bytes->decode pass hash-checks against plain
    SQL; NotImplementedError is now reserved for JPEG/PNG-without-PIL
    and video only (VERDICT r3 next-#8)."""
    from sports_betting_data_pipeline_spark.functions.multimodal import (
        image_roundtrip_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    return image_roundtrip_features(docs).withColumn(
        "px_mean", F.round("px_mean", 6)
    )


@register(
    "l33_token_budget",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_DTOKS.format(src='text')} AS toks FROM documents
    ), feats AS (
        SELECT doc_id,
               len(toks) AS n,
               list_sum(list_transform(toks, x -> length(x))) / greatest(len(toks), 1) AS mtl,
               len(list_filter(toks, x -> list_contains({STOPWORDS!r}, lower(x)))) / greatest(len(toks), 1) AS sw,
               len(list_distinct(toks)) / greatest(len(toks), 1) AS uniq
        FROM t
    ), scored AS (
        SELECT doc_id,
               round((
                 (CASE WHEN n >= 10 AND n <= 100000 THEN 1.0 ELSE 0.0 END) +
                 (CASE WHEN mtl >= 2.0 AND mtl <= 12.0 THEN 1.0 ELSE 0.0 END) +
                 (CASE WHEN sw >= 0.05 THEN 1.0 ELSE 0.0 END) +
                 uniq) / 4.0, 6) AS quality,
               CAST(n AS BIGINT) AS n_tokens
        FROM feats
    ), cum AS (
        SELECT doc_id, quality, n_tokens,
               CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
                                        ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cum_tokens
        FROM scored
    )
    SELECT doc_id, quality, n_tokens, cum_tokens
    FROM cum WHERE cum_tokens <= 8000
    """,
)
def l33_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy quality-first selection under a token budget: rank by
    (rounded quality desc, doc_id), keep while the running token total
    stays within 8000 — curated-subset construction. Quality rounds
    BEFORE ranking so the cut boundary is engine-identical. The plan
    is the two-phase distributed prefix sum (per-quality aggregate
    cumsum broadcast back onto per-quality windows over the budget
    frontier only) — no global single-partition window over the
    corpus; see token_budget_selection."""
    from sports_betting_data_pipeline_spark.functions.corpus import (
        token_budget_selection,
    )

    docs = load_table(spark, sf_dir, "documents")
    return token_budget_selection(docs, budget=8000)


@register(
    "pl02_corpus_assembly",
    oracle=f"""
    WITH toks_t AS (
        SELECT doc_id, lang, text, {_DTOKS.format(src='text')} AS toks
        FROM documents
    ),
    -- stage 1: eval-set decontamination (l24 rule, 5-gram overlap)
    sh AS (
        SELECT doc_id, unnest({_dshk('toks', 5)}) AS shingle FROM toks_t
    ), bench AS (
        SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
    ), contaminated AS (
        SELECT DISTINCT s.doc_id FROM sh s JOIN bench b ON s.shingle = b.shingle
        WHERE s.doc_id % 97 != 0
    ), clean AS (
        SELECT * FROM toks_t
        WHERE doc_id % 97 != 0
          AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    -- stage 2: repeated-chunk dedup (l31 rule over the survivors)
    inst AS (
        SELECT doc_id,
               unnest(range(0, CAST(ceil(len(toks) / 20.0) AS BIGINT))) AS ci,
               toks
        FROM clean WHERE len(toks) > 0
    ), hashed AS (
        SELECT doc_id, ci,
               md5(array_to_string(toks[ci*20+1 : ci*20+20], ' ')) AS h
        FROM inst
    ), firsts AS (
        SELECT h, min(struct_pack(d := doc_id, i := ci)) AS f
        FROM hashed GROUP BY h
    ), dupstats AS (
        SELECT hashed.doc_id,
               sum(CASE WHEN f.d != hashed.doc_id OR f.i != hashed.ci
                        THEN 1 ELSE 0 END) / count(*) AS dup_ratio
        FROM hashed JOIN firsts ON hashed.h = firsts.h
        GROUP BY hashed.doc_id
    ), deduped AS (
        SELECT c.* FROM clean c JOIN dupstats d ON c.doc_id = d.doc_id
        WHERE d.dup_ratio <= 0.2
    ),
    -- stage 3: quality filter (l04 heuristic, rounded)
    feats AS (
        SELECT doc_id, lang, toks,
               len(toks) AS n,
               list_sum(list_transform(toks, x -> length(x))) / greatest(len(toks), 1) AS mtl,
               len(list_filter(toks, x -> list_contains({STOPWORDS!r}, lower(x)))) / greatest(len(toks), 1) AS sw,
               len(list_distinct(toks)) / greatest(len(toks), 1) AS uniq
        FROM deduped
    ), quality AS (
        SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
               round((
                 (CASE WHEN n >= 10 AND n <= 100000 THEN 1.0 ELSE 0.0 END) +
                 (CASE WHEN mtl >= 2.0 AND mtl <= 12.0 THEN 1.0 ELSE 0.0 END) +
                 (CASE WHEN sw >= 0.05 THEN 1.0 ELSE 0.0 END) +
                 uniq) / 4.0, 6) AS q
        FROM feats
    ), good AS (
        SELECT * FROM quality WHERE q >= 0.5
    ),
    -- stage 4: temperature mixture by language (l27 rule, n_target=300)
    counts AS (
        SELECT lang, CAST(floor(sqrt(count(*))) AS BIGINT) AS w
        FROM good GROUP BY lang
    ), quotas AS (
        SELECT lang, (300 * w) // (SELECT sum(w) FROM counts) AS quota
        FROM counts
    ), ranked AS (
        SELECT g.*, CAST(row_number() OVER (
                   PARTITION BY g.lang
                   ORDER BY md5(CAST(g.doc_id AS VARCHAR)), g.doc_id
               ) AS BIGINT) AS rk
        FROM good g
    ), mixed AS (
        SELECT r.* FROM ranked r JOIN quotas q ON q.lang = r.lang
        WHERE r.rk <= q.quota
    ),
    -- stage 5: sequence packing (l25 rule, 512-token bins per lang)
    packed AS (
        SELECT doc_id, lang, rk, n_tokens,
               CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cum
        FROM mixed WHERE n_tokens > 0
    )
    SELECT doc_id, lang, rk, n_tokens,
           CAST((cum - n_tokens) // 512 AS BIGINT) AS start_bin,
           CAST((cum - 1) // 512 AS BIGINT) AS end_bin,
           CAST((cum - n_tokens) % 512 AS BIGINT) AS start_off
    FROM packed
    """,
)
def pl02_corpus_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-assembly pipeline, composed from proven
    stages: eval-set decontamination (l24) -> repeated-chunk dedup,
    dup_ratio <= 0.2 (l31) -> quality filter >= 0.5 (l04) ->
    language temperature mixture, n_target=300 (l27) -> 512-token
    sequence packing (l25). Every stage is deterministic and
    engine-reproducible, so the COMPOSITION hash-checks end-to-end —
    the integration guarantee on top of the per-stage oracles.

    Scale: stages chain shuffle-bounded plans (shingle equi-join,
    chunk-hash min-agg, per-lang windows); nothing quadratic, no
    global sort."""
    from sports_betting_data_pipeline_spark.functions.corpus import (
        chunk_dedup_stats,
        decontaminate_hits,
        pack_sequences,
        temperature_mixture,
    )
    from sports_betting_data_pipeline_spark.functions.text import (
        quality_score,
        ws_tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    # NOT a shared cached token base: caching (doc_id, lang, toks) and
    # feeding every stage from it was built and MEASURED SLOWER than
    # re-tokenizing per stage (r7 interleaved A/B: 4.4 s vs 3.9 s cold
    # at sf0.1) — the cache materializes corpus-width token arrays and
    # the stages' real cost is their shingle/chunk joins, not the
    # tokenize pass. The tokens_col/shingles_from_tokens seams remain
    # (parity-pinned) for corpora where tokenization IS the bottleneck.
    bench = docs.filter(F.pmod("doc_id", F.lit(97)) == 0)
    corpus = docs.filter(F.pmod("doc_id", F.lit(97)) != 0)
    hits = decontaminate_hits(corpus, bench, k=5)
    # `clean` feeds two consumers (chunk_dedup_stats and the survivor
    # join below) with NO explicit barrier — the third rejected pl02
    # sharing lever (SCALE.md r8): caching `hits` degraded the
    # anti-join plan (r7), a shared token base measured slower (r7),
    # and an explicit repartition barrier (on `clean` OR on the tiny
    # hits side) measured +0.03..0.16 s in an interleaved 3-way A/B —
    # AQE's runtime stage reuse already collapses the expensive
    # shingle stages across both consumers, so the barrier only adds
    # a corpus-width shuffle.
    clean = corpus.join(hits.select("doc_id"), on="doc_id", how="left_anti")
    dupok = chunk_dedup_stats(clean, chunk_tokens=20).filter(
        F.col("dup_ratio") <= 0.2
    )
    deduped = clean.join(dupok.select("doc_id"), on="doc_id")
    # good feeds three consumers (mixture fit, selection join, packing)
    # and mixed two. r11: localCheckpoint(eager) instead of cache() —
    # same narrow (doc_id, lang, n_tokens) materialization (the
    # cache-narrow-reductions rule, SCALE.md r6), but the downstream
    # plan now hangs off an RDD-scan LEAF instead of re-embedding the
    # whole decontam/chunk-dedup logical tree. Classic-mode PySpark
    # re-analyzes the FULL logical plan on every DataFrame transition,
    # so the five stage-4/5 ops each re-walked the 1300-node pl02 tree:
    # construction alone was 1.0-1.5 s of pl02's ~4 s wall
    # (cProfile: Dataset.join 0.32 s, select 0.29 s, mixture 0.28 s).
    # Truncating at the two materialization points cut an interleaved
    # A/B from 4.46 to 2.88 s min at sf0.1 with identical rows; the
    # recompute-on-failure durability tradeoff matches the CC loop's
    # documented localCheckpoint use.
    # r12: eager=False — no separate checkpoint-count jobs, which
    # removed two synchronous job barriers: interleaved A/B 2.32 ->
    # 1.83 s min at sf0.1, identical 296 rows. Construction is NOT
    # job-free: under AQE, building each checkpoint RDD still runs the
    # checkpointed subtree's shuffle stages while the builder runs (15
    # construction jobs on the perfbench llm_dedup inputs), so
    # plan-only consumers still run the decontam pipeline's stages at
    # build time. The downstream plan hangs off the RDD leaves either way.
    good = (
        deduped.filter(F.round(quality_score(F.col("text")), 6) >= 0.5)
        .select(
            "doc_id",
            "lang",
            F.size(ws_tokens("text")).cast("long").alias("n_tokens"),
        )
        .localCheckpoint(eager=False)
    )
    mixed = temperature_mixture(
        good, group_col="lang", n_target=300
    ).localCheckpoint(eager=False)
    # mixed is <= n_target rows BY CONSTRUCTION (the per-lang quotas
    # sum to <= 300 at any corpus size), so broadcasting it is
    # scale-safe and removes the SortMergeJoin exchanges+sorts the
    # planner picked for the two tiny joins (guide §3.1; A/B 2.88 ->
    # 2.53 s min on top of the checkpoint truncation).
    sel = good.join(F.broadcast(mixed.select("doc_id", "rk")), on="doc_id")
    packed = pack_sequences(
        sel, budget=512, shard_col="lang", n_tokens_col="n_tokens"
    )
    return packed.join(
        F.broadcast(mixed.select("doc_id", "rk")), on="doc_id"
    ).select(
        "doc_id", "lang", "rk", "n_tokens", "start_bin", "end_bin", "start_off"
    )


@register(
    "l34_unigram_surprisal",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_DTOKS.format(src=_LOWER_TEXT)}) AS w
        FROM documents
    ), counts AS (
        SELECT w, count(*) AS c FROM toks GROUP BY w
    ), total AS (
        SELECT count(*) AS n FROM toks
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(-ln(c.c / total.n)), 4) AS mean_surprisal
    FROM toks t JOIN counts c ON t.w = c.w, total
    GROUP BY t.doc_id
    """,
)
def l34_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style filtering with a corpus-trained unigram LM
    (the CCNet-shaped step, LM = corpus unigram frequencies): per-doc
    mean -ln p(token). Training is one word-count aggregate; scoring
    is an explode + broadcast frequency join + per-doc average —
    no Python, never quadratic. Rounded to 4dp so libm ln()
    last-bit differences between engines cannot surface."""
    from sports_betting_data_pipeline_spark.functions.text import (
        unigram_surprisal,
    )

    docs = load_table(spark, sf_dir, "documents")
    return unigram_surprisal(docs)


_BM25_TERMS = ["table", "spark", "stream"]


@register(
    "l35_bm25_topk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_DTOKS.format(src=_LOWER_TEXT)}) AS w
        FROM documents
    ), lens AS (
        SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id
    ), stats AS (
        SELECT count(*) AS n_docs, avg(len) AS avg_len FROM lens
    ), tf AS (
        SELECT doc_id, w, count(*) AS tf FROM toks
        WHERE w IN ('table', 'spark', 'stream')
        GROUP BY doc_id, w
    ), dft AS (
        SELECT w, count(*) AS df FROM tf GROUP BY w
    ), scored AS (
        SELECT tf.doc_id,
               round(sum(
                   ln((stats.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1.0)
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * lens.len / stats.avg_len))
               ), 4) AS score
        FROM tf
        JOIN dft ON tf.w = dft.w
        JOIN lens ON tf.doc_id = lens.doc_id, stats
        GROUP BY tf.doc_id
    )
    SELECT doc_id, score, CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
          FROM scored)
    WHERE rnk <= 20
    """,
)
def l35_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking against a fixed query-term bag — the
    retrieval scorer for corpus search and targeted upsampling. tf via
    filtered explode, df/N/avg_len as broadcast scalars, one top-k
    window; only docs containing a query term are scored."""
    from sports_betting_data_pipeline_spark.functions.text import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_TERMS, k=20)


@register(
    "l36_ann_ivfpq",
    oracle="""
    WITH c AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cents AS (
        SELECT vec_id AS cent_id, v AS cv FROM c WHERE vec_id < 8
    ), assigned AS (
        SELECT vec_id, cent_id FROM (
            SELECT c.vec_id, ct.cent_id,
                   row_number() OVER (
                       PARTITION BY c.vec_id
                       ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cent_id
                   ) AS rn
            FROM c CROSS JOIN cents ct
        ) WHERE rn = 1
    ), probes AS (
        SELECT query_id, cent_id FROM (
            SELECT q.vec_id AS query_id, ct.cent_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(q.v, ct.cv) DESC, ct.cent_id
                   ) AS rn
            FROM c q CROSS JOIN cents ct WHERE q.vec_id < 10
        ) WHERE rn <= 3
    ), cb AS (
        SELECT s.s, e.j, e.v[s.s*8+1 : s.s*8+8] AS cvec
        FROM (SELECT unnest(range(0, 8)) AS s) s,
             (SELECT v, row_number() OVER (ORDER BY vec_id) - 1 AS j
              FROM c ORDER BY vec_id LIMIT 16) e
    ), dists AS (
        SELECT c.vec_id, cb.s, cb.j,
               list_sum(list_transform(range(1, 9),
                   p -> (c.v[cb.s*8+p] - cb.cvec[p]) * (c.v[cb.s*8+p] - cb.cvec[p])
               )) AS d2
        FROM c, cb
    ), codes AS (
        SELECT vec_id, s, j AS code FROM (
            SELECT vec_id, s, j, row_number() OVER (
                PARTITION BY vec_id, s ORDER BY d2, j) AS rn
            FROM dists
        ) WHERE rn = 1
    ), qtab AS (
        SELECT d.vec_id AS query_id, d.s, d.j AS code, d.d2
        FROM dists d WHERE d.vec_id < 10
    ), adc AS (
        SELECT q.query_id, codes.vec_id,
               sum(CASE WHEN codes.s = 0 THEN q.d2 END) +
               sum(CASE WHEN codes.s = 1 THEN q.d2 END) +
               sum(CASE WHEN codes.s = 2 THEN q.d2 END) +
               sum(CASE WHEN codes.s = 3 THEN q.d2 END) +
               sum(CASE WHEN codes.s = 4 THEN q.d2 END) +
               sum(CASE WHEN codes.s = 5 THEN q.d2 END) +
               sum(CASE WHEN codes.s = 6 THEN q.d2 END) +
               sum(CASE WHEN codes.s = 7 THEN q.d2 END) AS total
        FROM codes
        JOIN assigned a ON a.vec_id = codes.vec_id
        JOIN probes p ON p.cent_id = a.cent_id
        JOIN qtab q ON q.query_id = p.query_id
                   AND q.s = codes.s AND q.code = codes.code
        GROUP BY q.query_id, codes.vec_id
    ), cand AS (
        SELECT query_id, vec_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY round(total, 6), vec_id) AS rnk
            FROM adc
        ) WHERE rnk <= 50
    ), rer AS (
        SELECT cand.query_id, cand.vec_id,
               round(list_sum(list_transform(range(1, 65),
                   p -> (cv.v[p] - qv.v[p]) * (cv.v[p] - qv.v[p])
               )), 6) AS l2_d2
        FROM cand
        JOIN c cv ON cv.vec_id = cand.vec_id
        JOIN c qv ON qv.vec_id = cand.query_id
    )
    SELECT query_id, vec_id, l2_d2, CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY l2_d2, vec_id) AS rnk
          FROM rer)
    WHERE rnk <= 10
    """,
)
def l36_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ, the billion-vector index composition: coarse cells
    prune to ~nprobe/C of the corpus, global-codebook PQ codes (IVFPQ
    by_residual=false) compress what remains, ADC scores only codes
    in probed cells, exact L2 re-ranks the top-50. Every stage is the
    deterministic variant of its production form (first-8 cells,
    first-16 codebook — swap kmeans_centroids for both in prod), so
    the full composition hash-checks. Recall vs exact is pinned in
    tests/test_llm_ops.py."""
    from sports_betting_data_pipeline_spark.functions.similarity import (
        ivfpq_topk,
        pq_codebook,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    codebook = pq_codebook(emb, m=8, k_codes=16, dim=64)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivfpq_topk(
        emb, queries, codebook, n_centroids=8, nprobe=3, candidates=50, k=10
    )


_CMS_ORACLE = f"""
    WITH tok AS (
        SELECT unnest({_DTOKS.format(src=_LOWER_TEXT)}) AS word FROM documents
    ),
    exact AS (
        SELECT word, count(*) AS exact_count FROM tok GROUP BY word
    ),
    hashed AS (
        SELECT word, exact_count, d,
               substr(md5(word || '#' || CAST(d AS VARCHAR)), 1, 2) AS bucket
        FROM exact, (SELECT unnest([0, 1, 2, 3]) AS d) dd
    ),
    cms AS (
        SELECT d, bucket, CAST(sum(exact_count) AS BIGINT) AS bucket_total
        FROM hashed GROUP BY d, bucket
    ),
    top AS (
        SELECT word, exact_count FROM exact
        ORDER BY exact_count DESC, word LIMIT 20
    )
    SELECT t.word, t.exact_count,
           min(c.bucket_total) AS cms_estimate,
           min(c.bucket_total) - t.exact_count AS overcount
    FROM top t
    JOIN hashed h ON t.word = h.word
    JOIN cms c ON h.d = c.d AND h.bucket = c.bucket
    GROUP BY t.word, t.exact_count
    ORDER BY t.exact_count DESC, t.word
"""


@register("l37_cms_heavy_hitters", oracle=_CMS_ORACLE)
def l37_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters: a d=4 x w=256 CMS over the
    corpus token stream, queried for the top-20 words — estimate =
    min over the 4 hash rows of the hashed-bucket totals, never an
    undercount (the one-sided CMS error contract; ``overcount`` shows
    the collision inflation directly). Hashing is md5-based and
    dialect-shared, so the whole sketch is deterministic and the driver
    hash-checks estimates exactly.

    Scale: THE sketch for streaming/distributed frequency at 100 TB —
    the table is d*w counters regardless of corpus size, mergeable by
    cell-wise + (each executor sketches its split, the driver merges).
    Here the cells are built from the per-word partial counts (sum
    commutes with bucketing, so sketching counts equals sketching the
    raw stream), the cms table is 1024 rows -> broadcast, and the
    top-20 probe is a TakeOrderedAndProject. The exact counts exist
    only to exhibit the error bound; a pure-sketch deployment drops
    that branch and the word shuffle with it.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(ws_tokens(F.lower(F.col("text")))).alias("word"))
    exact = tok.groupBy("word").agg(F.count(F.lit(1)).alias("exact_count"))
    hashed = exact.select(
        "word",
        "exact_count",
        F.explode(F.array([F.lit(i) for i in range(4)])).alias("d"),
    ).withColumn(
        "bucket",
        F.substring(
            F.md5(F.concat(F.col("word"), F.lit("#"), F.col("d").cast("string"))),
            1,
            2,
        ),
    )
    cms = hashed.groupBy("d", "bucket").agg(
        F.sum("exact_count").alias("bucket_total")
    )
    top = exact.orderBy(F.desc("exact_count"), "word").limit(20)
    return (
        top.join(hashed.select("word", "d", "bucket"), "word")
        .join(F.broadcast(cms), ["d", "bucket"])
        .groupBy("word", "exact_count")
        .agg(F.min("bucket_total").alias("cms_estimate"))
        .select(
            "word",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).alias("overcount"),
        )
        .orderBy(F.desc("exact_count"), "word")
    )


@register(
    "l38_semdedup",
    oracle="""
    WITH corpus0 AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    planted AS (
        SELECT vec_id + 10000000 AS vec_id,
               (list_transform(range(1, 65),
                    j -> CASE WHEN j = 1 THEN v[1] + 0.01 ELSE v[j] END
                )::FLOAT[])::DOUBLE[] AS v
        FROM corpus0 WHERE vec_id % 100 = 0
    ),
    corpus AS (
        SELECT vec_id, v FROM corpus0
        UNION ALL SELECT vec_id, v FROM planted
    ),
    cents AS (
        SELECT vec_id AS cent_id, v AS cv FROM corpus0 WHERE vec_id < 8
    ),
    assigned AS (
        SELECT vec_id, cent_id, v FROM (
            SELECT c.vec_id, ct.cent_id, c.v,
                   row_number() OVER (
                       PARTITION BY c.vec_id
                       ORDER BY list_cosine_similarity(c.v, ct.cv) DESC,
                                ct.cent_id
                   ) AS rn
            FROM corpus c CROSS JOIN cents ct
        ) WHERE rn = 1
    ),
    pairs AS (
        SELECT a.cent_id, a.vec_id AS a_id, b.vec_id AS b_id
        FROM assigned a JOIN assigned b
          ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) >= 0.99
    ),
    drops AS (
        SELECT cent_id,
               count(*) AS n_dup_pairs,
               count(DISTINCT b_id) AS n_dropped
        FROM pairs GROUP BY cent_id
    )
    SELECT a.cent_id AS cluster_id,
           count(*) AS n_vectors,
           CAST(coalesce(max(d.n_dup_pairs), 0) AS BIGINT) AS n_dup_pairs,
           CAST(coalesce(max(d.n_dropped), 0) AS BIGINT) AS n_dropped
    FROM assigned a LEFT JOIN drops d ON a.cent_id = d.cent_id
    GROUP BY a.cent_id
    ORDER BY cluster_id
    """,
)
def l38_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (cluster, then near-dup search
    only WITHIN clusters — functions/similarity.semdedup). The fixture
    embeddings are near-orthogonal, so l12's planted perturbed copies
    (every 100th vector, +0.01 on dim 0, float32-cast on both engines
    for bit parity) are unioned in; each lands in its original's
    cluster and is recovered as a drop at cosine >= 0.99.

    Scale: the centroid assignment is the IVF broadcast crossJoin; the
    pairwise stage shuffles once on cluster_id and its cost is
    sum(|cluster|^2) — bounded by balancing/capping clusters, never
    the corpus-wide n^2. Hash-checked per-cluster summary (first-8
    oracle centroids keep the clustering itself dialect-shared).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    corpus0 = emb.select("vec_id", "embedding")
    planted = corpus0.filter(F.pmod(F.col("vec_id"), F.lit(100)) == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: F.when(i == 0, x + F.lit(0.01)).otherwise(x),
        )
        .cast("array<float>")
        .alias("embedding"),
    )
    corpus = corpus0.unionByName(planted)
    cents = corpus0.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cv")
    )
    return semdedup(corpus, cents, threshold=0.99)


_WINNOW_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, {_DTOKS.format(src=_LOWER_TEXT)} AS toks
        FROM documents
    ),
    g AS (
        -- element indexing, not lambda slices (see the _DSH3 O(n²)
        -- note); len(toks) >= 6 keeps every kgram fully in-bounds
        SELECT doc_id, toks,
               list_transform(range(1, len(toks) - 1),
                              i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS h
        FROM t WHERE len(toks) >= 6
    ),
    w AS (
        SELECT doc_id, len(h) AS m,
               list_distinct(list_transform(range(1, len(h) - 2),
                                            j -> least(h[j], h[j+1], h[j+2], h[j+3]))) AS fps
        FROM g
    )
    SELECT doc_id,
           CAST(m AS BIGINT) AS n_kgrams,
           CAST(len(fps) AS BIGINT) AS n_fingerprints,
           list_min(fps) AS fp_min
    FROM w
    ORDER BY doc_id
"""


@register("l39_winnowing_fingerprints", oracle=_WINNOW_ORACLE)
def l39_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (functions/text.winnow_fingerprints,
    k=3-gram hashes, w=4 windows) per document — the rolling-hash
    fingerprint family for plagiarism/overlap detection: shared runs of
    >= w+k-1 tokens are guaranteed a shared fingerprint at ~1/w the
    gram storage.

    Scale: map-only expression work, no shuffle at all — fingerprints
    stream out of the scan; downstream overlap detection is an
    equi-join on fingerprint (the LSH-bucket shape). Short docs
    (< k+w-1 tokens) are filtered on BOTH engines so the window
    arithmetic stays exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = ws_tokens(F.lower(F.col("text")))
    out = (
        # rolling-hash folds are map-side CPU on a one-row-group
        # fixture scan — widen or they run on a single task (SCALE.md
        # "scan width" audit; no-op at production scale)
        widen_for_compute(docs.select("doc_id", F.col("text")))
        .filter(F.size(toks) >= 6)
        .select(
            "doc_id",
            (F.size(toks) - 2).cast("long").alias("n_kgrams"),
            winnow_fingerprints(F.col("text"), k=3, w=4).alias("_fps"),
        )
    )
    return out.select(
        "doc_id",
        "n_kgrams",
        F.size("_fps").cast("long").alias("n_fingerprints"),
        F.array_min("_fps").alias("fp_min"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Round-4 additions: JL random projection, Gopher-rule accounting
# ---------------------------------------------------------------------------

# Deterministic ±1 projection entry for (input dim d, output dim j):
# +1 iff (d*31 + j*17) mod 7 < 3 — pure integer arithmetic both engines
# evaluate identically (no RNG to keep in sync).
_JL_OUT_DIMS = 8
_JL_IN_DIMS = 64


def _jl_sign_sql(j: int) -> str:
    return f"(CASE WHEN (d * 31 + {j} * 17) % 7 < 3 THEN 1.0 ELSE -1.0 END)"


_JL_PROJ_SQL = ",\n           ".join(
    f"list_sum(list_transform(range(0, {_JL_IN_DIMS}), "
    f"d -> CAST(embedding[d + 1] AS DOUBLE) * {_jl_sign_sql(j)})) AS p{j}"
    for j in range(_JL_OUT_DIMS)
)
_JL_SUMSQ_SQL = " + ".join(f"p{j} * p{j}" for j in range(_JL_OUT_DIMS))


@register(
    "l40_random_projection",
    oracle=f"""
    WITH p AS (
        SELECT vec_id,
           sqrt(list_sum(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS orig_norm,
           {_JL_PROJ_SQL}
        FROM embeddings
    )
    SELECT vec_id,
           round(orig_norm, 4) AS orig_norm,
           round(sqrt(({_JL_SUMSQ_SQL}) / {_JL_OUT_DIMS}), 4) AS proj_norm,
           round(sqrt(({_JL_SUMSQ_SQL}) / {_JL_OUT_DIMS}) / orig_norm, 4)
               AS distortion
    FROM p
    """,
)
def l40_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction: project the
    64-dim embeddings onto 8 dims through a deterministic ±1 matrix
    (Achlioptas-style database-friendly projection — public result)
    and report the norm distortion ``||Px||/(sqrt(k)||x||)``, the
    quantity JL bounds near 1. The cheap pre-step that makes
    brute-force ANN / clustering tractable at 100 TB: distances are
    estimated in 8 dims, exact re-rank only on survivors (same
    two-stage posture as l32's PQ ADC).

    Scale: entirely map-side — each projection component is a
    fixed-order ``F.aggregate`` fold over the row's own array (the
    deterministic-fold discipline l32 established for cross-engine
    float parity), so the operator adds ZERO shuffles and runs at scan
    bandwidth. No RNG state ships anywhere: the matrix entry is a pure
    function of (d, j).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    idx = F.sequence(F.lit(0), F.lit(_JL_IN_DIMS - 1))

    def sign(d: F.Column, j: int):
        return (
            F.when((d * 31 + j * 17) % 7 < 3, F.lit(1.0)).otherwise(F.lit(-1.0))
        )

    def proj(j: int):
        return F.aggregate(
            idx,
            F.lit(0.0),
            lambda acc, d: acc
            + F.element_at(F.col("embedding"), d + 1).cast("double") * sign(d, j),
        )

    orig_norm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    sumsq = None
    for j in range(_JL_OUT_DIMS):
        term = F.pow(proj(j), 2)
        sumsq = term if sumsq is None else sumsq + term
    proj_norm = F.sqrt(sumsq / _JL_OUT_DIMS)
    return emb.select(
        "vec_id",
        F.round(orig_norm, 4).alias("orig_norm"),
        F.round(proj_norm, 4).alias("proj_norm"),
        F.round(proj_norm / orig_norm, 4).alias("distortion"),
    )


@register(
    "l41_gopher_rule_accounting",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, source,
               list_filter(string_split_regex(""" + _lower_sql("text") + r""", '\s+'), x -> x != '')
                   AS toks
        FROM documents
    ), g AS (
        SELECT doc_id, source, len(toks) AS n,
               -- EMPTY toks -> mwl 0.0 (fails the 3..10 gate, as the
               -- engine counts it; bare list_sum([]) is NULL and 3VL
               -- would silently exclude the doc from the fail count)
               -- but NULL toks (NULL text) stays NULL like the engine
               -- (fuzz_oracle extremes, then nulls)
               CASE WHEN toks IS NULL THEN NULL
               ELSE coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
                    / greatest(len(toks), 1) END AS mwl,
               len(list_distinct(list_filter(toks, x -> list_contains(
                   ['the','a','an','is','are','of','and','or','to','in'], x))))
                   AS n_stop,
               CASE WHEN len(toks) >= 2 THEN
                   list_transform(range(1, len(toks)),
                                  i -> toks[i] || ' ' || toks[i+1])
               ELSE [] END AS grams
        FROM t
    ), r AS (
        SELECT doc_id, source,
               (n >= 30 AND n <= 100000) AS ok_wc,
               (mwl >= 3.0 AND mwl <= 10.0) AS ok_mwl,
               (n_stop >= 2) AS ok_stop,
               (CASE WHEN len(grams) > 0
                     THEN 1.0 - len(list_distinct(grams)) / len(grams)
                     ELSE 0.0 END) <= 0.2 AS ok_rep
        FROM g
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE ok_wc AND ok_mwl AND ok_stop AND ok_rep)
               AS BIGINT) AS n_kept,
           CAST(count(*) FILTER (WHERE NOT ok_wc) AS BIGINT) AS n_fail_word_count,
           CAST(count(*) FILTER (WHERE NOT ok_mwl) AS BIGINT) AS n_fail_mean_word_len,
           CAST(count(*) FILTER (WHERE NOT ok_stop) AS BIGINT) AS n_fail_stopwords,
           CAST(count(*) FILTER (WHERE NOT ok_rep) AS BIGINT) AS n_fail_repetition
    FROM r
    GROUP BY source
    """,
)
def l41_gopher_rule_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source drop-reason accounting for the Gopher-rule composite
    filter (``functions.text.gopher_rules``): how many documents each
    source loses to each rule. The diagnostic every corpus-curation run
    reports before anyone commits to a filter threshold — per-rule
    failure counts, not just the surviving set.

    Scale: the rules are map-only array expressions over one
    tokenization; the accounting is one map-side-combined shuffle on
    the low-cardinality source key. Conditional counts share the single
    pass — no per-rule re-scan, no pivot.
    """
    from sports_betting_data_pipeline_spark.functions.text import gopher_rules

    docs = load_table(spark, sf_dir, "documents")
    # widen_for_compute: the fixture scan is one row-group → one task,
    # which serializes the CPU-heavy rule expressions on a single core
    # (11.2 s → 1.1 s at sf0.1 on local[32]; measured against an
    # explode(array(...)) let-binding boundary too, which was SLOWER —
    # 18.6 s — the generator adds per-row overhead without saving the
    # struct re-expansion). No-op at real scale where splits abound.
    #
    # repartition barrier (SCALE.md lesson #1, r11 longdoc finding):
    # the aggregate references r SEVEN times, and struct-field inlining
    # re-expands the whole rule pipeline per reference — 19.5 s vs
    # 3.4 s on the longdoc variant (and 7× the tokenize cost on any
    # data). Materializing r through an exchange makes it compute once;
    # the shuffled rows are (source, 5 booleans) — bytes per doc — and
    # hash-partitioning on the group key lets the final aggregate reuse
    # the exchange instead of adding one.
    r = widen_for_compute(docs).select(
        "source", gopher_rules(F.col("text")).alias("r")
    ).repartition(F.col("source"))
    return r.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("r.keep"), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(~F.col("r.ok_word_count"), 1).otherwise(0)).alias(
            "n_fail_word_count"
        ),
        F.sum(F.when(~F.col("r.ok_mean_word_len"), 1).otherwise(0)).alias(
            "n_fail_mean_word_len"
        ),
        F.sum(F.when(~F.col("r.ok_stopwords"), 1).otherwise(0)).alias(
            "n_fail_stopwords"
        ),
        F.sum(F.when(~F.col("r.ok_repetition"), 1).otherwise(0)).alias(
            "n_fail_repetition"
        ),
    )


@register(
    "l42_bitext_mining",
    oracle="""
    WITH a AS (
        SELECT vec_id AS a_id, embedding::DOUBLE[] AS va
        FROM embeddings WHERE label % 2 = 0
    ), b AS (
        SELECT vec_id AS b_id, embedding::DOUBLE[] AS vb
        FROM embeddings WHERE label % 2 = 1
    ), x AS (
        SELECT a_id, b_id,
               list_cosine_similarity(va, vb) AS cos_sim
        FROM a CROSS JOIN b
    ), r AS (
        SELECT a_id, b_id, cos_sim,
               row_number() OVER (PARTITION BY a_id
                                  ORDER BY cos_sim DESC, b_id) AS rn_a,
               row_number() OVER (PARTITION BY b_id
                                  ORDER BY cos_sim DESC, a_id) AS rn_b
        FROM x
    )
    SELECT a_id, b_id, round(cos_sim, 6) AS cos_sim
    FROM r WHERE rn_a = 1 AND rn_b = 1
    """,
)
def l42_bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext mining / cross-corpus alignment by MUTUAL nearest
    neighbor (the margin-free core of Artetxe & Schwenk's public
    LASER mining recipe): split the embedding space into two "corpora"
    (even/odd labels standing in for two languages) and keep only
    pairs where each side is the other's top-1 cosine match — the
    standard filter that kills hub vectors one-directional retrieval
    lets through.

    Spark-first shape: ONE cross product computes each pair's cosine
    once; BOTH direction argmaxes are row_number windows over that
    same relation (partition by a_id, then by b_id) — versus running
    two independent retrievals and re-scoring twice. Norms fold into
    the cosine via per-side precomputed columns.

    AUDIT-ONLY: exact mutual-NN is O(|A|×|B|) — run it on samples to
    validate the index path, never on the corpus. The registered
    production twin is :func:`l43_bitext_mining_ann` (IVF candidates
    per direction + the same mutual filter; recall pinned against
    this exact audit in tests/test_llm_ops.py).
    """
    from sports_betting_data_pipeline_spark.functions.similarity import (
        dot,
        l2_norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.filter(F.pmod("label", F.lit(2)) == 0).select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("_va"),
        l2_norm("embedding").alias("_na"),
    )
    b = emb.filter(F.pmod("label", F.lit(2)) == 1).select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("_vb"),
        l2_norm("embedding").alias("_nb"),
    )
    x = widen_for_compute(a).crossJoin(F.broadcast(b)).select(
        "a_id",
        "b_id",
        (
            dot("_va", "_vb")
            / F.greatest(F.col("_na") * F.col("_nb"), F.lit(1e-12))
        ).alias("cos_sim"),
    )
    w_a = Window.partitionBy("a_id").orderBy(F.desc("cos_sim"), F.asc("b_id"))
    w_b = Window.partitionBy("b_id").orderBy(F.desc("cos_sim"), F.asc("a_id"))
    return (
        x.withColumn("rn_a", F.row_number().over(w_a))
        .withColumn("rn_b", F.row_number().over(w_b))
        .filter((F.col("rn_a") == 1) & (F.col("rn_b") == 1))
        .select("a_id", "b_id", F.round("cos_sim", 6).alias("cos_sim"))
    )


@register(
    "l43_bitext_mining_ann",
    oracle="""
    WITH a AS (
        SELECT vec_id AS a_id, embedding::DOUBLE[] AS va
        FROM embeddings WHERE label % 2 = 0
    ), b AS (
        SELECT vec_id AS b_id, embedding::DOUBLE[] AS vb
        FROM embeddings WHERE label % 2 = 1
    ), m AS (
        -- deterministic sqrt(N)-cell quantizer stride, same rule the
        -- engine computes from the parquet footer count (io.size_hint)
        SELECT greatest(1, CAST(floor(sqrt(count(*) // 2)) AS BIGINT)) AS m
        FROM embeddings
    ), ca AS (
        SELECT a_id AS cent_id, va AS cv FROM a, m WHERE a_id % m.m = 0
    ), cb AS (
        SELECT b_id AS cent_id, vb AS cv FROM b, m WHERE b_id % m.m = 0
    ), bass AS (
        SELECT b_id, cent_id FROM (
            SELECT b.b_id, c.cent_id,
                   row_number() OVER (
                       PARTITION BY b.b_id
                       ORDER BY list_cosine_similarity(b.vb, c.cv) DESC,
                                c.cent_id) AS rn
            FROM b CROSS JOIN cb c
        ) WHERE rn = 1
    ), aprobe AS (
        SELECT a_id, cent_id FROM (
            SELECT a.a_id, c.cent_id,
                   row_number() OVER (
                       PARTITION BY a.a_id
                       ORDER BY list_cosine_similarity(a.va, c.cv) DESC,
                                c.cent_id) AS rn
            FROM a CROSS JOIN cb c
        ) WHERE rn <= 4
    ), ab AS (
        SELECT a_id, b_id, sim FROM (
            SELECT p.a_id, s.b_id,
                   list_cosine_similarity(a2.va, b2.vb) AS sim,
                   row_number() OVER (
                       PARTITION BY p.a_id
                       ORDER BY list_cosine_similarity(a2.va, b2.vb) DESC,
                                s.b_id) AS rn
            FROM aprobe p
            JOIN bass s USING (cent_id)
            JOIN a a2 ON a2.a_id = p.a_id
            JOIN b b2 ON b2.b_id = s.b_id
        ) WHERE rn = 1
    ), aass AS (
        SELECT a_id, cent_id FROM (
            SELECT a.a_id, c.cent_id,
                   row_number() OVER (
                       PARTITION BY a.a_id
                       ORDER BY list_cosine_similarity(a.va, c.cv) DESC,
                                c.cent_id) AS rn
            FROM a CROSS JOIN ca c
        ) WHERE rn = 1
    ), bprobe AS (
        SELECT b_id, cent_id FROM (
            SELECT b.b_id, c.cent_id,
                   row_number() OVER (
                       PARTITION BY b.b_id
                       ORDER BY list_cosine_similarity(b.vb, c.cv) DESC,
                                c.cent_id) AS rn
            FROM b CROSS JOIN ca c
        ) WHERE rn <= 4
    ), ba AS (
        SELECT a_id, b_id FROM (
            SELECT p.b_id, s.a_id,
                   row_number() OVER (
                       PARTITION BY p.b_id
                       ORDER BY list_cosine_similarity(a2.va, b2.vb) DESC,
                                s.a_id) AS rn
            FROM bprobe p
            JOIN aass s USING (cent_id)
            JOIN a a2 ON a2.a_id = s.a_id
            JOIN b b2 ON b2.b_id = p.b_id
        ) WHERE rn = 1
    )
    SELECT ab.a_id, ab.b_id, round(ab.sim, 6) AS cos_sim
    FROM ab JOIN ba ON ba.a_id = ab.a_id AND ba.b_id = ab.b_id
    """,
)
def l43_bitext_mining_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION bitext-mining path (l42's l22): each direction's
    nearest-neighbor comes from the IVF index instead of the exact A×B
    product, and the mutual filter keeps pairs where each side is the
    other's IVF top-1 — Artetxe & Schwenk's mining recipe at index
    cost. The deterministic quantizer makes the WHOLE approximate
    computation SQL-reproducible, so this is hash-checked end to end
    (stronger than a recall pin, which tests/test_llm_ops.py adds
    anyway against l42's exact audit).

    The quantizer is a deterministic id-stride sample sized by the
    √N cell rule (the r7/r8 finding behind
    :func:`functions.similarity.default_n_centroids`): stride
    m = ⌊√(N/2)⌋ from the parquet FOOTER count (io.size_hint, no job)
    keeps ids ≡ 0 (mod m) as centroids, ≈ √N_side cells per side. The
    r8 fixed id<16 cutoff froze C while N grew — the full-catalog sf1
    bench caught it as the one real super-linear query (×27 for ×10
    data: nprobe/C of the corpus per probe is N²·nprobe/16 scorings at
    fixed C, N^1.5·nprobe at √N cells). Stride sampling needs no
    global sort, so centroid selection stays a scan-side filter.

    Scale: the only non-equi joins are the two C-row centroid
    broadcasts inside :func:`ivf_topk` (C=|cells|, the l13/l23/l36
    shape); candidate scoring touches ~(nprobe/C) of the opposite
    corpus per query, and the mutual check is an equi-join of the two
    tiny top-1 tables. l42's full cross product is relegated to the
    audit role.
    """
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    n = size_hint(emb)
    if n is None:
        n = emb.count()
    m = max(1, math.isqrt(max(0, n // 2)))
    a = emb.filter(F.pmod("label", F.lit(2)) == 0).select(
        F.col("vec_id").alias("a_id"), F.col("embedding").alias("va")
    )
    b = emb.filter(F.pmod("label", F.lit(2)) == 1).select(
        F.col("vec_id").alias("b_id"), F.col("embedding").alias("vb")
    )
    cents_a = a.filter(F.pmod(F.col("a_id"), F.lit(m)) == 0).select(
        F.col("a_id").alias("cent_id"), F.col("va").alias("cv")
    )
    cents_b = b.filter(F.pmod(F.col("b_id"), F.lit(m)) == 0).select(
        F.col("b_id").alias("cent_id"), F.col("vb").alias("cv")
    )
    return ivf_mutual_nn(a, b, cents_a, cents_b, nprobe=4)


_PL03_QUERY_IDS = (0, 101, 202)


@register(
    "pl03_hybrid_retrieval",
    oracle=f"""
    WITH tokd AS (
        -- toks BOUND AS A COLUMN before the shingle lambda touches it
        -- (r11 longdoc finding): formatting the whole tokenizer
        -- expression into _DSH3's {{toks}} placeholder re-inlined it at
        -- each of the lambda's four references, re-tokenizing the
        -- document per shingle INDEX — O(n²) with a tokenizer-sized
        -- constant; 60k-token docs hung the oracle. Through a
        -- projection boundary the lambda indexes a materialized list.
        SELECT d.doc_id AS id,
               d.text IS NULL AS no_text,
               {_DTOKS.format(src=_lower_sql("d.text"))} AS toks,
               e.embedding::DOUBLE[] AS v
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ),
    corpus AS MATERIALIZED (
        -- NULL text -> NULL shingles -> NULL lex score (no lexical
        -- evidence; the vector leg still ranks). The raw fragment
        -- would yield [] here (lex 0), silently reordering the
        -- zero-lex tie region (fuzz_oracle nulls variant).
        SELECT id,
               CASE WHEN no_text THEN NULL
                    ELSE {_DSH3.format(toks='toks')}
               END AS sh,
               v
        FROM tokd
    ),
    q AS (
        SELECT id AS query_id, sh AS qsh, v AS qv FROM corpus
        WHERE id IN (0, 101, 202)
    ),
    cand AS (
        SELECT id AS cand_id, sh, v FROM corpus
        WHERE id NOT IN (0, 101, 202)
    ),
    scored AS (
        SELECT q.query_id, c.cand_id,
               CAST(len(list_intersect(c.sh, q.qsh)) AS DOUBLE)
                   / (len(c.sh) + len(q.qsh)
                      - len(list_intersect(c.sh, q.qsh))) AS lex,
               list_cosine_similarity(c.v, q.qv) AS vec
        FROM q CROSS JOIN cand c
    ),
    ranked AS (
        SELECT query_id, cand_id,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY lex DESC, cand_id) AS BIGINT)
                   AS lex_rank,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY vec DESC, cand_id) AS BIGINT)
                   AS vec_rank
        FROM scored
    ),
    fused AS (
        SELECT query_id, cand_id, lex_rank, vec_rank,
               round(1.0 / (60 + lex_rank) + 1.0 / (60 + vec_rank), 6)
                   AS rrf_score
        FROM ranked
    )
    SELECT query_id, cand_id, lex_rank, vec_rank, rrf_score
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rrf_score DESC, cand_id) AS rn
        FROM fused
    ) WHERE rn <= 10
    """,
)
def pl03_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval with reciprocal-rank fusion —
    the modern RAG/search-serving pipeline composed from the engine's
    own primitives: 3-gram Jaccard (the shingle machinery of l07/l24)
    as the lexical leg, embedding cosine (the ANN machinery's exact
    scorer) as the semantic leg, RRF (Cormack et al.'s public
    score-free fusion, 1/(60+rank) per leg) to merge the two ranklists
    without score calibration. Corpus = the id-paired slice of
    documents⋈embeddings; three query items retrieve from the rest.

    Scale: the query set broadcasts (queries are always the tiny side
    in serving); lexical and vector scores compute in ONE pass over
    the broadcast cross product, and both rank legs are windows over
    that same scored relation (same single-relation discipline as
    l42's mutual-NN). At corpus scale each leg's candidate set comes
    from its index (BM25 posting join / IVF-PQ probes) and the fusion
    windows run unchanged over candidates instead of the full corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    from sports_betting_data_pipeline_spark.functions.similarity import (
        dot,
        l2_norm,
    )

    corpus = docs.join(
        emb, F.col("vec_id") == F.col("doc_id")
    ).select(
        F.col("doc_id").alias("id"),
        shingles(F.lower(F.col("text")), 3).alias("sh"),
        F.col("embedding").alias("v"),
        l2_norm("embedding").alias("_n"),
    )
    qids = list(_PL03_QUERY_IDS)
    q = corpus.filter(F.col("id").isin(qids)).select(
        F.col("id").alias("query_id"),
        F.col("sh").alias("qsh"),
        F.col("v").alias("qv"),
        F.col("_n").alias("_qn"),
    )
    cand = corpus.filter(~F.col("id").isin(qids)).select(
        F.col("id").alias("cand_id"), "sh", "v", "_n"
    )
    n_inter = F.size(F.array_intersect(F.col("sh"), F.col("qsh")))
    scored = widen_for_compute(cand).crossJoin(F.broadcast(q)).select(
        "query_id",
        "cand_id",
        # NULL shingles (NULL text) -> NULL lex, ranked by the desc-
        # nulls-last + id tiebreak like the oracle; without the guard,
        # legacy size(NULL) = -1 manufactures a spurious -1/|sh|
        # ordering for a content-less query (fuzz_oracle nulls)
        F.when(
            F.col("sh").isNotNull() & F.col("qsh").isNotNull(),
            n_inter.cast("double")
            / (F.size("sh") + F.size("qsh") - n_inter),
        ).alias("lex"),
        (
            dot("v", "qv")
            / F.greatest(F.col("_n") * F.col("_qn"), F.lit(1e-12))
        ).alias("vec"),
    )
    w_lex = Window.partitionBy("query_id").orderBy(F.desc("lex"), F.asc("cand_id"))
    w_vec = Window.partitionBy("query_id").orderBy(F.desc("vec"), F.asc("cand_id"))
    fused = (
        scored.withColumn("lex_rank", F.row_number().over(w_lex).cast("long"))
        .withColumn("vec_rank", F.row_number().over(w_vec).cast("long"))
        .withColumn(
            "rrf_score",
            F.round(
                1.0 / (60 + F.col("lex_rank")) + 1.0 / (60 + F.col("vec_rank")),
                6,
            ),
        )
    )
    w_rrf = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("cand_id")
    )
    return (
        fused.withColumn("rn", F.row_number().over(w_rrf))
        .filter(F.col("rn") <= 10)
        .select("query_id", "cand_id", "lex_rank", "vec_rank", "rrf_score")
    )


@register(
    "l44_train_val_test_split",
    oracle="""
    WITH assigned AS (
        SELECT doc_id, source,
               CASE
                 WHEN ('0x' || left(md5(CAST(doc_id AS VARCHAR)), 8))::BIGINT
                      % 100 < 90 THEN 'train'
                 WHEN ('0x' || left(md5(CAST(doc_id AS VARCHAR)), 8))::BIGINT
                      % 100 < 95 THEN 'val'
                 ELSE 'test'
               END AS split
        FROM documents
    )
    SELECT source, split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id
    FROM assigned
    GROUP BY source, split
    """,
)
def l44_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test corpus split: each document
    lands in exactly one split by the md5 of its OWN id — stable
    under re-runs, re-partitioning, AND corpus growth (adding
    documents never moves an existing one between splits, the property
    row_number-based splits lack and the one that prevents silent
    train/test contamination across dataset versions). The md5-derived
    assignment is the repo's engine-portable randomness discipline
    (f08/l26/wg01), so the split membership itself is hash-checked.

    Scale: pure map-side assignment + one map-side-combined shuffle on
    the tiny (source, split) key — the split of a 100 TB corpus costs
    one scan. min/max doc_id per cell ride along so the oracle pins
    membership, not just counts.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long"),
        F.lit(100),
    )
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return (
        docs.select("doc_id", "source", split.alias("split"))
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


@register(
    "l45_hashed_features",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
        WHERE doc_id < 200
    )
    SELECT doc_id,
           CAST((('0x' || left(md5(tok), 8))::BIGINT % 16) AS BIGINT)
               AS bucket,
           count(*) AS tf
    FROM toks
    GROUP BY 1, 2
    """,
)
def l45_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick feature vectorizer (the HashingVectorizer /
    feature-hashing step in front of any linear model or LSH stage):
    each token is hashed into one of 16 buckets and the per-doc bucket
    term frequencies form the fixed-width sparse feature vector — no
    vocabulary build, no dictionary broadcast, unbounded vocab at
    constant memory. Output stays EXPLODED as (doc_id, bucket, tf)
    rows rather than an array column — the relational form downstream
    joins consume, and the form the driver's canonicalizer can hash
    (the a07 lesson).

    The bucket hash is md5-derived (first 8 hex chars → uint32 → mod
    n_buckets), the engine-portable idiom f06/f08 established, so the
    oracle computes bit-identical buckets.

    Scale: explode → one map-side-combined count shuffle keyed
    (doc_id, bucket); everything JVM-side. n_buckets trades collision
    rate for width — production uses 2^18+, the catalog uses 16 so
    collisions are actually exercised.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long") % 16
    ).alias("bucket")
    return toks.groupBy("doc_id", bucket).agg(F.count(F.lit(1)).alias("tf"))


@register(
    "m05_audio_frame_energy",
    oracle="""
    WITH samples AS (
        SELECT d.doc_id,
               gs.g // 16 AS frame_idx,
               (d.doc_id * (gs.g + 1)) % 7 - 3 AS amp
        FROM (SELECT doc_id FROM documents WHERE doc_id < 20) d,
             generate_series(0, 63) AS gs(g)
    )
    SELECT doc_id AS asset_id,
           CAST(frame_idx AS BIGINT) AS frame_idx,
           round(sqrt(sum(amp * amp) / 16.0), 6) AS rms,
           CAST(max(abs(amp)) AS BIGINT) AS peak
    FROM samples
    GROUP BY 1, 2
    """,
)
def m05_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio feature extraction through a REAL codec: a
    varying int16 signal per document is WAV-encoded, decoded back,
    and segmented into 4×16-sample frames whose RMS energy and
    absolute peak are emitted per frame — the VAD/loudness feature
    pass (the step after m03's whole-file roundtrip). Integer-exact
    amplitudes keep the decode hash-checked against a generate_series
    oracle that recomputes the signal arithmetically."""
    from sports_betting_data_pipeline_spark.functions.multimodal import (
        audio_frame_energy,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return audio_frame_energy(docs).select(
        "asset_id",
        "frame_idx",
        F.round("rms", 6).alias("rms"),
        "peak",
    )


@register(
    "l46_knn_classify",
    oracle="""
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
               label AS true_label
        FROM embeddings WHERE vec_id < 20
    ),
    c AS (
        SELECT vec_id, embedding, label
        FROM embeddings WHERE vec_id >= 20
    ),
    sims AS (
        SELECT q.query_id, c.vec_id, c.label,
               list_cosine_similarity(c.embedding::DOUBLE[], q.qv) AS sim
        FROM c, q
    ),
    topk AS (
        SELECT query_id, label FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY sim DESC, vec_id
            ) AS rnk
            FROM sims
        ) WHERE rnk <= 10
    ),
    votes AS (
        SELECT query_id, label, count(*) AS n
        FROM topk GROUP BY 1, 2
    )
    SELECT v.query_id,
           q.true_label,
           v.label AS predicted_label,
           CAST(v.n AS BIGINT) AS votes
    FROM (
        -- NULLS FIRST on the label tiebreak: a NULL-label vote group
        -- must rank the same in both engines (Spark ASC default)
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY n DESC, label NULLS FIRST
        ) AS pick
        FROM votes
    ) v
    JOIN q ON q.query_id = v.query_id
    WHERE v.pick = 1
    """,
)
def l46_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label classification (k=10, majority vote) — the serving-
    side use of the ANN index family: held-out vectors (vec_id < 20)
    are classified by their nearest labeled neighbors' majority label,
    deterministic tiebreak on (votes desc, label asc). The true label
    rides along so downstream accuracy is one filter away.

    Scale: candidate generation is l10's broadcast-queries × corpus
    pass (swap in the IVF/PQ index for 100 TB — same downstream vote
    shape); the vote is a tiny (queries × labels) aggregate + one
    WindowGroupLimit argmax.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("true_label"),
    )
    corpus = emb.filter(F.col("vec_id") >= 20)
    topk = brute_force_topk(corpus, queries, k=10)
    votes = (
        topk.join(
            F.broadcast(corpus.select("vec_id", "label")), "vec_id"
        )
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("n"), F.asc("label"))
    return (
        votes.withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") == 1)
        .join(F.broadcast(queries.select("query_id", "true_label")), "query_id")
        .select(
            "query_id",
            "true_label",
            F.col("label").alias("predicted_label"),
            F.col("n").alias("votes"),
        )
    )


@register(
    "l47_classifier_filter",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    feats AS (
        SELECT doc_id,
               (('0x' || left(md5(tok), 8))::BIGINT % 16) AS bucket,
               count(*) AS tf
        FROM toks GROUP BY 1, 2
    ),
    scored AS (
        SELECT f.doc_id,
               CAST(sum(f.tf * ((('0x' || left(md5(CAST(f.bucket AS VARCHAR)),
                                      8))::BIGINT % 21) - 10)) AS BIGINT)
                   AS score
        FROM feats f GROUP BY 1
    )
    SELECT doc_id, score, score > 0 AS kept FROM scored
    """,
)
def l47_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier filtering — the fastText/linear-classifier
    gate of CCNet/LLaMA-style corpus pipelines: hash each token into
    l45's 16 feature buckets, score every document with a fixed
    linear model over its bucket term frequencies, keep score > 0.
    Weights here are md5-derived INTEGERS (a stand-in for trained
    weights with the same plan shape), which makes the whole
    score — tf × weight sums — integer-exact and therefore
    hash-checkable with zero float-boundary risk on the keep/drop
    decision, the part that actually matters.

    Scale: explode → two map-side-combined aggregates ((doc, bucket)
    tf, then per-doc score); the "model" is pure arithmetic on the
    bucket id, so no weight-vector broadcast is even needed (a real
    trained model is a ≤2^18-row broadcast join). No Python anywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long") % 16
    ).alias("bucket")
    feats = toks.groupBy("doc_id", bucket).agg(F.count(F.lit(1)).alias("tf"))
    weight = (
        F.conv(
            F.substring(F.md5(F.col("bucket").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 21
        - 10
    )
    scored = feats.groupBy("doc_id").agg(
        F.sum(F.col("tf") * weight).alias("score")
    )
    return scored.select("doc_id", "score", (F.col("score") > 0).alias("kept"))


@register(
    "l48_contrastive_pairs",
    oracle="""
    WITH a AS (
        SELECT vec_id AS anchor_id, embedding::DOUBLE[] AS av
        FROM embeddings WHERE vec_id < 10
    ),
    c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
    sims AS (
        SELECT a.anchor_id, c.vec_id,
               list_cosine_similarity(c.embedding::DOUBLE[], a.av) AS sim
        FROM c, a
    ),
    pos AS (
        SELECT anchor_id, vec_id, sim FROM (
            SELECT *, row_number() OVER (
                PARTITION BY anchor_id ORDER BY sim DESC, vec_id
            ) AS rnk FROM sims
        ) WHERE rnk = 1
    ),
    negs AS (
        SELECT s.anchor_id, s.vec_id, s.sim FROM (
            SELECT s.*, row_number() OVER (
                PARTITION BY s.anchor_id
                ORDER BY md5(CAST(s.anchor_id AS VARCHAR) || '|'
                             || CAST(s.vec_id AS VARCHAR)), s.vec_id
            ) AS hrank
            FROM sims s
            JOIN pos p ON p.anchor_id = s.anchor_id
            WHERE s.vec_id <> p.vec_id
        ) s WHERE hrank <= 3
    )
    SELECT anchor_id, vec_id, 'positive' AS role, round(sim, 6) AS cosine_sim
    FROM pos
    UNION ALL
    SELECT anchor_id, vec_id, 'negative', round(sim, 6) FROM negs
    """,
)
def l48_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining — the data-prep step for
    embedding-model training (SimCSE/DPR shape): each anchor gets its
    hardest positive (exact nearest neighbor) and 3 DETERMINISTIC
    random negatives (md5-ordered draw over the corpus, positive
    excluded), with the cosine similarity attached to every pair so
    downstream curricula can filter by hardness.

    Scale: one broadcast-anchors × corpus similarity pass feeds BOTH
    leg selections (positive argmax and hash-ranked negatives) as
    WindowGroupLimit windows over the same relation — the corpus
    scans once; swap the product for the ANN index at 100 TB. The
    md5 draw is the engine-portable f06/l26 idiom, so sampling needs
    no RNG state and never resamples on retry.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 10)
    from sports_betting_data_pipeline_spark.functions.similarity import cosine

    sims = corpus.crossJoin(F.broadcast(anchors)).select(
        F.col("query_id").alias("anchor_id"),
        F.col("vec_id"),
        cosine("embedding", "query_vec").alias("sim"),
    )
    wtop = Window.partitionBy("anchor_id").orderBy(
        F.desc("sim"), F.asc("vec_id")
    )
    pos = (
        sims.withColumn("rnk", F.row_number().over(wtop))
        .filter(F.col("rnk") == 1)
        .select("anchor_id", "vec_id", "sim")
    )
    wneg = Window.partitionBy("anchor_id").orderBy(
        F.md5(
            F.concat_ws(
                "|",
                F.col("anchor_id").cast("string"),
                F.col("vec_id").cast("string"),
            )
        ),
        F.asc("vec_id"),
    )
    negs = (
        sims.join(
            F.broadcast(pos.select("anchor_id", F.col("vec_id").alias("_pos_id"))),
            "anchor_id",
        )
        .filter(F.col("vec_id") != F.col("_pos_id"))
        .withColumn("hrank", F.row_number().over(wneg))
        .filter(F.col("hrank") <= 3)
        .select("anchor_id", "vec_id", "sim")
    )
    return pos.select(
        "anchor_id", "vec_id", F.lit("positive").alias("role"),
        F.round("sim", 6).alias("cosine_sim"),
    ).unionByName(
        negs.select(
            "anchor_id", "vec_id", F.lit("negative").alias("role"),
            F.round("sim", 6).alias("cosine_sim"),
        )
    )


@register(
    "l49_vocab_coverage",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, count(*) AS n,
                   row_number() OVER (ORDER BY count(*) DESC, tok) AS rnk
            FROM toks GROUP BY tok
        ) WHERE rnk <= 30
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (v.tok IS NULL) AS BIGINT) AS n_oov,
           CAST(10000 * count(*) FILTER (v.tok IS NULL) // count(*)
                AS BIGINT) AS oov_bp
    FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
    GROUP BY t.doc_id
    """,
)
def l49_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary COVERAGE audit: fit a top-30 corpus
    vocabulary (count-ranked, deterministic tiebreak), then measure
    each document's out-of-vocabulary token rate in basis points —
    the fit-the-tokenizer-then-measure-fertility step of every LLM
    data pipeline, and the metric that decides whether a vocab or a
    corpus slice needs rework. OOV share is an integer floor
    division (the q14 rounding-tie rule).

    Scale: vocab fitting is one map-side-combined word count + a
    TakeOrdered top-K; membership is a broadcast LEFT join against
    the tiny vocab (null side = OOV), and the per-doc rollup rides
    one (doc) shuffle. Nothing is ever per-row Python.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(30)
        .select(F.col("tok").alias("v_tok"))
    )
    joined = toks.join(
        F.broadcast(vocab), F.col("tok") == F.col("v_tok"), "left"
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count(F.when(F.col("v_tok").isNull(), 1)).alias("n_oov"),
        F.expr(
            "10000 * count(CASE WHEN v_tok IS NULL THEN 1 END) div count(*)"
        ).alias("oov_bp"),
    )


@register(
    "l50_span_corruption_plan",
    oracle="""
    WITH docs AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tok
        FROM documents WHERE doc_id < 100
    ),
    spans AS (
        SELECT doc_id, n_tok, gs.s AS span_idx,
               (('0x' || left(md5(CAST(doc_id AS VARCHAR) || '#'
                                  || CAST(gs.s AS VARCHAR)), 8))::BIGINT
                % greatest(n_tok - 5, 1)) AS start_tok
        FROM docs, generate_series(0, 1) AS gs(s)
    )
    SELECT doc_id, CAST(span_idx AS BIGINT) AS span_idx,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(least(5, n_tok - start_tok) AS BIGINT) AS span_len,
           CAST(n_tok AS BIGINT) AS n_tok
    FROM spans
    """,
)
def l50_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption PLAN (the T5/UL2 denoising objective's data
    side): per document, two deterministic mask spans — md5-derived
    start positions over the token count, fixed target length 5,
    clipped at the document end. Emitting the PLAN (doc, span, start,
    len) rather than the corrupted text keeps the expensive string
    surgery out of the hot path: the trainer's collator applies it,
    and the plan is joinable, auditable, and re-sampleable (change
    the salt) without touching the corpus.

    Scale: map-only — token counts from one split, spans from a
    2-element explode, positions from the portable md5 idiom. No
    shuffle at all.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    counted = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    spans = counted.select(
        "doc_id",
        "n_tok",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("span_idx"),
    ).select(
        "doc_id",
        F.col("span_idx").cast("long").alias("span_idx"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "#",
                            F.col("doc_id").cast("string"),
                            F.col("span_idx").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % F.greatest(F.col("n_tok") - 5, F.lit(1))
        ).alias("start_tok"),
        "n_tok",
    )
    return spans.select(
        "doc_id",
        "span_idx",
        "start_tok",
        F.least(F.lit(5), F.col("n_tok") - F.col("start_tok")).alias("span_len"),
        "n_tok",
    )


@register(
    "ev01_generation_eval",
    oracle="""
    WITH refs AS (
        SELECT doc_id, string_split(text, ' ')[1:10] AS ref_toks
        FROM documents WHERE doc_id < 200
    ),
    preds AS (
        SELECT doc_id,
               [CASE WHEN (i % 7) = 3
                     THEN 'tok' || CAST((('0x' || left(md5(
                              CAST(doc_id AS VARCHAR) || '@'
                              || CAST(i AS VARCHAR)), 8))::BIGINT % 50)
                          AS VARCHAR)
                     ELSE ref_toks[i] END
                FOR i IN range(1, len(ref_toks) + 1)]
                   AS pred_toks,
               ref_toks
        FROM refs
    ),
    rc AS (
        SELECT doc_id, unnest(ref_toks) AS tok FROM preds
    ),
    pc AS (
        SELECT doc_id, unnest(pred_toks) AS tok FROM preds
    ),
    rcount AS (SELECT doc_id, tok, count(*) AS rn FROM rc GROUP BY 1, 2),
    pcount AS (SELECT doc_id, tok, count(*) AS pn FROM pc GROUP BY 1, 2),
    overlap AS (
        SELECT r.doc_id, sum(least(r.rn, p.pn)) AS ov
        FROM rcount r JOIN pcount p
          ON p.doc_id = r.doc_id AND p.tok = r.tok
        GROUP BY 1
    ),
    lens AS (
        SELECT doc_id, len(ref_toks) AS nr, len(pred_toks) AS np,
               ref_toks = pred_toks AS em
        FROM preds
    )
    SELECT l.doc_id,
           l.em AS exact_match,
           CAST(coalesce(o.ov, 0) AS BIGINT) AS n_overlap,
           CAST(l.nr AS BIGINT) AS n_ref,
           CAST(20000 * coalesce(o.ov, 0) // (l.nr + l.np) AS BIGINT)
               AS f1_bp
    FROM lens l LEFT JOIN overlap o ON o.doc_id = l.doc_id
    """,
)
def ev01_generation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generation EVALUATION scoring — the harness step that grades
    model outputs against references: exact match plus token-level F1
    (the SQuAD metric) per example. "Predictions" are a deterministic
    corruption of the reference (every 7th token replaced via the md5
    idiom) so the scorer exercises both the match and mismatch paths
    with no model in the loop. Token F1 is the multiset-overlap form
    — per-token min(count_pred, count_ref) summed — and is reported
    in integer basis points (2·overlap/(|p|+|r|), floor), the q14
    rounding-tie rule.

    Scale: two exploded token counts joined per (doc, token) — the
    same shuffle family as TF-IDF (l19); everything else is map-side.
    Real eval sets are small next to corpora; this shape also scores
    millions of examples without a collect.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    refs = docs.select(
        "doc_id", F.slice(F.split("text", " "), 1, 10).alias("ref_toks")
    )
    corrupt = F.transform(
        "ref_toks",
        lambda t, i: F.when(
            ((i + 1) % 7) == 3,
            F.concat(
                F.lit("tok"),
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    "@",
                                    F.col("doc_id").cast("string"),
                                    (i + 1).cast("string"),
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % 50
                ).cast("string"),
            ),
        ).otherwise(t),
    )
    preds = refs.select("doc_id", "ref_toks", corrupt.alias("pred_toks"))
    rcount = preds.select(
        "doc_id", F.explode("ref_toks").alias("tok")
    ).groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("rn"))
    pcount = preds.select(
        "doc_id", F.explode("pred_toks").alias("tok")
    ).groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("pn"))
    overlap = (
        rcount.join(pcount, ["doc_id", "tok"])
        .groupBy("doc_id")
        .agg(F.sum(F.least("rn", "pn")).alias("ov"))
    )
    lens = preds.select(
        "doc_id",
        (F.col("ref_toks") == F.col("pred_toks")).alias("exact_match"),
        F.size("ref_toks").cast("long").alias("nr"),
        F.size("pred_toks").cast("long").alias("np"),
    )
    return lens.join(overlap, "doc_id", "left").select(
        "doc_id",
        "exact_match",
        F.coalesce(F.col("ov"), F.lit(0)).alias("n_overlap"),
        F.col("nr").alias("n_ref"),
        F.expr("20000 * coalesce(ov, 0) div (nr + np)").alias("f1_bp"),
    )


@register(
    "l51_dsir_importance",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               (('0x' || left(md5(unnest(string_split(text, ' '))), 8))
                ::BIGINT % 16) AS bucket
        FROM documents
    ),
    feat AS (
        SELECT doc_id, bucket, count(*) AS tf FROM toks GROUP BY 1, 2
    ),
    corpus_p AS (
        SELECT bucket, count(*) AS c FROM toks GROUP BY 1
    ),
    target_p AS (
        SELECT t.bucket, count(*) AS c
        FROM toks t JOIN documents d ON d.doc_id = t.doc_id
        WHERE d.lang = 'en'
        GROUP BY 1
    ),
    totals AS (
        SELECT (SELECT sum(c) FROM corpus_p) AS ct,
               (SELECT sum(c) FROM target_p) AS tt
    ),
    ratios AS (
        SELECT c.bucket,
               ln(((coalesce(t.c, 0) + 1) / (tot.tt + 16.0))
                  / ((c.c + 1) / (tot.ct + 16.0))) AS lr
        FROM corpus_p c
        LEFT JOIN target_p t ON t.bucket = c.bucket
        CROSS JOIN totals tot
    ),
    scored AS (
        SELECT f.doc_id, round(sum(f.tf * r.lr), 4) AS dsir_score
        FROM feat f JOIN ratios r ON r.bucket = f.bucket
        GROUP BY 1
    )
    SELECT doc_id, dsir_score,
           CAST(row_number() OVER (ORDER BY dsir_score DESC, doc_id)
                AS BIGINT) AS rank
    FROM scored
    ORDER BY rank
    LIMIT 100
    """,
)
def l51_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped importance scoring (Data Selection via Importance
    Resampling, Xie et al. 2023): rank corpus documents by how much
    they look like a TARGET domain (here the English slice) under
    hashed bag-of-words features — each document's score is
    Σ_b tf_b · ln(p_target(b)/p_corpus(b)) with add-one smoothing
    over 16 md5-hashed buckets, and the top-100 by score are the
    docs a domain-matched pretraining mix upsamples.

    Scale: one exploded-token pass feeds BOTH distribution estimates
    and the per-doc features; the 16-row log-ratio table broadcasts;
    scoring is a broadcast join + one per-doc aggregate; selection is
    TakeOrdered. The hashed-feature trick is what makes the method
    O(buckets), not O(vocab) — same reason the original uses it.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long") % 16
        ).alias("bucket"),
    )
    feat = toks.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("tf"))
    corpus_p = toks.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
    target_p = (
        toks.filter(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("tc"))
    )
    totals = corpus_p.agg(F.sum("c").alias("ct")).crossJoin(
        target_p.agg(F.sum("tc").alias("tt"))
    )
    ratios = (
        corpus_p.join(F.broadcast(target_p), "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.log(
                ((F.coalesce(F.col("tc"), F.lit(0)) + 1) / (F.col("tt") + 16.0))
                / ((F.col("c") + 1) / (F.col("ct") + 16.0))
            ).alias("lr"),
        )
    )
    scored = (
        feat.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("tf") * F.col("lr")), 4).alias("dsir_score"))
    )
    w = Window.orderBy(F.desc("dsir_score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 100)
        .orderBy("rank")
    )


@register(
    "l52_bigram_perplexity",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS a
        FROM documents
    ),
    tok AS (
        -- parallel unnest + window lead, and bg MATERIALIZED: the old
        -- [{'w1': a[i], ...} FOR i IN range(...)] comprehension paid
        -- per-element list indexing AND was re-inlined at every one
        -- of bg's four references (DuckDB inlines CTEs), which hung
        -- the oracle on the longdoc variant's 60k-token docs (r11).
        -- The window partitions on a per-ROW id, not doc_id: the dup
        -- fuzz variant duplicates PKs, and two copies of one doc in a
        -- doc_id partition would let lead() stitch bigrams ACROSS the
        -- copies (caught as a dup/l52 n_bigrams mismatch in the r11
        -- delta sweep — per-row semantics is what the comprehension
        -- and the engine's explode both compute).
        SELECT doc_id, rid,
               unnest(a) AS w,
               unnest(range(1, len(a) + 1)) AS i
        FROM (
            SELECT doc_id, row_number() OVER () AS rid, a
            FROM t WHERE len(a) >= 2
        )
    ),
    bg AS MATERIALIZED (
        SELECT doc_id, w1, w2 FROM (
            SELECT doc_id, w AS w1,
                   lead(w) OVER (PARTITION BY rid ORDER BY i) AS w2
            FROM tok
        ) WHERE w2 IS NOT NULL
    ),
    c2 AS (SELECT w1, w2, count(*) AS n2 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, count(*) AS n1 FROM bg GROUP BY 1),
    vocab AS (SELECT count(DISTINCT w2) AS v FROM bg),
    scored AS (
        SELECT b.doc_id,
               count(*) AS n_bigrams,
               avg(ln((c2.n2 + 1.0) / (c1.n1 + vocab.v))) AS avg_lp
        FROM bg b
        JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
        JOIN c1 ON c1.w1 = b.w1
        CROSS JOIN vocab
        GROUP BY b.doc_id
    )
    SELECT doc_id,
           CAST(n_bigrams AS BIGINT) AS n_bigrams,
           round(exp(-avg_lp), 4) AS perplexity
    FROM scored
    """,
)
def l52_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model PERPLEXITY per document (the CCNet-class
    LM filter, one order up from l34's unigram surprisal): train
    add-one-smoothed bigram probabilities on the corpus itself, score
    every document's average log-probability, report perplexity. High
    perplexity = the document doesn't look like the corpus — the
    filter axis used to drop gibberish and boilerplate.

    Bigrams are built MAP-SIDE (an index-fold over the token array —
    no self-join on position); the model "training" is two
    map-side-combined count aggregates; scoring joins the bigram
    stream against the broadcast-size count tables.

    Scale: |bigram vocab| rows of model state, shuffled once; at real
    vocab sizes the c2 join keys on (w1, w2) hash-partitioned — still
    one shuffle each side, never O(n²). ln/exp are the only libm
    calls; 4dp rounding absorbs their cross-engine last-ulp.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split("text", " ").alias("a")).filter(
        F.size("a") >= 2
    )
    pairs = t.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("a") - 1),
                lambda i: F.struct(
                    F.element_at("a", i).alias("w1"),
                    F.element_at("a", i + 1).alias("w2"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", "s.w1", "s.w2")
    c2 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    vocab = pairs.agg(F.count_distinct("w2").alias("v"))
    scored = (
        pairs.join(F.broadcast(c2), ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(
                F.log((F.col("n2") + 1.0) / (F.col("n1") + F.col("v")))
            ).alias("avg_lp"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        F.round(F.exp(-F.col("avg_lp")), 4).alias("perplexity"),
    )


@register(
    "l53_mislabel_detection",
    oracle="""
    WITH e AS (
        SELECT vec_id, label, unnest(range(len(embedding))) AS pos,
               embedding
        FROM embeddings
    ),
    flat AS (
        SELECT vec_id, label, pos,
               embedding[CAST(pos AS INTEGER) + 1] AS x
        FROM e
    ),
    cent AS (
        SELECT label, pos, avg(x) AS c FROM flat GROUP BY 1, 2
    ),
    sims AS (
        SELECT f.vec_id, f.label,
               sum(f.x * cent.c)
                   / greatest(sqrt(sum(f.x * f.x)) * sqrt(sum(cent.c * cent.c)),
                              1e-12) AS cos_c
        FROM flat f
        JOIN cent ON cent.label = f.label AND cent.pos = f.pos
        GROUP BY 1, 2
    )
    SELECT vec_id, label, round(cos_c, 6) AS centroid_cosine,
           CAST(rnk AS BIGINT) AS outlier_rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY label ORDER BY cos_c, vec_id
        ) AS rnk
        FROM sims
    ) WHERE rnk <= 3
    """,
)
def l53_mislabel_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mislabeled-data detection (confident-learning lite): for each
    label, the 3 vectors LEAST similar to their own label's centroid —
    the rows a labeling-quality audit sends back for re-annotation.
    Runs entirely on the flat (id, label, dim, value) relation: one
    posexplode, a (label, dim) centroid aggregate, and a rejoin that
    folds dot product and both norms in a single grouped pass.

    Scale: centroids are |labels|×|dims| rows (broadcast); the rejoin
    shuffles the exploded embeddings once on (label, pos) — at 100 TB
    you'd instead broadcast the tiny centroid table against the
    PACKED array column and fold JVM-side (l10's shape); the flat
    form here is what keeps the oracle array-free.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "x")
    )
    cent = flat.groupBy("label", "pos").agg(F.avg("x").alias("c"))
    sims = (
        flat.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            (
                F.sum(F.col("x") * F.col("c"))
                / F.greatest(
                    F.sqrt(F.sum(F.col("x") * F.col("x")))
                    * F.sqrt(F.sum(F.col("c") * F.col("c"))),
                    F.lit(1e-12),
                )
            ).alias("cos_c")
        )
    )
    w = Window.partitionBy("label").orderBy(F.asc("cos_c"), F.asc("vec_id"))
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "vec_id",
            "label",
            F.round("cos_c", 6).alias("centroid_cosine"),
            F.col("rnk").cast("long").alias("outlier_rank"),
        )
    )


@register(
    "l54_zipf_coverage",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    freq AS (
        SELECT tok, count(*) AS c,
               row_number() OVER (ORDER BY count(*) DESC, tok) AS rnk
        FROM toks GROUP BY tok
    ),
    total AS (SELECT sum(c) AS t, count(*) AS v FROM freq)
    SELECT k.k AS vocab_size,
           CAST((SELECT sum(c) FROM freq
                 WHERE rnk <= least(k.k, total.v)) AS BIGINT)
               AS tokens_covered,
           CAST((SELECT 10000 * sum(c) FROM freq
                 WHERE rnk <= least(k.k, total.v))
                // total.t AS BIGINT) AS coverage_bp,
           CAST(total.v AS BIGINT) AS full_vocab
    FROM (VALUES (10), (30), (100)) AS k(k), total
    """,
)
def l54_zipf_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf coverage curve — what share of all corpus tokens the
    top-10/30/100 vocabulary entries cover (basis points, integer
    floor). The curve a tokenizer-budget decision reads: if 100
    types cover 99%% of tokens, byte-fallback costs are negligible;
    the long tail is where l49's per-doc OOV audit points. One number
    family, three budgets, one pass.

    Scale: one word-count shuffle; the rank window runs over the
    AGGREGATED frequency table; the three budget points are a 3-row
    literal joined against running totals — extend to any budget
    grid without rescanning.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy(F.desc("c"), F.asc("tok")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wr = Window.orderBy(F.desc("c"), F.asc("tok"))
    ranked = freq.select(
        "c",
        F.row_number().over(wr).alias("rnk"),
        F.sum("c").over(w).alias("cum"),
    )
    total = freq.agg(
        F.sum("c").alias("t"), F.count(F.lit(1)).alias("v")
    )
    ks = F.explode(F.array(F.lit(10), F.lit(30), F.lit(100))).alias("k")
    budgets = total.select(ks, "t", "v")
    # LEFT join from the 3-row budget grid: an EMPTY corpus still
    # reports every requested budget point (NULL coverage, vocab 0) —
    # the inner form returned zero rows because least(k, 0) matches no
    # rank (fuzz_oracle empty_facts variant). Still an equi-join: the
    # key is computable on the budget side.
    at_k = budgets.join(
        ranked,
        F.col("rnk") == F.least(F.col("k"), F.col("v")),
        "left",
    )
    return at_k.select(
        F.col("k").cast("long").alias("vocab_size"),
        F.col("cum").alias("tokens_covered"),
        F.expr("10000 * cum div t").alias("coverage_bp"),
        F.col("v").cast("long").alias("full_vocab"),
    )


@register(
    "l55_dedup_survivorship",
    oracle=f"""
    WITH RECURSIVE s AS (
        SELECT doc_id, lang,
               list_distinct({_DTOKS.format(src=_LOWER_TEXT)}) AS sh
        FROM documents WHERE doc_id % 5 = 0
    ), p AS (
        SELECT a.doc_id AS src, b.doc_id AS dst
        FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh)) /
              greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) >= 0.35
    ), e AS (
        SELECT src, dst FROM p UNION SELECT dst, src FROM p
    ), r(node, lbl) AS (
        SELECT DISTINCT src, src FROM e
        UNION
        SELECT e.dst, r.lbl FROM r JOIN e ON e.src = r.node
    ), c AS (
        SELECT node AS doc_id, min(lbl) AS component FROM r GROUP BY node
    ), ranked AS (
        SELECT c.component, c.doc_id, d.n_chars,
               row_number() OVER (
                   PARTITION BY c.component
                   ORDER BY d.n_chars DESC, c.doc_id
               ) AS pick
        FROM c JOIN documents d ON d.doc_id = c.doc_id
    )
    SELECT component,
           doc_id AS survivor_doc_id,
           CAST(n_chars AS BIGINT) AS survivor_chars,
           CAST((SELECT count(*) FROM ranked r2
                 WHERE r2.component = ranked.component) - 1 AS BIGINT)
               AS n_dropped
    FROM ranked WHERE pick = 1
    """,
)
def l55_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup SURVIVORSHIP policy: after near-dup clustering (l21's
    exact-audit components), pick which copy each cluster KEEPS —
    here the longest version (n_chars desc, id tiebreak), the policy
    real pipelines prefer over min-id because near-dups are usually
    truncations of one another. Emits the survivor plus how many
    copies it displaces; the dedup DECISION, separated from the
    clustering MECHANISM, so policies swap without touching the graph
    code. (Clustering pairs use the hashed-payload Jaccard — exact up
    to the within-pair 64-bit collision bound documented on
    ngram_jaccard_pairs.)

    Scale: survivor selection is one WindowGroupLimit argmax over the
    (node, component) table joined to dim-width doc metadata — the
    clustering (l21/l22) dominates; the policy layer is free.
    """
    from sports_betting_data_pipeline_spark.functions.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.pmod(F.col("doc_id"), F.lit(5)) == 0
    )
    pairs = ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", k=1,
        threshold=0.35, block_col="lang",
    ).select("id_a", "id_b")
    # footer-stat size hint, ×32 edge bound — see l22's sizing note
    hint = size_hint(docs)
    cc = connected_components(
        pairs, size_hint=32 * hint if hint else None
    )
    members = cc.join(
        F.broadcast(docs.select("doc_id", "n_chars")),
        F.col("doc_id") == F.col("node"),
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    wc = Window.partitionBy("component")
    return (
        members.select(
            "component",
            "doc_id",
            "n_chars",
            F.row_number().over(w).alias("pick"),
            (F.count(F.lit(1)).over(wc) - 1).alias("n_dropped"),
        )
        .filter(F.col("pick") == 1)
        .select(
            "component",
            F.col("doc_id").alias("survivor_doc_id"),
            F.col("n_chars").alias("survivor_chars"),
            "n_dropped",
        )
    )


@register(
    "l56_containment_dedup",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, lang,
               list_distinct({_DTOKS.format(src=_LOWER_TEXT)}) AS sh
        FROM documents WHERE doc_id % 4 = 0
    )
    SELECT a.doc_id AS contained_id,
           b.doc_id AS container_id,
           round(len(list_intersect(a.sh, b.sh))
                 / CAST(len(a.sh) AS DOUBLE), 6) AS containment,
           round(len(list_intersect(a.sh, b.sh))
                 / CAST(greatest(len(list_distinct(list_concat(a.sh, b.sh))),
                                 1) AS DOUBLE), 6) AS jaccard
    FROM s a JOIN s b
      ON a.lang = b.lang AND a.doc_id <> b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) / CAST(len(a.sh) AS DOUBLE) >= 0.9
      AND len(a.sh) > 0
    """,
)
def l56_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT near-dup detection — |A∩B|/|A| ≥ 0.9, the
    ASYMMETRIC overlap that catches a document embedded inside a
    longer one (truncations, quote-wrappers, boilerplate-padded
    copies) where symmetric Jaccard stays low because the union is
    dominated by the container. The jaccard value rides along to show
    exactly which pairs Jaccard-threshold dedup (l07/l08) would have
    missed. AUDIT-ONLY: within-language blocked all-pairs join,
    O(n²/lang) by construction — run it on samples to validate the
    production path, never on the corpus. The registered production
    twin is :func:`l57_containment_prefix_join` (exact prefix-filter
    inverted-index join, identical output by construction — the
    l21→l22 pairing for containment).
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.pmod("doc_id", F.lit(4)) == 0
    )
    toks = (
        # pushdown-cheap equivalent of size(sh) > 0, applied on the
        # raw text BEFORE the projection (_minhash_base r11)
        docs.filter(F.col("text").rlike(r"\S"))
        .select(
            "doc_id",
            "lang",
            F.array_distinct(
                F.filter(
                    F.split(F.lower("text"), r"\s+"), lambda t: t != ""
                )
            ).alias("sh"),
        )
        # tokenize once for both self-join sides (catalog runner
        # clearCache()s after every query — bench.py / g01 pattern)
        .cache()
    )
    # The fixture scan is one row-group → the cached probe side is ONE
    # partition, serializing every per-pair intersect fold on a single
    # core no matter the join strategy (the widen_for_compute lesson).
    # Widening the probe side + explicitly broadcasting the build side
    # (audit-sized by contract — this plan runs on samples) gives
    # core-count parallelism over the O(n²/lang) fold work with no
    # shuffle of the big side at all.
    a = widen_for_compute(toks).alias("a")
    b = F.broadcast(toks).alias("b")
    # Size-band prefilter IMPLIED by the predicate: containment >= 0.9
    # forces |A∩B| >= 0.9|A| and |A∩B| <= |B|, so any qualifying
    # container has |B| >= 0.9|A| — pruning the pair set before the
    # expensive array intersections without changing the result.
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.doc_id") != F.col("b.doc_id"))
        & (
            F.size(F.col("b.sh")).cast("double")
            >= 0.9 * F.size(F.col("a.sh"))
        ),
    ).select(
        F.col("a.doc_id").alias("contained_id"),
        F.col("b.doc_id").alias("container_id"),
        F.size(F.array_intersect("a.sh", "b.sh")).alias("inter"),
        F.size("a.sh").alias("na"),
        # both sides are array_distinct'd, so |A∪B| = |A|+|B|−|A∩B|
        # — arithmetic instead of a second O(|A|+|B|) hash fold
        (
            F.size("a.sh") + F.size("b.sh")
            - F.size(F.array_intersect("a.sh", "b.sh"))
        ).alias("un"),
    )
    return pairs.filter(
        F.col("inter") / F.col("na").cast("double") >= 0.9
    ).select(
        "contained_id",
        "container_id",
        F.round(F.col("inter") / F.col("na").cast("double"), 6).alias(
            "containment"
        ),
        F.round(
            F.col("inter") / F.greatest(F.col("un"), F.lit(1)).cast("double"), 6
        ).alias("jaccard"),
    )


@register(
    "l57_containment_prefix_join",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, lang,
               list_distinct({_DTOKS.format(src=_LOWER_TEXT)}) AS sh
        FROM documents WHERE doc_id % 4 = 0
    )
    SELECT a.doc_id AS contained_id,
           b.doc_id AS container_id,
           round(len(list_intersect(a.sh, b.sh))
                 / CAST(len(a.sh) AS DOUBLE), 6) AS containment,
           round(len(list_intersect(a.sh, b.sh))
                 / CAST(greatest(len(list_distinct(list_concat(a.sh, b.sh))),
                                 1) AS DOUBLE), 6) AS jaccard
    FROM s a JOIN s b
      ON a.lang = b.lang AND a.doc_id <> b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) / CAST(len(a.sh) AS DOUBLE) >= 0.9
      AND len(a.sh) > 0
    """,
)
def l57_containment_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION containment-dedup path (l56's l22): exact
    prefix-filter inverted-index join — C(A,B) ≥ 0.9 pairs found by
    probing each doc's ⌊0.1·|A|⌋+1 globally-rarest tokens against a
    (lang, token) inverted index, then exact-verifying candidates.
    100% recall BY CONSTRUCTION (pigeonhole on the prefix bound), so
    the oracle is the exact audit SQL verbatim — stronger than a
    recall pin; tests/test_llm_ops.py additionally pins l57 ≡ l56.

    Why this, not MinHash bands: containment ≥ 0.9 pairs reach
    Jaccard ≈ 0.23 on this corpus (tiny doc inside a big container),
    far below any banded-LSH operating point — Jaccard LSH is the
    wrong candidate generator for asymmetric overlap; prefix
    filtering (Bayardo et al. WWW'07 / SSJoin ICDE'06) is the exact
    published alternative and every join in it is an equi-join. See
    :func:`containment_prefix_pairs` for the shuffle profile.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.pmod("doc_id", F.lit(4)) == 0
    )
    return containment_prefix_pairs(
        docs,
        id_col="doc_id",
        text_col="text",
        block_col="lang",
        threshold_num=9,
        threshold_den=10,
    )


@register(
    "pl08_multimodal_pipeline",
    oracle="""
    WITH samples AS (
        SELECT d.doc_id,
               gs.i // 8 AS frame_idx,
               ascii(substr(d.text, 2 * gs.i + 1, 1))
               + 256 * ascii(substr(d.text, 2 * gs.i + 2, 1)) AS s
        FROM (SELECT DISTINCT doc_id, text FROM documents
              -- the qualifying predicate is the ACTUAL payload size:
              -- the decoder consumes 32 bytes, and the n_chars column
              -- is metadata that can disagree with the text (NULL
              -- text, or a shorter/multibyte payload — fuzz_oracle
              -- nulls + extremes variants)
              WHERE doc_id < 50
                AND octet_length(encode(text)) >= 32
                -- ASCII payloads only (bytes == chars): the oracle's
                -- character arithmetic mirrors the engine's BYTE
                -- decode only when they coincide (fuzz extremes)
                AND octet_length(encode(text)) = length(text)) d,
             generate_series(0, 15) AS gs(i)
    )
    SELECT doc_id,
           CAST(frame_idx AS BIGINT) AS frame_idx,
           round(sqrt(sum(s * s) / 8.0), 6) AS rms,
           CAST(max(s) AS BIGINT) AS peak
    FROM samples
    GROUP BY 1, 2
    """,
)
def pl08_multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed MULTIMODAL pipeline end to end: assets land as
    loose binary files via the distributed executor-side write
    (src08's edge), are ingested back through Spark's ``binaryFile``
    source, and the RAW READ BYTES are decoded as little-endian int16
    PCM whose per-frame RMS/peak features come out of one Arrow
    ``mapInPandas`` pass — write → list → read → decode → featurize,
    every byte accounted for. Because the payloads are the documents'
    own ASCII bytes, the oracle recomputes the identical samples with
    character arithmetic, so the WHOLE binary path is hash-checked —
    no fake decode anywhere.

    Scale: the landing write and the binaryFile list/read are both
    per-file parallel; only (path, 32 bytes) reach the decoder; the
    feature pass is the m05 shape. Swap the byte interpretation for a
    real codec (m03's WAV, m04's BMP) and nothing else changes — that
    is the point of the composition.
    """
    import os
    import shutil

    from sports_betting_data_pipeline_spark.plans.q_sources import _scratch

    path = _scratch(sf_dir, "pl08_assets")
    # fresh landing zone: stale asset_*.bin files from an earlier run
    # with a different qualifying doc set would be silently re-ingested
    # by the binaryFile glob (ADVICE r4) — same discipline as st14
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents").filter(
        # qualify on the ACTUAL payload size the decoder consumes
        # (32 bytes) — the n_chars metadata column can disagree with
        # the text, and a short/NULL payload killed the decode stage
        # (fuzz_oracle nulls + extremes variants; oracle matches)
        (F.col("doc_id") < 50)
        & (F.octet_length(F.encode("text", "UTF-8")) >= 32)
        # ASCII payloads only (bytes == chars) — see the oracle note
        & (F.octet_length(F.encode("text", "UTF-8")) == F.length("text"))
    )

    def write_part(rows):
        for r in rows:
            fname = os.path.join(path, f"asset_{r['doc_id']:06d}.bin")
            with open(fname + ".tmp", "wb") as fh:
                fh.write(r["text"].encode("utf-8"))
            os.replace(fname + ".tmp", fname)

    docs.select("doc_id", "text").foreachPartition(write_part)
    assets = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "asset_*.bin")
        .load(path)
        .select(
            F.regexp_extract(F.col("path"), r"asset_(\d+)\.bin$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )

    def batches(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            out = []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                pcm = np.frombuffer(bytes(content)[:32], dtype="<i2").astype(
                    np.int64
                )
                frames = pcm.reshape(2, 8)
                sumsq = (frames * frames).sum(axis=1)
                rms = np.sqrt(sumsq / 8.0)
                peak = frames.max(axis=1)
                for idx in range(2):
                    out.append(
                        {
                            "doc_id": int(doc_id),
                            "frame_idx": idx,
                            "rms": round(float(rms[idx]), 6),
                            "peak": int(peak[idx]),
                        }
                    )
            yield pd.DataFrame(out)

    schema = "doc_id long, frame_idx long, rms double, peak long"
    return assets.mapInPandas(batches, schema=schema)
