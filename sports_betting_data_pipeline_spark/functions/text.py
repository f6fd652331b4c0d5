"""Text-analysis operators over document tables: tokenization, token
counting, language ID, quality scoring, fingerprinting.

Everything here is pure JVM-side column expressions (split /
regexp_count / array_* / aggregate) — at 100 TB these run inside
whole-stage codegen with zero Python in the hot path, embarrassingly
parallel per partition (no shuffles except where a groupBy is the
semantics).

The token-based builders take their text as SQL expression text — a
quoted column name (``session.qname``) or a composed expression such
as ``"lower(text)"`` — and ``ws_tokens``/``shingles`` are that text
parsed once server-side (``F.expr``): one Py4J call where a
Column-operator lambda costs ~13 ms of driver-side construction each.

Design notes per operator:
- token counts: whitespace tokens and a BPE-ish regex tokenizer
  (`\\w+` runs or single non-space symbols) — the standard
  pre-tokenizer shape for LLM data work.
- language ID: marker-word overlap heuristic (per-language stopword
  hit counts, argmax with a fixed precedence for ties). Deterministic
  and SQL-expressible, so the DuckDB oracle can check it exactly.
- quality score: length / stopword-ratio / uniqueness features of the
  kind used in pretraining-corpus filtering (C4/Gopher-style rules),
  combined into one bounded score.
- fingerprints: 64-bit xxhash of normalized text (exact), and k-shingle
  arrays feeding the MinHash pipeline in dedup.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from sports_betting_data_pipeline_spark.session import qname

# Marker words per language for the heuristic classifier. Precedence
# (tie-break) order is the tuple order below.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "is", "and", "of"],
    "es": ["el", "la", "los", "que", "y"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "les", "une", "et", "est"],
    "zh": ["的", "是", "了", "在", "我"],
}

# Small English stopword list for quality ratios.
STOPWORDS = ["the", "a", "an", "is", "are", "of", "and", "or", "to", "in"]


def ws_tokens_sql(t: str) -> str:
    """SQL text of :func:`ws_tokens` over the SQL expression ``t``."""
    return f"filter(split({t}, '\\\\s+'), t -> t != '')"


def ws_tokens(text: str) -> Column:
    """Whitespace tokenization of the SQL expression ``text``; drops
    empty tokens."""
    return F.expr(ws_tokens_sql(text))


def ws_token_count(text: str) -> Column:
    return F.size(ws_tokens(text)).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish pre-token count: alnum runs + individual symbols.

    Explicit character classes (not ``\\w``) so Java regex (Spark) and
    RE2 (DuckDB oracle) agree.
    """
    return F.regexp_count(text, F.lit(r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]")).cast("long")


def char_count(text: Column) -> Column:
    return F.length(text).cast("long")


def uniq_token_ratio(text: str) -> Column:
    """Distinct-token / token ratio — low values indicate boilerplate
    or repetition (a Gopher-style repetition filter feature)."""
    toks = ws_tokens(text)
    return F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1))


def stopword_ratio(text: str) -> Column:
    toks = ws_tokens(text)
    hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def mean_token_length(text: str) -> Column:
    toks = ws_tokens(text)
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(text: str) -> Column:
    """Bounded [0,1] quality heuristic combining pretraining-filter
    features: enough-but-not-degenerate length, sane mean token length,
    some stopword mass, low repetition."""
    toks = ws_tokens(text)
    n = F.size(toks).cast("long")
    denom = F.greatest(F.size(toks), F.lit(1))
    len_ok = F.when((n >= 10) & (n <= 100000), F.lit(1.0)).otherwise(F.lit(0.0))
    mtl = (
        F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
        / denom
    )
    mtl_ok = F.when((mtl >= 2.0) & (mtl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    sw = F.size(F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS))) / denom
    sw_ok = F.when(sw >= 0.05, F.lit(1.0)).otherwise(F.lit(0.0))
    uniq = F.size(F.array_distinct(toks)) / denom
    return (len_ok + mtl_ok + sw_ok + uniq) / F.lit(4.0)


def lang_id(text: str) -> Column:
    """Marker-overlap language classifier with fixed tie precedence.

    Double let-binding via single-element transforms (the shingles
    technique — HOFs are excluded from subexpression elimination, so
    naming is the only way to evaluate once): the distinct-token array
    binds first, then the 5 marker-overlap scores bind as ONE array, so
    tokenization runs once per row and each intersect once — the naive
    form re-ran the full tokenize pipeline inside every score
    reference (~10× per row: greatest + each when-condition)."""
    langs = list(LANG_MARKERS)
    dtoks = F.array_distinct(ws_tokens(f"lower({text})"))

    def decide(sc: Column) -> Column:
        best = F.greatest(*[sc[i] for i in range(len(langs))])
        expr = F.lit("unknown")
        # precedence chain in reverse so earlier languages win ties
        for i in reversed(range(len(langs))):
            expr = F.when((sc[i] == best) & (best > 0), F.lit(langs[i])).otherwise(
                expr
            )
        return expr

    def score_and_decide(d: Column) -> Column:
        scores = F.array(
            *[
                F.size(
                    F.array_intersect(
                        d, F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
                    )
                )
                for lang in langs
            ]
        )
        return F.transform(F.array(scores), decide)[0]

    return F.transform(F.array(dtoks), score_and_decide)[0]


def shingles_sql(t: str, k: int = 3) -> str:
    """SQL text of :func:`shingles` over the SQL expression ``t``."""
    return (
        f"transform(array({ws_tokens_sql(f'lower({t})')}), "
        f"toks -> IF(toks IS NULL, NULL, "
        f"IF(size(toks) = 0, CAST(array() AS ARRAY<STRING>), "
        f"array_distinct(transform("
        f"sequence(1, greatest(size(toks) - {k - 1}, 1)), "
        f"i -> concat_ws(' ', slice(toks, i, {k})))))))[0]"
    )


def shingles(text: str, k: int = 3) -> Column:
    """Distinct k-word shingles (the MinHash/Jaccard input unit) of the
    lowercased SQL expression ``text``: a sliding k-window over its
    whitespace tokens (transform+slice), with the token-less edges
    spelled out (both found by scripts/fuzz_oracle.py):

    - NULL text → NULL shingles (``IF(toks IS NULL, NULL, …)``).
      ``greatest(NULL - k + 1, 1)`` would otherwise resolve to 1
      (greatest skips NULLs) and ``concat_ws`` over the NULL slice to
      '' — silently conflating NULL text with empty text (nulls
      variant: l08 paired every NULL-text doc with every empty one).
    - EMPTY/whitespace-only text → [] (``IF(size(toks) = 0, …)``) — an
      empty shingle SET, which the size()>0 candidate filters exclude.
      At n=0 the greatest(n-k+1, 1) lower bound minted a [''] singleton
      that paired all empty docs at Jaccard 1.0, which no DuckDB
      oracle fragment ever replicated (extremes variant — the
      fragment's list ops give [] there).
    - 1..k-1 tokens → one shingle, their full-token join (the
      greatest(n-k+1, 1) lower bound).

    The token array is LET-BOUND through a single-element ``transform``
    before the sliding window: a lambda body re-evaluates every
    captured outer expression per element, so referencing the
    tokenize pipeline directly inside the per-index lambda would
    re-run split+filter once per shingle (~tokens× redundant work —
    measured 3.4s -> 0.5s over 5000 docs at sf0.1).
    """
    return F.expr(shingles_sql(text, k))


def unigram_surprisal(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Perplexity-style quality scoring with a corpus-trained unigram
    LM (the CCNet/Wikipedia-LM filtering step, with the LM trained on
    the corpus itself instead of KenLM): per document, the mean
    negative log-probability of its tokens under corpus unigram
    frequencies. High surprisal = tokens rare in the corpus =
    off-distribution document; low = boilerplate.

    Output: (id, n_tokens, mean_surprisal) — mean of -ln(count/N),
    rounded 4dp.

    Scale: the LM "training" is one word-count aggregate (map-side
    partial combine); scoring is an explode + equi-join on token
    against that frequency table (broadcastable for natural-language
    vocabularies — vocab grows ~log corpus) + one per-doc average.
    Never quadratic; no Python.
    """
    from pyspark.sql import functions as F

    toks = docs.select(
        F.col(id_col), F.explode(ws_tokens(f"lower({qname(text_col)})")).alias("_w")
    )
    counts = toks.groupBy("_w").agg(F.count(F.lit(1)).alias("_c"))
    # N = sum of the per-word counts: one scalar off the (tiny)
    # frequency table, NOT a second tokenize+explode pass over the
    # corpus (same value, one corpus scan saved — at 100 TB a whole
    # redundant pass per invocation).
    total = counts.agg(F.sum("_c").alias("_n"))
    probs = counts.crossJoin(F.broadcast(total)).select(
        "_w", (F.col("_c") / F.col("_n")).alias("_p")
    )
    return (
        toks.join(F.broadcast(probs), on="_w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("_p"))), 4).alias("mean_surprisal"),
        )
    )


def bm25_topk(
    docs,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """BM25 ranking of documents against a bag of query terms — the
    retrieval scorer for corpus search / data curation ("find docs
    about X to upsample"). Standard Robertson/Sparck-Jones form:

        score(d) = sum_t idf(t) * tf * (k1+1) /
                   (tf + k1 * (1 - b + b * len_d / avg_len))
        idf(t)   = ln((N - df + 0.5) / (df + 0.5) + 1)

    Output: (id, score, rank) top-k, score rounded 4dp, id tiebreak.

    Scale: tf is a filtered explode + count; df is a tiny per-term
    aggregate (broadcast); N and avg_len are a 1-row scalar
    (broadcast). The scoring join touches only docs containing at
    least one query term. One shuffle for tf, one top-k window.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    terms = [t.lower() for t in query_terms]
    toks = docs.select(
        F.col(id_col), F.explode(ws_tokens(f"lower({qname(text_col)})")).alias("_w")
    )
    lens = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("_len"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("_n_docs"), F.avg("_len").alias("_avg_len")
    )
    hits = toks.filter(F.col("_w").isin(terms))
    tf = hits.groupBy(id_col, "_w").agg(F.count(F.lit(1)).alias("_tf"))
    df_t = tf.groupBy("_w").agg(F.count(F.lit(1)).alias("_df"))
    scored = (
        tf.join(F.broadcast(df_t), on="_w")
        .join(lens, on=id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            (
                F.log(
                    (F.col("_n_docs") - F.col("_df") + 0.5)
                    / (F.col("_df") + 0.5)
                    + 1.0
                )
                * (F.col("_tf") * (k1 + 1))
                / (
                    F.col("_tf")
                    + k1 * (1 - b + b * F.col("_len") / F.col("_avg_len"))
                )
            ).alias("_s"),
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("_s"), 4).alias("score"))
    )
    w = Window.orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(id_col, "score", "rank")
    )


def winnow_fingerprints(text: str, k: int = 3, w: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003): hash every k-token gram, slide a w-hash window over
    the gram sequence, and keep the minimum hash of each window — the
    distinct selected hashes are the document's fingerprint set. The
    guarantee: any shared run of at least w+k-1 tokens between two
    documents yields at least one shared fingerprint, at ~1/w the
    storage of the full gram set.

    Pure expression-level (no shuffle, no UDF). Both the token array
    and the gram-hash array are LET-BOUND through single-element
    ``transform``s — per text.shingles' lesson, a lambda that captured
    the md5 pipeline directly would re-evaluate it once per window
    (O(n*w) md5 calls instead of O(n)).

    Documents shorter than k+w-1 tokens clamp to a single window /
    single gram (greatest(...) guards); callers wanting exact winnowing
    semantics should filter those out.
    """

    def over_hashes(h: Column) -> Column:
        m = F.size(h)
        jdx = F.sequence(F.lit(1), F.greatest(m - (w - 1), F.lit(1)))
        return F.array_distinct(
            F.transform(jdx, lambda j: F.array_min(F.slice(h, j, w)))
        )

    def over_tokens(toks: Column) -> Column:
        n = F.size(toks)
        idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
        h = F.transform(
            idx, lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, k)))
        )
        return F.transform(F.array(h), over_hashes)[0]

    return F.transform(F.array(ws_tokens(f"lower({text})")), over_tokens)[0]


def gopher_rules(text: str) -> Column:
    """Gopher-style (Rae et al. 2021, public) document quality rules,
    as a struct of per-rule pass booleans plus the composite keep.

    Rules (thresholds tuned to the fixture corpus but shaped like the
    published ones): word count within [30, 100000]; mean word length
    within [3, 10]; at least 2 distinct stopwords present; duplicate
    2-gram fraction <= 0.2. All four are single-pass array expressions
    over one tokenization — map-only, JVM-side, no shuffle; a 100 TB
    corpus filter runs at scan bandwidth.
    """
    # Let-binding discipline (SCALE.md "Expression-level lessons" #2,
    # r11 longdoc finding): the original flat spelling captured `toks`
    # in four rule expressions and `grams` twice, and `keep` repeated
    # all four rules — Catalyst's struct-field extraction then inlines
    # each reference, so the tokenization re-ran MULTIPLICATIVELY
    # (keep → rep → grams ×2 → toks ...). On 60k-token longdoc shapes
    # the query never finished; with toks and grams bound once through
    # single-element transform() lambdas it is one linear pass per row.
    def from_scalars(s: Column) -> Column:
        ok_wc = (s["n"] >= 30) & (s["n"] <= 100000)
        ok_mwl = (s["mwl"] >= 3.0) & (s["mwl"] <= 10.0)
        ok_stop = s["n_stop"] >= 2
        ok_rep = s["dup_ratio"] <= 0.2
        return F.struct(
            ok_wc.alias("ok_word_count"),
            ok_mwl.alias("ok_mean_word_len"),
            ok_stop.alias("ok_stopwords"),
            ok_rep.alias("ok_repetition"),
            (ok_wc & ok_mwl & ok_stop & ok_rep).alias("keep"),
        )

    def over_grams(toks: Column, n: Column, grams: Column) -> Column:
        # the O(n) scalars are themselves let-bound: mwl alone is
        # referenced 4× through ok_mwl+keep, and each reference would
        # re-run the interpreted aggregate() over the token array
        scalars = F.struct(
            n.alias("n"),
            (
                F.aggregate(toks, F.lit(0.0), lambda a, t: a + F.length(t))
                / F.greatest(n, F.lit(1))
            ).alias("mwl"),
            F.size(
                F.array_distinct(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
            ).alias("n_stop"),
            F.when(
                F.size(grams) > 0,
                1.0 - F.size(F.array_distinct(grams)) / F.size(grams),
            ).otherwise(F.lit(0.0)).alias("dup_ratio"),
        )
        return F.transform(F.array(scalars), from_scalars)[0]

    def over_tokens(toks: Column) -> Column:
        n = F.size(toks)
        grams = F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.transform(
            F.array(grams), lambda g: over_grams(toks, n, g)
        )[0]

    return F.transform(F.array(ws_tokens(f"lower({text})")), over_tokens)[0]
