"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard — the near-dup toolkit of a pretraining-data pipeline.

Scale design (the whole point of these ops at 100 TB):
- exact: one hash-shuffle on the dedup key; canonical-row selection via
  min-key window so output is deterministic.
- MinHash+LSH: signatures are computed scan-side with zero Python
  (shingle → xxhash64(shingle, seed) → array_min per seed), then ONLY
  the (band_id, band_hash) pairs shuffle — candidate generation is a
  self-equi-join on band buckets, never an O(n²) cross join. Bands/rows
  trade recall vs candidate count (b bands of r rows ≈ s-curve at
  (1/b)^(1/r)).
- SimHash: 64-bit signature per doc (near-dup = small Hamming
  distance); JVM-side via bit-sign aggregation over token hashes.
- n-gram Jaccard: exact verification measure used on LSH candidates;
  also exposed standalone with explicit blocking for small cohorts.

The signature/hash primitives are deterministic (xxhash64 with fixed
seeds) so results are reproducible across partitionings and runs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sports_betting_data_pipeline_spark.functions.text import shingles, shingles_sql
from sports_betting_data_pipeline_spark.session import qname


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------
def exact_dedupe_canonical(
    df: DataFrame, key: str, subset: Sequence[str]
) -> DataFrame:
    """Keep the row with the smallest ``key`` per distinct ``subset`` —
    deterministic canonical-row selection (dropDuplicates keeps an
    arbitrary row, which is not reproducible across partitionings)."""
    w = Window.partitionBy(*subset).orderBy(F.col(key))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# Jaccard on shingle sets
# ---------------------------------------------------------------------------
def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two distinct-element arrays.

    The union size is computed ARITHMETICALLY (|A| + |B| - |A∩B|,
    exact because the inputs are distinct-element by contract) rather
    than with ``array_union``: the union fold would build a second
    per-pair hash set AND allocate the union array, roughly doubling
    the per-candidate cost of every all-pairs/LSH verify stage that
    calls this — the same arithmetic-union rewrite l56's containment
    verify measured at ~2x on its pair stage. ``size()`` is an O(1)
    length lookup on both operands."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return inter / F.greatest(union, F.lit(1))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.2,
    block_col: str | None = None,
    hashed: bool = True,
) -> DataFrame:
    """All-pairs exact k-shingle Jaccard above ``threshold``.

    WITHOUT ``block_col`` this is a cross join — only for small cohorts
    (a sampled audit, a single bucket). At scale pass a blocking column
    (source, length bucket, LSH band) so the join is an equi-join.
    Output: (id_a, id_b, jaccard_sim), id_a < id_b.

    ``hashed=True`` (default) maps each shingle to its xxhash64 long
    BEFORE the self-join: the shuffled rows carry ``array<bigint>``
    (8 bytes/element) instead of the wider string array, and the
    per-pair intersect compares longs instead of hashing strings —
    measured 2.2x on the l21/l55 edge-generation stage at sf0.1 with
    byte-identical surviving pairs. The result stays exact unless two
    DISTINCT shingles inside the SAME compared pair collide in 64
    bits: P ≈ m²/2⁶⁴ per pair for m-shingle docs (~5e-14 at m=10³),
    so even 10¹² candidate pairs expect ~0.05 flipped intersection
    counts corpus-wide. Pass ``hashed=False`` where a certified-exact
    string comparison is required (sampled audits).
    """
    # NOT cached: each self-join side recomputes the shingle
    # projection, which is map-side width-k splitting — cheaper to do
    # twice than to materialize shingle arrays wider than the text
    # itself (r6 cold-cache A/B: uncached 3.6 s vs cached 4.3 s for
    # the CC-clustering consumers; at 100 TB the same argument holds —
    # caching the wide intermediate costs more storage/IO than the
    # narrow recompute).
    # One server-parsed SQL text (one Py4J call): shingling + the
    # optional payload hash.
    if hashed:
        # xxhash64 is injective-in-practice per the bound above; the
        # transform keeps array_distinct's dedup (distinct strings map
        # to distinct longs absent a collision), preserving the
        # distinct-element contract jaccard() relies on.
        sh_expr = F.expr(
            f"transform({shingles_sql(qname(text_col), k)}, "
            "s -> xxhash64(s))"
        )
    else:
        sh_expr = shingles(qname(text_col), k)
    sh = df.select(
        F.col(id_col).alias("_id"),
        sh_expr.alias("_sh"),
        *( [F.col(block_col).alias("_blk")] if block_col else [] ),
    )
    left = sh.select(*[F.col(c).alias(c + "_l") for c in sh.columns])
    right = sh.select(*[F.col(c).alias(c + "_r") for c in sh.columns])
    if block_col:
        # The block join's key space is only |blocks| wide, so the
        # per-block O(n²) Jaccard folds would land on that many
        # reducers no matter the core count (semdedup's salting
        # lesson). Salting the left side deterministically and
        # replicating the right across the salt spreads each block
        # over |blocks|×S partitions; each pair still meets exactly
        # once (the left row carries one salt).
        _S = 8
        # Salt on a HASH of the id, not the id itself: pmod(id, S)
        # fails analysis for string ids (the API accepts any id type)
        # and clusters sequential ids; xxhash64 works for every type
        # and spreads skew uniformly (ADVICE r5). Pair semantics are
        # unchanged — each left row still carries exactly one salt.
        left = left.withColumn(
            "_salt_l", F.pmod(F.xxhash64(F.col("_id_l")), F.lit(_S))
        )
        right = right.withColumn(
            "_salt_r",
            F.explode(F.sequence(F.lit(0), F.lit(_S - 1)).cast("array<bigint>")),
        )
        joined = left.join(
            right,
            on=[
                F.col("_blk_l") == F.col("_blk_r"),
                F.col("_salt_l") == F.col("_salt_r"),
            ],
        )
    else:
        joined = left.crossJoin(right)
    return (
        joined.filter(F.col("_id_l") < F.col("_id_r"))
        .select(
            F.col("_id_l").alias("id_a"),
            F.col("_id_r").alias("id_b"),
            jaccard(F.col("_sh_l"), F.col("_sh_r")).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
_LONG_MAX = (1 << 63) - 1


def minhash_signature_from_shingles(
    sh: str, num_hashes: int = 32, pre_hashed: bool = False
) -> Column:
    """MinHash signature from the shingle-array SQL expression ``sh``,
    in ONE pass.

    Each shingle string is xxhash64'd exactly once; the ``num_hashes``
    per-seed hash family is derived by rehashing that fixed-width
    64-bit value with the seed (cheap long ops, no string re-hash).
    A single ``aggregate`` fold keeps the running minima — the naive
    form (one ``transform`` + ``array_min`` per seed) re-walks the
    shingle array ``num_hashes`` times and, worse, lets Catalyst's
    projection collapse inline the whole tokenize→shingle pipeline
    into every one of those expressions.

    ``pre_hashed=True`` means ``sh`` already holds the per-shingle
    xxhash64 longs (the :func:`_minhash_base` payload-hashing layout)
    and the first-level hash is skipped — the signature is
    bit-identical to hashing the strings here, because it IS the same
    xxhash64 application, just hoisted to the producer.

    Empty shingle sets yield an all-``_LONG_MAX`` signature (callers
    filter on ``size(sh) > 0``).
    """
    base = sh if pre_hashed else f"transform({sh}, s -> xxhash64(s))"
    return F.expr(
        f"aggregate({base}, "
        f"array_repeat({_LONG_MAX}L, {num_hashes}), "
        f"(acc, h) -> zip_with(acc, "
        f"transform(sequence(0, {num_hashes - 1}), i -> xxhash64(h, i)), "
        f"(a, b) -> least(a, b)))"
    )


def minhash_estimated_sim(sig_a: Column, sig_b: Column) -> Column:
    """Fraction of agreeing signature positions ≈ Jaccard."""
    agree = F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda v: v))
    return agree / F.size(sig_a)


def _minhash_base(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    num_hashes: int,
    materialize: bool = True,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(_id, _sh, _sig) per doc. TOKEN-LESS docs are EXCLUDED from
    candidate generation by the size() filter below, in both flavors
    (scripts/fuzz_oracle.py found each):

    - NULL text: shingles(NULL) is NULL (content unknown ≠ content
      empty) — the same rows the oracles' SQL null propagation drops
      from their joins (nulls variant: the pre-fix '' conflation made
      every NULL-text doc a "duplicate" of every empty one, 1511
      pairs vs the oracle's 26 at 10% nulls).
    - EMPTY/whitespace text: shingles('') is [] — the empty set has
      Jaccard 0 against everything, exactly what the DuckDB fragments
      (_dshk) compute (extremes variant: the pre-fix [''] singleton
      paired all empty docs at "Jaccard 1.0", a semantic no oracle
      ever implemented and a giant-bucket skew hazard at corpus
      scale — one all-empty block is one O(d²) task).

    Docs with 1..k-1 tokens keep their single full-token join as the
    shingle (greatest(n-k+1, 1)), replicated verbatim by the oracle
    fragments. Dedup of content-less docs belongs to the EXACT-dedup
    family (l05/l06 group-by semantics), not near-dup candidates.

    The trailing ``repartition`` is the anti-projection-collapse barrier:
    every downstream consumer (band hashes, exact-Jaccard verify)
    reads the signature/shingles from the exchange instead of
    re-inlining the fold (see SCALE.md "Expression-level lessons").
    The input is widened FIRST so the shingle+signature fold runs
    core-parallel even off a single-row-group scan (no-op at scale —
    io.widen_for_compute).

    ``_sh`` holds the per-shingle xxhash64 LONGS, not the strings
    (SCALE.md "Hash the join payload"): the cached/shuffled rows carry
    array<bigint>, the verify intersect compares longs, and the
    signature fold consumes the same values pre_hashed (bit-identical
    signatures — the first-level hash is merely hoisted). Verified
    Jaccard stays exact up to the documented within-pair 64-bit
    collision bound.

    ``materialize=False`` returns the bare fold plan WITHOUT the
    repartition+cache: for a caller whose FIRST downstream op is
    itself a shuffle-then-cache of the same rows (the collapse_exact
    set-key window in :func:`minhash_lsh_candidates`), this base has
    exactly ONE consumer, so its own materialization is a wasted
    exchange + an extra full-width InMemoryRelation fill — the fold
    still runs once because it is computed below the consumer's first
    exchange and its RESULT rides that shuffle (projection collapse
    cannot duplicate it past an exchange).

    ``extra_cols`` are carried verbatim alongside (_id, _sh, _sig) —
    r12: lets :func:`incremental_neardup_novel` fold batch+store into
    ONE base pipeline tagged with a side flag instead of two."""
    from sports_betting_data_pipeline_spark.io import widen_for_compute

    # Token-less docs are dropped with a CHEAP text-level predicate,
    # not size(_sh) > 0 on the derived column (r11): predicate
    # pushdown substitutes a derived-column filter through the
    # projection and below the widen exchange, so the ENTIRE
    # tokenize+shingle+xxhash64 fold ran twice per doc — once at the
    # scan (pre-widen, serialized on the fixture's single row group)
    # and again in the projection (plan audit: the r11-before l08 plan
    # carries the full fold in BOTH Filter(4) and Project(6)).
    # rlike(\S) is exactly equivalent: a doc has >= 1 token under
    # split(\s+) iff it contains one non-\s char (NULL text -> NULL
    # -> dropped, whitespace-only -> no match -> dropped; trim() would
    # NOT be equivalent — it strips ASCII spaces only, so a tab-only
    # doc would slip through). The regex early-exits on the first
    # non-whitespace byte, so the pushed-down scan filter is O(1) per
    # doc instead of a second full fold.
    plan = (
        widen_for_compute(
            df.select(
                F.col(id_col),
                F.col(text_col),
                *[F.col(c) for c in extra_cols],
            )
        )
        .filter(F.col(text_col).rlike(r"\S"))
        .select(
            F.col(id_col).alias("_id"),
            F.expr(
                f"transform({shingles_sql(qname(text_col), k)}, "
                "s -> xxhash64(s))"
            ).alias("_sh"),
            *[F.col(c) for c in extra_cols],
        )
        .withColumn(
            "_sig",
            minhash_signature_from_shingles(
                "_sh", num_hashes, pre_hashed=True
            ),
        )
    )
    if not materialize:
        return plan
    return (
        plan.repartition(F.col("_id"))
        # cache, not just an exchange barrier: consumers prune
        # DIFFERENT columns (buckets read _sig, verifies read _sh), so
        # their exchange subtrees differ post-optimization and
        # ReuseExchange cannot collapse them — each would re-run the
        # shingle+signature fold. One cached evaluation serves all
        # (l57's tokenize-once lesson; catalog runner clearCache()s)
        .cache()
    )


def minhash_band_buckets(
    base: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """LSH bucket table (_id, band_id, band_hash) from a
    :func:`_minhash_base` frame — ``bands`` narrow rows per doc.

    This IS the persistable near-dup index: at scale, write it out
    bucketed by (band_id, band_hash) once per corpus snapshot, and
    every ingest batch joins its own (tiny) bucket table against the
    store without re-scanning history
    (:func:`incremental_neardup_novel`)."""
    if num_hashes % bands:
        # Silent truncation would band only the first bands×(n//b)
        # signature positions: the caller pays for the full fold but
        # gets a different b/r s-curve than the one they tuned for.
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes} "
            "(b bands of r rows consume exactly b*r signature positions)"
        )
    rows_per_band = num_hashes // bands
    # One server-parsed explode expression (the simhash probe_structs
    # pattern): the Column-loop form was bands × rows_per_band Py4J
    # round trips of pure construction.
    structs = ", ".join(
        "named_struct('band_id', {b}, 'band_hash', xxhash64({b}, {refs}))".format(
            b=b,
            refs=", ".join(
                f"_sig[{b * rows_per_band + r}]" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return base.select(
        "_id",
        *extra_cols,
        F.expr(f"explode(array({structs}))").alias("_band"),
    ).select("_id", *extra_cols, "_band.band_id", "_band.band_hash")


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    verify_threshold: float = 0.0,
    collapse_exact: bool = False,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash LSH, verified with
    exact shingle Jaccard.

    Output: (id_a, id_b, est_sim, jaccard_sim), id_a < id_b, filtered
    to ``jaccard_sim >= verify_threshold``.

    Shuffle profile at scale: the band join shuffles ONLY (band_id,
    band_hash, id) — ``bands`` narrow rows per doc; shingle/signature
    arrays never ride the candidate-generation shuffle. Deduped
    candidate pairs then join back to the signatures for verification
    (tiny vs the corpus for honest thresholds). The ``repartition``
    after signature computation is a materialization barrier: without
    it, projection collapse would inline the signature fold into every
    band-hash expression (``bands``× recompute per row). No cross join
    ever happens; collision buckets are tiny for honest hash functions.

    ``collapse_exact`` is the SKEW GUARD for duplicate-heavy corpora
    (boilerplate pages, mirrored docs): docs with an IDENTICAL shingle
    set — true Jaccard exactly 1.0 — are collapsed to one
    representative (min id) before banding, and re-attached to the
    output as star edges (rep, member, sim 1.0). Without it, a block
    of d identical docs shares every band hash, putting d entries in
    ONE bucket and making the self-join locally O(d²) on a hot key; a
    10% duplicate block at corpus scale is a straggler task. With it,
    the block contributes ONE bucket entry, and the star edges keep
    connected-components results identical (a star spans the same
    component as the clique).
    """
    # With collapse_exact the base has exactly ONE consumer (the
    # set-key window pipeline below, which shuffles and caches these
    # same rows itself), so the base's own repartition+cache would be
    # a pure extra materialization — skip it. Within the single
    # consumer plan the shingle fold is referenced three times (_sh,
    # _sig, _setkey) but CollapseProject refuses to duplicate non-cheap
    # expressions, so the fold still evaluates once per row (pinned by
    # test_minhash_uncached_base_no_fold_duplication).
    base = _minhash_base(
        df, id_col, text_col, k, num_hashes, materialize=not collapse_exact
    )

    star = None
    if collapse_exact:
        # Exact-set key: sorted shingle array hashed — identical key
        # <=> identical shingle set <=> Jaccard exactly 1.0 (unlike
        # the minhash signature, which can collide at sim < 1). The
        # representative is a window min (one shuffle, no join).
        # Cached because its two consumers (star edges + the banding
        # path) prune different columns, so their exchange subtrees
        # differ post-optimization and the sha2+window pipeline would
        # otherwise run once per consumer (the _minhash_base lesson).
        w_set = Window.partitionBy("_setkey")
        members = (
            base.withColumn(
                # _sh holds hashed longs; render to strings for the
                # 256-bit set key (sha2 kept over xxhash64(array):
                # a 64-bit setkey would enter the birthday regime at
                # 10^10+ docs and a colliding key forges a FALSE
                # exact-dup star edge — correctness, not perf).
                "_setkey",
                F.sha2(
                    F.concat_ws(
                        "\x01",
                        F.transform(
                            F.array_sort("_sh"), lambda h: h.cast("string")
                        ),
                    ),
                    256,
                ),
            )
            .withColumn("_rep", F.min("_id").over(w_set))
            .repartition(F.col("_id"))
            .cache()
        )
        star = members.filter(F.col("_id") != F.col("_rep")).select(
            F.col("_rep").alias("id_a"),  # rep = min id, so id_a < id_b
            F.col("_id").alias("id_b"),
            F.lit(1.0).alias("est_sim"),
            F.lit(1.0).alias("jaccard_sim"),
        )
        base = members.filter(F.col("_id") == F.col("_rep")).select(
            "_id", "_sh", "_sig"
        )

    buckets = minhash_band_buckets(base, num_hashes, bands)

    pairs = (
        buckets.select(
            F.col("band_id"), F.col("band_hash"), F.col("_id").alias("id_a")
        )
        .join(
            buckets.select(
                F.col("band_id"), F.col("band_hash"), F.col("_id").alias("id_b")
            ),
            on=["band_id", "band_hash"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])  # collapse multi-band collisions
    )
    sig_a = base.select(
        F.col("_id").alias("id_a"),
        F.col("_sh").alias("sh_a"),
        F.col("_sig").alias("sig_a"),
    )
    sig_b = base.select(
        F.col("_id").alias("id_b"),
        F.col("_sh").alias("sh_b"),
        F.col("_sig").alias("sig_b"),
    )
    verified = (
        pairs.join(sig_a, on="id_a")
        .join(sig_b, on="id_b")
        .select(
            "id_a",
            "id_b",
            F.round(minhash_estimated_sim(F.col("sig_a"), F.col("sig_b")), 6).alias(
                "est_sim"
            ),
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= verify_threshold)
    )
    if star is not None:
        verified = verified.unionByName(star)
    return verified


def incremental_neardup_novel(
    batch: DataFrame,
    store: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.35,
) -> DataFrame:
    """Ingest-time near-dup filter: the rows of ``batch`` that survive
    MinHash-LSH dedup against the historical corpus ``store`` AND
    against earlier (smaller-``id_col``) rows of the batch itself.

    A batch doc is DROPPED iff a verified near-dup pair (exact
    k-shingle Jaccard >= ``threshold``) links it to any store doc, or
    to a batch doc with a smaller id (first-seen-wins within the
    batch, matching the streaming rule of
    ``streaming.streaming_neardup_filter``).

    Scale: this is the batch-vs-store join pattern — the store's
    bucket table (:func:`minhash_band_buckets`) and base signatures
    are a PERSISTED index written once per corpus snapshot (bucketed
    by (band_id, band_hash)); per ingest only the batch's buckets
    (tiny — broadcastable) join against it, shuffling narrow
    (band_id, band_hash, id) rows. History text is re-read only for
    the candidate ids (point lookups), never scanned. Nothing here is
    O(|store|²) or O(|batch|·|store|).
    """
    # r12: ONE merged base pipeline over batch ∪ store tagged with a
    # side flag, instead of two disjoint _minhash_base pipelines (two
    # widen exchanges, two signature-fold caches) — the fold work is
    # identical (each doc folds once either way) but the fixed
    # machinery halves, and candidate generation becomes ONE
    # batch-buckets × all-buckets join instead of cross (batch×store)
    # + within (batch×batch) + union: the all-buckets side reuses the
    # single bucket exchange (guide §2.4) and the side rule moves into
    # the join filter — a store collision survives unconditionally, a
    # batch collision only when the earlier (smaller-id) doc wins.
    # Store×store pairs are never generated: the left side is
    # pre-filtered to batch buckets, exactly as before.
    merged = batch.select(
        F.col(id_col), F.col(text_col), F.lit(False).alias("_store")
    ).unionByName(
        store.select(
            F.col(id_col), F.col(text_col), F.lit(True).alias("_store")
        )
    )
    base = _minhash_base(
        merged, id_col, text_col, k, num_hashes, extra_cols=("_store",)
    )
    ab = minhash_band_buckets(base, num_hashes, bands, extra_cols=("_store",))
    bb = ab.filter(~F.col("_store")).select(
        "band_id", "band_hash", F.col("_id").alias("id_n")
    )
    ob = ab.select(
        "band_id",
        "band_hash",
        F.col("_id").alias("id_o"),
        F.col("_store").alias("_store_o"),
    )
    cands = (
        bb.join(ob, on=["band_id", "band_hash"])
        .filter(F.col("_store_o") | (F.col("id_o") < F.col("id_n")))
        .select("id_n", "id_o")
        .dropDuplicates(["id_n", "id_o"])
    )

    sh_n = base.filter(~F.col("_store")).select(
        F.col("_id").alias("id_n"), F.col("_sh").alias("sh_n")
    )
    sh_o = base.select(F.col("_id").alias("id_o"), F.col("_sh").alias("sh_o"))
    dropped = (
        cands.join(sh_n, on="id_n")
        .join(sh_o, on="id_o")
        .filter(
            F.round(jaccard(F.col("sh_n"), F.col("sh_o")), 6) >= threshold
        )
        .select("id_n")
        .dropDuplicates()
    )
    return batch.join(
        dropped, on=batch[id_col] == dropped["id_n"], how="left_anti"
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash64(text_col_name: str) -> Column:
    """64-bit SimHash of whitespace tokens, fully JVM-side.

    Each token hashes to 64 bits; every bit contributes ±1 to its
    position's counter; the signature sets bit j where the counter is
    positive. Near-duplicates have small Hamming distance
    (bit_count(a XOR b)).

    Takes a column NAME: the bit loop needs ``shiftright(h, j)`` with a
    COLUMN shift amount, which only the SQL surface allows (the Python
    ``F.shiftright`` requires a literal int), so the whole signature is
    one SQL higher-order expression.

    Token-less docs — empty, whitespace, AND NULL text — sign to 0,
    matching :func:`simhash_signatures`' explode_outer form exactly
    (the family's documented semantic, hash-checked by l58's oracle
    twin). Without the coalesce, NULL text folded to a NULL signature
    here but 0 in the batch form — and the NULL reached st09's
    stateful update as NaN, killing the stream (fuzz_oracle nulls
    variant).
    """
    toks = f"filter(split(lower({text_col_name}), '\\\\s+'), t -> t != '')"
    hashes = f"transform({toks}, t -> xxhash64(t))"
    counters = (
        f"aggregate({hashes}, array_repeat(0L, 64), (acc, h) -> "
        "zip_with(acc, transform(sequence(0,63), "
        "j -> IF((shiftright(h, j) & 1) = 1, 1L, -1L)), (a,b) -> a+b))"
    )
    packed = (
        f"aggregate(zip_with({counters}, sequence(0,63), "
        "(c,j) -> IF(c > 0, shiftleft(1L, j), 0L)), 0L, (acc,x) -> acc | x)"
    )
    return F.expr(f"coalesce({packed}, 0L)")


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b)).cast("long")


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash) via explode + columnar aggregation — the scale
    path for :func:`simhash64`.

    The single-expression form folds 64 bit-tests per token inside an
    interpreted higher-order aggregate (no codegen). Here tokens are
    exploded to rows, hashed once, and the 64 bit counters become 64
    plain SUM aggregates — whole-stage codegen'd hash aggregation, one
    shuffle on id.

    ``explode_outer`` keeps token-less docs as a single null-token row;
    its hash is explicitly nulled (``xxhash64(NULL)`` returns the SEED,
    42 — not NULL; caught by the two-implementation property test), so
    every ``when`` falls to its ``otherwise(-1)`` branch — all counters
    negative, signature 0, exactly the empty-fold result of
    ``simhash64``. That folds the old "second scan + left join to
    reinstate empty docs" into the one aggregation: half the logical
    plan, which matters because this subtree is duplicated into both
    sides of the near-dup self-join (analysis/planning cost is
    per-query-construction, r4).
    """
    from sports_betting_data_pipeline_spark.io import widen_for_compute

    toks = widen_for_compute(
        df.select(F.col(id_col), F.col(text_col))
    ).select(
        F.col(id_col).alias("_id"),
        F.explode_outer(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
            )
        ).alias("_tok"),
    ).withColumn(
        "_h", F.when(F.col("_tok").isNotNull(), F.xxhash64("_tok"))
    )
    # The 128 bit-counter expressions are built as SQL strings parsed
    # server-side in ONE round trip each, not composed from Column
    # operators: the operator form is ~1000 Py4J calls and measured
    # ~1.2 s of DRIVER time per query construction — half of l09's
    # wall clock at sf0.1 (r6). Identical analyzed plans either way;
    # IF(NULL, 1, -1) = -1 matches when().otherwise(-1) on the nulled
    # empty-doc hash.
    counters = toks.groupBy("_id").agg(
        *[
            F.expr(f"sum(IF((shiftright(_h, {j}) & 1) = 1, 1, -1))").alias(f"_c{j}")
            for j in range(64)
        ]
    )
    packed = F.expr(
        " | ".join(f"IF(_c{j} > 0, shiftleft(1L, {j}), 0L)" for j in range(64))
    )
    return counters.select("_id", packed.alias("_sig"))


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
    prefix_bits: int = 16,
    probes: int = 1,
) -> DataFrame:
    """SimHash near-dup pairs blocked by signature prefix, with
    optional ROTATION MULTI-PROBE.

    ``probes=1``: docs sharing the top ``prefix_bits`` of their simhash
    land in one bucket (equi-join); pairs within a bucket are verified
    by full Hamming distance. Near-dups whose few differing bits fall
    in the prefix are missed.

    ``probes=P``: the signature is additionally bucketed under P-1
    rotations (by 64/P bits each), and a pair is a candidate if ANY
    rotation gives them a common prefix — the standard multi-probe
    recall amplification (a pair at Hamming h survives unless every
    rotated prefix window catches a differing bit; with P > h one
    clean window is guaranteed by pigeonhole when windows are
    disjoint). Candidates are deduped before the Hamming verify, and
    the join still shuffles only (probe, bucket, id, sig) longs.
    """
    sig = simhash_signatures(df, id_col, text_col)
    step = 64 // probes

    def rotated_sql(k: int) -> str:
        if k == 0:
            return "_sig"
        return f"(shiftleft(_sig, {k}) | shiftrightunsigned(_sig, {64 - k}))"

    probe_structs = ", ".join(
        f"named_struct('probe', {p}, 'bucket', "
        f"shiftrightunsigned({rotated_sql(p * step)}, {64 - prefix_bits}))"
        for p in range(probes)
    )
    buckets = sig.select(
        "_id",
        "_sig",
        F.expr(f"explode(array({probe_structs}))").alias("_p"),
    ).select("_id", "_sig", "_p.probe", "_p.bucket")
    # Explicit co-partition on the join key BEFORE deriving the two
    # sides: under a shuffle join both branches hang off one identical
    # exchange that ReuseExchange collapses, so the signature
    # aggregation computes once (measured 2.8 s -> 1.1 s at sf0.1,
    # r5). CAVEAT (r6): when the planner instead broadcasts one side
    # (small-table estimate at fixture scale), the exchanges vanish
    # and the aggregation runs once per side — measured equal here
    # (the two small aggs overlap across cores), and a .cache() that
    # would force compute-once was A/B'd at parity too (its
    # materialization job cancels the saving), so the shuffle-join
    # co-partition stays the one shape that wins where it matters:
    # at scale, where the sides outgrow the broadcast threshold.
    bkt = buckets.repartition("probe", "bucket")
    left = bkt.select(
        "probe", "bucket", F.col("_id").alias("id_a"), F.col("_sig").alias("sig_a")
    )
    right = bkt.select(
        "probe", "bucket", F.col("_id").alias("id_b"), F.col("_sig").alias("sig_b")
    )
    return (
        left.join(right, on=["probe", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            hamming64(F.col("sig_a"), F.col("sig_b")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# Containment (asymmetric) dedup — exact prefix-filter inverted-index join
# ---------------------------------------------------------------------------
def containment_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold_num: int = 9,
    threshold_den: int = 10,
) -> DataFrame:
    """EXACT containment join C(A,B) = |A∩B|/|A| ≥ t via prefix
    filtering over an inverted token index — the production-scale
    candidate generator for asymmetric near-dup detection (the
    AllPairs/PPJoin family: Bayardo, Ma & Srikant, WWW'07; Chaudhuri,
    Ganti & Kaushik's SSJoin, ICDE'06).

    Why not MinHash bands here: banded MinHash targets JACCARD, and a
    0.9-containment pair where the container is much larger has
    Jaccard J = c·r/(1+r−c·r) → 0 as the size ratio r=|A|/|B| → 0 (the
    fixture's qualifying pairs go down to J≈0.23, where 8×4 bands
    detect ~2% of pairs). The published probabilistic fix is
    size-stratified banding (LSH Ensemble — Zhu, Nazi et al.,
    VLDB'16); the published EXACT fix — used here — is prefix
    filtering, which keeps recall 1.0 by construction so the exact
    audit SQL remains the oracle verbatim.

    The filter: C(A,B) ≥ t forces |A∩B| ≥ ⌈t·|A|⌉, so A can miss at
    most |A| − ⌈t·|A|⌉ of its tokens from B; ANY |A| − ⌈t·|A|⌉ + 1
    tokens of A therefore contain at least one token of B. Ordering
    every token set by GLOBAL RARITY (document frequency asc, token
    asc — rare tokens have short posting lists) and probing only that
    prefix makes the candidate join
        explode(prefix) ⋈ (lang, token) inverted index
    an equi-join whose cost is Σ_A |prefix(A)| × df(token), never the
    O(n²/block) theta join of the audit shape. A size prefilter
    (|B|·den ≥ |A|·num, implied by |A∩B| ≤ |B|) prunes candidates
    before the exact verify. Thresholds are integer fractions
    (num/den) so prefix lengths are exact — never float-rounded
    (⌈t·n⌉ as (n·num + den − 1) div den).

    Output: (contained_id, container_id, containment, jaccard) with
    containment ≥ num/den, both 6dp-rounded doubles.

    Shuffle profile: df-count groupBy on (block, token); one window
    per doc for prefix ranking; the probe⋈index equi-join on
    (block, token); pair distinct; two id-equi-joins back to token
    arrays for the exact verify. Arrays never ride the candidate
    shuffle. On a Zipfian real-corpus vocabulary the rarest-first
    prefix makes probe×posting products tiny; on this fixture's
    degenerate 31-token/lang vocab the candidate set degrades to
    ~all within-block pairs — a property of the data, not the plan.
    """
    from sports_betting_data_pipeline_spark.io import widen_for_compute

    base = (
        widen_for_compute(df.select(id_col, block_col, text_col))
        .filter(F.col(text_col).rlike(r"\S"))
        .select(
            F.col(id_col).alias("_id"),
            F.col(block_col).alias("_blk"),
            # Tokens stay STRINGS here: the payload-hashing rewrite
            # that won 2.2x on the all-pairs Jaccard join was A/B'd on
            # this pipeline too and measured SLOWER (1.35 -> 2.14 s at
            # sf0.1, interleaved, identical pairs) — the cost center
            # is the exploded (block, token) postings joins, not the
            # verify intersects, and short repeated vocab tokens join
            # as cheaply as longs while the extra per-array hash pass
            # is pure overhead. See SCALE.md "Hash the join payload"
            # for when the trick does and does not apply.
            F.array_distinct(
                F.filter(
                    F.split(F.lower(F.col(text_col)), r"\s+"),
                    lambda t: t != "",
                )
            ).alias("_sh"),
        )
        # rlike(\S) replaces size(_sh) > 0 (the _minhash_base r11
        # lesson): the derived-column filter pushed the whole
        # tokenize+distinct below the widen exchange, running it twice
        # per doc. Exactly equivalent (>=1 token iff one non-\s char).
        .withColumn("_n", F.size("_sh"))
        # One evaluation for five consumers: tok feeds the probe
        # ranking, the df-counts, and the inverted index, and the
        # verify joins back to both sides' token arrays — uncached,
        # each consumer re-runs the scan+tokenize subtree (the plan
        # embeds it 5×, and exchange reuse does not collapse the
        # differently-keyed variants). cache() is the session-local
        # stand-in for the staging table a production multi-pass
        # self-join would persist; the catalog runner clearCache()s
        # after every query (bench.py / g01 pattern).
        .repartition(F.col("_id"))
        .cache()
    )
    tok = base.select("_id", "_blk", "_n", F.explode("_sh").alias("_tok"))
    dfreq = tok.groupBy("_blk", "_tok").agg(F.count(F.lit(1)).alias("_df"))
    # prefix length p = n − ⌈n·num/den⌉ + 1, in exact integer math
    need = F.expr(
        f"(_n * {threshold_num} + {threshold_den - 1}) div {threshold_den}"
    )
    w = Window.partitionBy("_id").orderBy(F.asc("_df"), F.asc("_tok"))
    probes = (
        tok.join(dfreq, on=["_blk", "_tok"])
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.col("_n") - need + 1)
        .select(
            F.col("_id").alias("_aid"),
            "_blk",
            "_tok",
            F.col("_n").alias("_na"),
        )
    )
    index = tok.select(
        F.col("_id").alias("_bid"), "_blk", "_tok", F.col("_n").alias("_nb")
    )
    cand = (
        probes.join(index, on=["_blk", "_tok"])
        .filter(
            (F.col("_aid") != F.col("_bid"))
            # |A∩B| ≤ |B| and |A∩B| ≥ t·|A|  ⟹  |B|·den ≥ |A|·num
            & (F.col("_nb") * threshold_den >= F.col("_na") * threshold_num)
        )
        .select("_aid", "_bid")
        .dropDuplicates(["_aid", "_bid"])
    )
    sh_a = base.select(
        F.col("_id").alias("_aid"),
        F.col("_sh").alias("_sha"),
        F.col("_n").alias("_na"),
    )
    sh_b = base.select(
        F.col("_id").alias("_bid"),
        F.col("_sh").alias("_shb"),
        F.col("_n").alias("_nbv"),
    )
    verified = (
        cand.join(sh_a, on="_aid")
        .join(sh_b, on="_bid")
        .withColumn("_inter", F.size(F.array_intersect("_sha", "_shb")))
        # final predicate in the SAME double arithmetic as the audit
        # query / oracle SQL, so the two are bit-identical
        .filter(
            F.col("_inter") / F.col("_na").cast("double")
            >= threshold_num / threshold_den
        )
    )
    return verified.select(
        F.col("_aid").alias("contained_id"),
        F.col("_bid").alias("container_id"),
        F.round(F.col("_inter") / F.col("_na").cast("double"), 6).alias(
            "containment"
        ),
        # both sides are array_distinct'd, so |A∪B| = |A|+|B|−|A∩B| —
        # arithmetic instead of a second O(|A|+|B|) hash fold per pair
        F.round(
            F.col("_inter")
            / F.greatest(
                F.col("_na") + F.col("_nbv") - F.col("_inter"), F.lit(1)
            ).cast("double"),
            6,
        ).alias("jaccard"),
    )


# connected_components: propagation levels fused into one Spark job, and
# the level cap past which the labels of the last level are returned.
_CC_FUSE = 3
_CC_MAX_LEVELS = 25


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    size_hint: int | None = None,
) -> DataFrame:
    """Connected components by iterative min-label propagation —
    turns near-dup PAIRS (l07/l08/l09 output) into dedup CLUSTERS,
    each labeled with its minimum member id.

    The Pregel pattern on DataFrames: every node starts labeled with
    itself; each propagation level every node takes the min of its own
    label and its neighbors' labels; converged when no label changes
    (≤ graph diameter levels — near-dup clusters are dense, so
    typically 2-3). At most ``_CC_MAX_LEVELS`` propagation LEVELS run;
    a deeper graph returns the labels of its last level.

    The per-level cost at fixture scale is a measured ~0.35 s DRIVER
    floor (plan build + localCheckpoint physical planning — SCALE.md
    §Round-6), not data cost, so the scheduling unit here is a fused
    JOB of ``_CC_FUSE`` consecutive levels: one plan chains them as
    join+agg levels and the convergence comparison between its last
    two levels, so a diameter-≤2 graph (every dedup fixture) finishes
    in ONE job where the per-level loop needed three (init, propagate,
    confirm). Deeper graphs continue in fused jobs of ``_CC_FUSE``
    levels; each job is one action whose driver-side ``changed`` count is the
    materializing job, exactly as before. Comparing the job's last two
    levels is a sound convergence test: labels decrease monotonically,
    so level k == level k-1 means level k-1 was already a fixed point.
    At cluster scale the fused plan trades one label-table shuffle per
    level (unchanged) against 3× fewer scheduler round-trips.

    Output: one row per node appearing in ``edges`` —
    ``(node, component)``.
    """
    # Materialize the symmetrized edge list ONCE: it is re-joined every
    # level, and without a barrier the entire upstream edge-generation
    # pipeline (e.g. the LSH candidate join) would re-execute per
    # iteration. Pre-partitioned on the join key and PERSISTED (not
    # localCheckpoint: an RDD-scan leaf drops the partitioning
    # metadata, while InMemoryRelation keeps it), so every level's
    # message join shuffles only the narrow label table — the edges
    # never move again. Within one fused job the cache fills on its
    # first scan and the later levels' joins read it back.
    # Symmetrize with ONE scan of the upstream edge pipeline: a
    # two-branch union would embed the (possibly expensive, un-persisted)
    # edge-generation subtree TWICE in the materializing job — the
    # branches differ in their top projection, so ReuseExchange cannot
    # collapse them and e.g. l22's LSH candidate join would run twice.
    # explode(array(fwd, rev)) reads the pipeline once and emits both
    # directions per row.
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src).alias("node"), F.col(dst).alias("nbr")
                    ),
                    F.struct(
                        F.col(dst).alias("node"), F.col(src).alias("nbr")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.node", "_e.nbr")
        .repartition(F.col("nbr"))
        .persist()
    )
    # Size the loop's shuffles ONCE from the edge count instead of
    # letting AQE re-derive the same answer per stage: the label loop
    # is LATENCY-bound (a fused job is ~7 sequential tiny stages), and
    # AQE's per-stage re-plan round-trips are the dominant cost at
    # dedup-edge scale (measured 2.9 s → 0.9 s on a 249-edge list,
    # SCALE.md §Round-7). The count comes either from ``size_hint``
    # (an UPPER BOUND on edge rows, e.g. the corpus row count read
    # from parquet footer metadata — io.size_hint; catalog
    # statistics, no job) or from one count job that also materializes
    # the persisted edges. The hint is strictly better when available:
    # no extra job, AND the small-regime conf is active while the
    # first fused job materializes the (possibly expensive) upstream
    # edge-generation pipeline, whose tiny stages pay the same AQE
    # floor. The conf scoping lives in session.latency_regime (shared
    # with every iterative driver loop in the engine); every return
    # below is checkpoint-materialized inside the scope, so no lazy
    # plan escapes the regime.
    from sports_betting_data_pipeline_spark.session import latency_regime

    spark = edges.sparkSession
    n_sym = 2 * size_hint if size_hint is not None else sym.count()

    def _level(lbl: DataFrame) -> DataFrame:
        """One min-propagation level as a lazy PLAN (no action).

        The node's OWN previous label rides the message union, tagged —
        min() over the tagged rows yields the new label AND the old one
        in ONE aggregation, so the convergence comparison between the
        job's last two levels costs nothing extra.
        """
        msgs = sym.join(
            lbl.select(
                F.col("node").alias("nbr"), F.col("component").alias("nbr_comp")
            ),
            on="nbr",
        ).select(
            "node",
            F.col("nbr_comp").alias("component"),
            F.lit(False).alias("_is_old"),
        )
        return (
            lbl.select("node", "component", F.lit(True).alias("_is_old"))
            .unionByName(msgs)
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("_is_old"), F.col("component"))).alias(
                    "_old"
                ),
            )
        )

    try:
        with latency_regime(spark, n_sym):
            # Level 1 from identity labels is degenerate — the message join
            # against labels(node -> node) is the identity, so label_1(node)
            # is just least(node, min(nbr)): ONE aggregation, no join.
            labels = (
                sym.groupBy("node")
                .agg(F.min("nbr").alias("_mn"))
                .select(
                    "node", F.least(F.col("node"), F.col("_mn")).alias("component")
                )
            )
            # The first fused job holds level 1 and _CC_FUSE - 1 join
            # levels; each later job holds _CC_FUSE join levels.
            levels_done, changed = 1, 1
            while changed != 0 and levels_done < _CC_MAX_LEVELS:
                fused = min(
                    _CC_FUSE - (levels_done == 1), _CC_MAX_LEVELS - levels_done
                )
                for _ in range(fused):
                    last = _level(labels)
                    labels = last.select("node", "component")
                levels_done += fused
                checkpointed = last.localCheckpoint(eager=False)
                changed = checkpointed.filter(
                    F.col("component") != F.col("_old")
                ).count()
                labels = checkpointed.select("node", "component")
            return labels
    finally:
        sym.unpersist()
