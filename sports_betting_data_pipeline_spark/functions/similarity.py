"""Similarity search over embedding columns (array<float>):
brute-force cosine top-k (the exact baseline) and an LSH-bucketed
approximate variant (the scale path).

Scale design:
- Brute force is exact and O(n_queries × n_vectors): correct choice
  when the query set is small (broadcast the queries, scan the corpus
  once, JVM-side dot products, per-partition top-k via window). At
  100 TB corpus scale this is the "re-rank" stage, not the retrieval
  stage.
- Random-hyperplane LSH: sign-projection signatures computed scan-side
  against a broadcast seeded projection matrix; candidates come from an
  equi-join on bucket id, then exact cosine re-ranks. Recall is tuned
  by bits/tables; no cross join at any scale.
- All dot products run in double precision via zip_with+aggregate —
  built-in expressions, codegen'd, no Python in the loop.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from sports_betting_data_pipeline_spark.session import local_frame


def _qname(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


# sqrt-N cell rule bounds. The floor keeps tiny fixtures on the same
# code path the oracle queries pin; the cap bounds the broadcast
# centroid table (~64k × dim doubles) and the per-row assignment work.
IVF_MIN_CENTROIDS = 8
IVF_MAX_CENTROIDS = 65536

# The centroid table every IVF helper joins against.
_CENTROIDS = T.StructType(
    [
        T.StructField("cent_id", T.LongType()),
        T.StructField("cv", T.ArrayType(T.DoubleType())),
    ]
)


def default_n_centroids(n_rows: int) -> int:
    """Cell count for an IVF index over ``n_rows`` vectors: ~sqrt(N),
    clamped to [8, 65536].

    This is the sf1 posture rule promoted to the API default (SCALE.md
    "sf1 posture"): at a FIXED cell count the per-query candidate list
    is nprobe·N/C, so scoring grows ~N²/C — the l43 replay measured
    ×8.3 wall-clock for 10× data at C=16, and linear again at C=160.
    C ≈ √N keeps candidates-per-query ≈ nprobe·√N (the classic IVF
    sizing, e.g. FAISS's 4√N–16√N guideline), so doubling the corpus
    grows per-query work by ~√2, not ~2. Explicit ``n_centroids``
    always wins — the hash-checked catalog queries pass it.
    """
    import math

    return max(
        IVF_MIN_CENTROIDS,
        min(IVF_MAX_CENTROIDS, math.isqrt(max(0, int(n_rows)))),
    )


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def _l2_norm_sql(a: str) -> str:
    return (
        f"sqrt(aggregate(transform({a}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "0.0D, (acc, v) -> acc + v))"
    )


# The string fast paths below exist because each higher-order lambda
# costs ~13 ms of driver-side construction (r6 profiling; cosine() is
# 6 lambdas), paid at PLAN BUILD time by every ANN/similarity query —
# one server-parsed expression string is a single Py4J call and the
# parsed tree is identical to the Column-operator form (lsh_bucket's
# lesson), so results are bit-for-bit unchanged. Column arguments
# keep the operator path (composed-expression callers, tests).


def dot(a: Column | str, b: Column | str) -> Column:
    """Double-precision dot product of two numeric arrays. Pass column
    NAMES to get the server-parsed fast path (plan-construction cost)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_sql(_qname(a), _qname(b)))
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | str) -> Column:
    if isinstance(a, str):
        return F.expr(_l2_norm_sql(_qname(a)))
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    if isinstance(a, str) and isinstance(b, str):
        qa, qb = _qname(a), _qname(b)
        return F.expr(
            f"{_dot_sql(qa, qb)} / "
            f"greatest({_l2_norm_sql(qa)} * {_l2_norm_sql(qb)}, 1.0E-12D)"
        )
    return dot(a, b) / F.greatest(l2_norm(a) * l2_norm(b), F.lit(1e-12))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set against the corpus.

    Output: (query_id, vec_id, cosine_sim, rank), rank 1..k per query,
    deterministic tiebreak on vec_id. The corpus scans once; the only
    shuffle is the per-query top-k window, whose input Spark prunes
    with WindowGroupLimit.
    """
    joined = corpus.crossJoin(
        F.broadcast(queries.select(query_id_col, query_vec_col))
    ).select(
        F.col(query_id_col),
        F.col(id_col),
        cosine(vec_col, query_vec_col).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col)
    )
    return (
        joined.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round("cosine_sim", 6).alias("cosine_sim"), "rank")
    )


def _projection_literals(dim: int, bits: int, seed: int) -> list[list[float]]:
    """Seeded random hyperplanes (deterministic across runs/partitions)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim)).tolist()


def lsh_bucket(vec_col: Column | str, planes: list[list[float]]) -> Column:
    """Sign-projection bucket id: bit i = (vec · plane_i) > 0.

    Built as ONE SQL string parsed server-side when given a column
    NAME: the Column-operator form is ~(bits × dim) Py4J round trips
    (~1.1 s of driver time per lsh_topk construction at bits=8,
    dim=64 — r6); `repr(float)` literals round-trip exactly, so the
    parsed plan is bit-identical to the operator form. A Column
    argument falls back to the operator path (test helper usage).
    """
    if isinstance(vec_col, str):
        qv = _qname(vec_col)
        terms = []
        for i, plane in enumerate(planes):
            arr = ",".join(f"{float(v)!r}D" for v in plane)
            proj = (
                f"aggregate(zip_with({qv}, array({arr}), "
                "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                "0.0D, (acc, v) -> acc + v)"
            )
            terms.append(f"IF({proj} > 0, {1 << i}L, 0L)")
        return F.expr("(" + " + ".join(terms) + ")")
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        proj = dot(vec_col, F.array(*[F.lit(float(v)) for v in plane]))
        bucket = bucket + F.when(proj > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket, then
    exact cosine re-ranks. Recall < 1 by construction; raise ``bits``
    for precision of buckets, add multi-table probing for recall.

    Output: (query_id, vec_id, cosine_sim, rank) within-bucket.
    """
    planes = _projection_literals(dim, bits, seed)
    corpus_b = corpus.withColumn("_bucket", lsh_bucket(vec_col, planes))
    queries_b = queries.withColumn(
        "_bucket", lsh_bucket(query_vec_col, planes)
    )
    joined = corpus_b.join(
        F.broadcast(queries_b.select(query_id_col, query_vec_col, "_bucket")),
        on="_bucket",
    ).select(
        F.col(query_id_col),
        F.col(id_col),
        cosine(vec_col, query_vec_col).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col)
    )
    return (
        joined.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round("cosine_sim", 6).alias("cosine_sim"), "rank")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    bits: int = 8,
    tables: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via MULTI-TABLE
    (OR-amplified) sign-projection LSH, mirroring the MinHash band
    construction (functions/dedup.py): a pair is a candidate if it
    collides in ANY of ``tables`` independent b-bit tables; candidates
    are deduped, then verified with exact cosine.

    Why multi-table: one table loses any pair straddling a single
    hyperplane (recall (1 - θ/π)^bits ≈ 0.43 at cosine 0.95 with 8
    bits); with T independent tables the miss probability is raised to
    the T-th power — (1 - p^b)^T ≈ 1% at T=8 for cosine 0.95, ~1e-5
    for near-identical vectors. It also breaks up skew: a clustered
    corpus piles into ONE hot bucket under a single table, but each
    table splits the cluster differently, and the candidate join
    shuffles only narrow (table_id, bucket, id) rows — the per-bucket
    join stays local and the pair dedup collapses multi-table hits.

    Output: (id_a, id_b, cosine_sim), id_a < id_b, with the
    6dp-ROUNDED cosine >= threshold. The threshold applies to the
    rounded value DELIBERATELY: the DuckDB oracle twin (l12) evaluates
    the same round-then-filter, so a last-ulp float difference between
    engines cannot flip a boundary pair in one engine only. A pair
    whose true cosine is within 5e-7 below the threshold is therefore
    admitted — callers needing the strict unrounded predicate should
    filter the (unrounded) cosine themselves, as :func:`semdedup`
    does for its own operating point.
    """
    from sports_betting_data_pipeline_spark.io import widen_for_compute

    base = widen_for_compute(
        df.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_vec"),
        )
    )
    all_planes = [_projection_literals(dim, bits, seed + t) for t in range(tables)]
    # All tables*bits projections as SCAN-SIDE expressions (r11): one
    # server-parsed lsh_bucket string per table (the l11 shape), then
    # explode to narrow (table_id, bucket, id) rows. This replaces the
    # r4 posexplode + broadcast-plane-join + two-hash-aggregate
    # pipeline, which pushed rows x dim x planes (16M at sf0.1)
    # intermediate rows through two aggregations to compute the same 8
    # longs per row — interleaved A/B on the bucket stage: 1.26 ->
    # 0.45 s min at sf0.1 with EXACT bucket parity (16160 rows). The
    # parity argument: the old per-(id, j) SUM accumulated the
    # posexploded products in pos order within one map-side partial —
    # the same left-fold as lsh_bucket's zip_with/aggregate over the
    # plane literal. Construction stays one parse call per table.
    proj_structs = ", ".join(
        f"named_struct('table_id', {t}, 'bucket', _b{t})"
        for t in range(tables)
    )
    buckets = (
        # NULL-vector guard (ADVICE r11 #1): lsh_bucket folds NULL to
        # bucket 0 in EVERY table, so without this filter a corpus with
        # many NULL embeddings floods one bucket and bloats the
        # candidate self-join quadratically. The retired posexplode
        # pipeline excluded NULL vectors from candidate generation by
        # construction (posexplode(NULL) emits no rows); the final
        # output is identical either way because the exact-cosine
        # verify yields NULL for them and the threshold filter drops
        # the pair — this guard only restores the candidate-side
        # exclusion.
        base.filter(F.col("_vec").isNotNull())
        .select(
            "_id",
            *[
                lsh_bucket("_vec", planes).alias(f"_b{t}")
                for t, planes in enumerate(all_planes)
            ],
        )
        .select(
            "_id",
            F.expr(f"explode(array({proj_structs}))").alias("_tb"),
        )
        .select(
            "_id",
            F.col("_tb.table_id").cast("int").alias("table_id"),
            F.col("_tb.bucket").alias("bucket"),
        )
        # anti-projection-collapse barrier (same as _minhash_base),
        # partitioned on the CANDIDATE-JOIN key: both sides of the
        # self-join hang off this one exchange already in join layout,
        # so the engine reuses it at runtime instead of re-running the
        # projection per side and re-shuffling (the l09 lesson, r4).
        .repartition("table_id", "bucket")
    )

    pairs = (
        buckets.select("table_id", "bucket", F.col("_id").alias("id_a"))
        .join(
            buckets.select("table_id", "bucket", F.col("_id").alias("id_b")),
            on=["table_id", "bucket"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])  # collapse multi-table collisions
    )
    # Norms hoisted to one-per-row before the pair join (the ivf_topk
    # lesson): the verify evaluates |candidate pairs| cosines, and
    # cosine() would re-fold both norms per PAIR. Same arithmetic and
    # operand order as cosine()'s internals, so values are identical.
    vec_a = base.select(
        F.col("_id").alias("id_a"),
        F.col("_vec").alias("vec_a"),
        l2_norm("_vec").alias("_na"),
    )
    vec_b = base.select(
        F.col("_id").alias("id_b"),
        F.col("_vec").alias("vec_b"),
        l2_norm("_vec").alias("_nb"),
    )
    return (
        pairs.join(vec_a, on="id_a")
        .join(vec_b, on="id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                dot("vec_a", "vec_b")
                / F.greatest(F.col("_na") * F.col("_nb"), F.lit(1e-12)),
                6,
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int | None = None,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Train a k-means‖ coarse quantizer over the corpus (MLlib
    KMeans, fixed seed → deterministic init and assignment given the
    same data). Returns (cent_id, cv: array<double>) — the drop-in
    centroid table for :func:`ivf_topk`.

    Scale: MLlib KMeans is the distributed Lloyd's loop (broadcast
    centroids, map-side assignment, reduce new means) — linear scans
    per iteration, no shuffle growth with corpus size. A COARSE
    quantizer does not need MLlib's default 20 Lloyd iterations: cell
    quality saturates well before convergence (FAISS trains IVF coarse
    quantizers with 10), and each extra iteration is a full corpus
    scan; maxIter=10 halves the training scans with the recall pin
    (tests/test_llm_ops.py::test_ivf_kmeans_quantizer_improves_recall)
    unchanged.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = corpus.sparkSession
    if n_centroids is None:
        # the sqrt-N rule needs the exact count anyway
        n_rows = corpus.count()
    else:
        # explicit C: the guards below only need min(C, n) — a
        # LIMIT-bounded count early-terminates after C rows instead
        # of scanning the corpus (the guard must not tax the normal
        # path; C is tiny next to N)
        n_rows = corpus.limit(max(n_centroids, 2)).count()
    if n_rows == 0:
        # no data -> no centroids; downstream IVF probes find nothing.
        # MLlib's .fit would throw on an empty input (fuzz_oracle
        # empty_facts variant).
        return local_frame(spark, [], _CENTROIDS)
    if n_rows == 1:
        # one point IS the quantizer (MLlib requires k >= 2)
        return corpus.select(
            F.lit(0).cast("bigint").alias("cent_id"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        )
    if n_centroids is None:
        # sqrt-N cell rule (see default_n_centroids) — trained and
        # deterministic quantizers must size cells the same way.
        n_centroids = default_n_centroids(n_rows)
    # k can never exceed the number of training points, and MLlib
    # requires k >= 2 (the 0/1-row cases returned above)
    n_centroids = max(2, min(n_centroids, n_rows))
    feats = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(
        k=n_centroids, seed=seed, featuresCol="features", maxIter=10
    ).fit(feats)
    cent_rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return local_frame(spark, cent_rows, _CENTROIDS)


def _nearest_cells(
    df: DataFrame,
    df_id: str,
    df_vec: str,
    cents: DataFrame,
    n: int,
    keep_vec: bool = True,
    widen_input: bool = False,
) -> DataFrame:
    """Top-``n`` coarse cells per row by cosine against a broadcast
    ``(cent_id, cv)`` centroid table — the shared assignment/probe
    stage of ivf_topk / ivfpq_topk / semdedup (one implementation, so
    NULL handling and tie-breaking cannot drift between the ANN
    variants).

    ``n == 1`` (every corpus assignment) avoids the ranking window
    entirely: a window would shuffle all C cosine copies of every row
    — vector payload included when ``keep_vec`` — into the per-id
    partition, C× the corpus volume through one exchange at 10^9-
    vector scale. ``max(struct(sim, -cent_id, vec))`` computes the
    same argmax as a PARTIAL-AGGREGABLE aggregate: the C copies
    collapse map-side (they are produced in the same task by the
    broadcast cross join), so one narrow partial per row reaches the
    exchange. Ordering parity with the window is exact: Spark sorts
    NaN above every double in both struct comparison and window
    ORDER BY DESC, and -cent_id under max() reproduces the ascending
    cent_id tiebreak (pinned by test_nearest_cells_agg_matches_window).

    ``widen_input`` splits a single-row-group scan before the C
    interpreted assignment cosines (ivf_topk's fixture-scan concern;
    no-op at production scale).
    """
    from sports_betting_data_pipeline_spark.io import widen_for_compute

    src = widen_for_compute(df) if widen_input else df
    # r12: norms hoisted OUT of the per-(row, centroid) cosine — the
    # row norm folds once per row and the centroid norm once per
    # centroid (on the broadcast side), instead of both folding per
    # PAIR: at C centroids that removes ~2C of the 3C interpreted
    # array folds per row in every assignment/probe stage (ivf_topk,
    # ivfpq_topk, semdedup, l43's union form). Bit-identical to
    # cosine(): same dot fold, same row-norm × cent-norm operand
    # order, same greatest(..., 1e-12) guard.
    src = src.withColumn("_nc_rnorm", l2_norm(df_vec))
    cents_n = cents.withColumn("_nc_cnorm", l2_norm("cv"))
    sims = src.crossJoin(F.broadcast(cents_n)).select(
        F.col(df_id),
        *([F.col(df_vec)] if keep_vec else []),
        F.col("cent_id"),
        (
            dot(df_vec, "cv")
            / F.greatest(
                F.col("_nc_rnorm") * F.col("_nc_cnorm"), F.lit(1e-12)
            )
        ).alias("_csim"),
    )
    if n == 1:
        payload = [F.col(df_vec).alias("_v")] if keep_vec else []
        top = sims.groupBy(df_id).agg(
            F.max(
                F.struct(
                    F.col("_csim").alias("_s"),
                    (-F.col("cent_id")).alias("_negc"),
                    *payload,
                )
            ).alias("_top")
        )
        cols = [F.col(df_id)]
        if keep_vec:
            cols.append(F.col("_top._v").alias(df_vec))
        cols.append((-F.col("_top._negc")).alias("cent_id"))
        return top.select(*cols)
    w = Window.partitionBy(df_id).orderBy(F.col("_csim").desc(), F.col("cent_id"))
    out = [df_id] + ([df_vec] if keep_vec else []) + ["cent_id"]
    return (
        sims.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .select(*out)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int | None = None,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: coarse-quantize the corpus into
    centroid cells, probe only the ``nprobe`` cells nearest each
    query, exact-rank the candidates.

    The default coarse quantizer is the first ``n_centroids`` corpus
    vectors (deterministic, so the DuckDB oracle can reproduce cell
    assignment bit-for-bit — this is the oracle path). Pass
    ``centroids=kmeans_centroids(corpus, ...)`` for the production
    quantizer: trained cells are tighter, so the same nprobe recovers
    more true neighbors (recall@k improvement pinned in
    tests/test_llm_ops.py). Every plan shape below is identical.
    ``n_centroids=None`` sizes the cell count by the √N rule
    (:func:`default_n_centroids`) from one count of the corpus.

    Scale: assignment is a broadcast of C centroid vectors + C
    cosine evaluations per corpus row (map-side, one pass); the
    search join touches ~(nprobe/C) of the corpus per query instead
    of all of it — the whole point of IVF at 10^9+ vectors. Shuffles:
    one hash join on cent_id + the final per-query top-k window.
    """
    if centroids is not None:
        cents = centroids.select("cent_id", F.col("cv").cast("array<double>").alias("cv"))
    else:
        if n_centroids is None:
            # sqrt-N cell rule (SCALE.md sf1 posture): a fixed default
            # C silently degrades to ~N²/C scoring as the corpus
            # grows. One footer-fast count sizes the index at build
            # time; explicit n_centroids (every oracle query) skips it.
            n_centroids = default_n_centroids(corpus.count())
        cents = corpus.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cv")
        )

    # The C assignment cosines per row are interpreted HOF work; a
    # single-row-group fixture scan serializes them on one core
    # without the widen (no-op at production scale, where the scan
    # already has core-count splits). n=1 corpus assignment runs as
    # the map-side-combinable argmax (see _nearest_cells).
    def nearest_cells(df: DataFrame, df_id: str, df_vec: str, n: int) -> DataFrame:
        return _nearest_cells(
            df, df_id, df_vec, cents, n, keep_vec=True, widen_input=True
        )

    # Norms are per-ROW quantities: compute them once per corpus/query
    # row BEFORE the candidate join, not once per candidate pair —
    # higher-order array functions are interpreted (no codegen), so at
    # |Q|×nprobe×cell candidates the 2 extra norm passes per pair were
    # 3× the scoring arithmetic (l43 at sf0.1: ~3× end-to-end).
    # dot/l2_norm stay bit-identical to cosine()'s internals, and the
    # norm product keeps cosine()'s (corpus × query) operand order, so
    # oracle hashes are unchanged. The ranking window then shuffles
    # only narrow (query_id, id, cosine_sim) rows — vectors never ride
    # the top-k exchange.
    assigned = nearest_cells(corpus, id_col, vec_col, 1).withColumn(
        "_cnorm", l2_norm(vec_col)
    )
    probes = nearest_cells(queries, query_id_col, query_vec_col, nprobe).withColumn(
        "_qnorm", l2_norm(query_vec_col)
    )

    # Scoring-join shape: the CORPUS side stays put and the probe
    # batch broadcasts — the IVF serving shape (the index is the big
    # thing; query batches route to it). A shuffle join here would key
    # on cent_id — C distinct values — so its output would land on ≤C
    # reducers (AQE then coalesces the byte-tiny inputs further),
    # serializing the |Q|×nprobe×|cell| interpreted dot products; and
    # repartitioning the joined candidates instead would shuffle two
    # vectors per pair. The broadcast join computes every dot in the
    # corpus-side stage with zero wide shuffles. `assigned` is re-fanned
    # out first because its top-1 aggregation just collapsed it to
    # AQE's byte-minimal partition count: the exchange moves only
    # |corpus| (id, cell, vector, norm) rows, and the deterministic
    # id-hash keying means hot cells spread over every core instead of
    # pinning one reducer per cent_id — the skew remedy a coarse
    # quantizer needs at scale.
    # Round-robin, NOT hash-on-id: the top-1 aggregation upstream
    # already hash-partitioned on id, so a keyed repartition would be
    # elided as redundant and the scoring stage would inherit the
    # aggregate exchange's AQE-coalesced (byte-minimal → 1 task)
    # partition count.
    spark = corpus.sparkSession
    assigned = assigned.repartition(spark.sparkContext.defaultParallelism)
    cands = assigned.join(F.broadcast(probes), on="cent_id").select(
        F.col(query_id_col),
        F.col(id_col),
        (
            dot(vec_col, query_vec_col)
            / F.greatest(F.col("_cnorm") * F.col("_qnorm"), F.lit(1e-12))
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col)
    )
    return (
        cands.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            F.round("cosine_sim", 6).alias("cosine_sim"),
            "rank",
        )
    )

def ivf_mutual_nn(
    a: DataFrame,
    b: DataFrame,
    cents_a: DataFrame,
    cents_b: DataFrame,
    nprobe: int = 4,
) -> DataFrame:
    """Mutual-nearest-neighbor mining over IVF candidates — the
    production form of exact mutual-NN bitext mining (Artetxe &
    Schwenk's LASER recipe): each direction's top-1 comes from
    :func:`ivf_topk` over its side's quantizer, and a pair survives
    only if both directions agree.

    Inputs: ``a``(a_id, va), ``b``(b_id, vb), per-side centroid tables
    (cent_id, cv). Output: (a_id, b_id, cos_sim) — cos_sim 6dp.

    Recall characteristics (pinned in tests/test_llm_ops.py): true
    bitext pairs are near-duplicates in embedding space, so both ends
    land in the same (or a probed) cell and recall approaches 1; on
    PURE-NOISE vectors (the fixture's embeddings — max mutual cosine
    ~0.5) top-1 recall is bounded by the scan fraction and the mutual
    filter squares the miss, so the noise-floor recall (~0.5 at
    nprobe=4 over ~8 cells/side) measures the data, not the method.

    Scale: ONE unioned IVF machinery for both directions instead of
    two disjoint ivf_topk passes (r5's shape — each pass re-scanned
    its sides and re-ran the cell machinery; nothing was shareable
    because the subtrees used different centroid tables). Here the
    two sides union into one (side, id, vec, norm) table that is
    scanned ONCE: a single 2C-centroid broadcast computes every
    row-vs-centroid cosine, one window ranks cells per (row,
    centroid-side) — own-side rank 1 is the row's cell assignment,
    other-side ranks ≤ nprobe are its probes — and the cached ranked
    table feeds both roles of one cell equi-join that scores each
    direction's candidates together. Mutuality needs no self-join:
    normalize each direction's top-1 to (a_id, b_id) and keep pairs
    seen from BOTH directions (count = 2 in one aggregation) — the
    cos from the a→b direction survives via max (dot and norm
    products are bitwise-commutative, so both directions carry the
    identical float). Nothing is O(|A|×|B|); at 10^9 vectors per
    side the dominant term is still the ~nprobe/C candidate scan,
    but with half the stage count and one corpus scan of r5's shape.
    """
    from sports_betting_data_pipeline_spark.io import widen_for_compute

    spark = a.sparkSession
    sides = widen_for_compute(
        a.select(
            F.lit(0).alias("_side"),
            F.col("a_id").alias("_id"),
            F.col("va").alias("_vec"),
        ).unionByName(
            b.select(
                F.lit(1).alias("_side"),
                F.col("b_id").alias("_id"),
                F.col("vb").alias("_vec"),
            )
        )
    ).withColumn("_norm", l2_norm("_vec"))
    # centroid norms fold once per centroid on the broadcast side
    # (same hoist as _nearest_cells — see there for the parity
    # argument); sides._norm already folds once per row.
    cents = (
        cents_a.select(F.lit(0).alias("_cside"), "cent_id", "cv")
        .unionByName(
            cents_b.select(F.lit(1).alias("_cside"), "cent_id", "cv")
        )
        .withColumn("_cnorm", l2_norm("cv"))
    )

    # r12: norms hoisted out of the per-(row, centroid) assignment
    # cosine — dot + precomputed _norm × _cnorm replaces cosine()'s
    # per-pair norm folds (bit-identical: same dot fold, same operand
    # order, same greatest guard). Interleaved A/B on l43: 1.51 ->
    # 1.18 s min at sf0.1, identical 174 rows.
    #
    # Measured and REJECTED here (r12): ranking a NARROW projection
    # (no _vec/_norm through the window exchange) and re-attaching
    # vectors afterwards via broadcast joins on the ranked ids — the
    # §2.3-ideal shape. At fixture scale it LOSES (interleaved minima:
    # narrow 1.56 s, narrow+sides.cache 1.46 s vs hoist-only 1.18 s):
    # the two re-attach broadcasts each serialize an extra build job
    # and `sides` evaluates once per consumer. The wide window's C×
    # vector duplication through one exchange is the documented
    # tradeoff that a 10^9-row deployment revisits by persisting the
    # ranked table and re-attaching with a shuffled join instead.
    sims = sides.crossJoin(F.broadcast(cents)).select(
        "_side",
        "_id",
        "_vec",
        "_norm",
        "_cside",
        "cent_id",
        (
            dot("_vec", "cv")
            / F.greatest(F.col("_norm") * F.col("_cnorm"), F.lit(1e-12))
        ).alias("_csim"),
    )
    w_cell = Window.partitionBy("_side", "_id", "_cside").orderBy(
        F.col("_csim").desc(), F.col("cent_id")
    )
    # cache: assignment and probe roles are two consumers of this one
    # subtree; their differing filters/projections defeat ReuseExchange
    # (SCALE.md r5), and without the cache the whole scan+window would
    # run once per role. Tiny table (2|rows|·C narrow rows); the
    # catalog runners clearCache() per run.
    ranked = (
        sims.withColumn("_rn", F.row_number().over(w_cell))
        .filter(
            F.when(F.col("_cside") == F.col("_side"), F.col("_rn") <= 1).otherwise(
                F.col("_rn") <= nprobe
            )
        )
        .cache()
    )
    # corpus role: own-side top-1 cell. Round-robin re-fan-out — the
    # cached window output is AQE-coalesced to byte-minimal partition
    # counts, which would serialize the interpreted candidate dots.
    assigned = ranked.filter(F.col("_cside") == F.col("_side")).select(
        F.col("_side").alias("_c_side"),
        F.col("_id").alias("_c_id"),
        F.col("_vec").alias("_c_vec"),
        F.col("_norm").alias("_c_norm"),
        "cent_id",
    ).repartition(spark.sparkContext.defaultParallelism)
    # probe role: other-side top-nprobe cells (query of side s probes
    # side 1-s's quantizer, so its candidates join on _cside)
    probes = ranked.filter(F.col("_cside") != F.col("_side")).select(
        F.col("_side").alias("_q_side"),
        F.col("_id").alias("_q_id"),
        F.col("_vec").alias("_q_vec"),
        F.col("_norm").alias("_q_norm"),
        F.col("_cside").alias("_c_side"),
        "cent_id",
    )
    cands = assigned.join(F.broadcast(probes), on=["_c_side", "cent_id"]).select(
        "_q_side",
        "_q_id",
        "_c_id",
        # corpus-vec × query-vec operand order and corpus×query norm
        # product keep the floats bit-identical to ivf_topk's scoring
        (
            dot("_c_vec", "_q_vec")
            / F.greatest(F.col("_c_norm") * F.col("_q_norm"), F.lit(1e-12))
        ).alias("_cos"),
    )
    w_top = Window.partitionBy("_q_side", "_q_id").orderBy(
        F.col("_cos").desc(), F.col("_c_id")
    )
    top1 = cands.withColumn("_rn", F.row_number().over(w_top)).filter(
        F.col("_rn") <= 1
    )
    return (
        top1.select(
            F.when(F.col("_q_side") == 0, F.col("_q_id"))
            .otherwise(F.col("_c_id"))
            .alias("a_id"),
            F.when(F.col("_q_side") == 0, F.col("_c_id"))
            .otherwise(F.col("_q_id"))
            .alias("b_id"),
            F.when(F.col("_q_side") == 0, F.round(F.col("_cos"), 6)).alias("_ab_cos"),
        )
        .groupBy("a_id", "b_id")
        .agg(
            F.count(F.lit(1)).alias("_n_dirs"),
            F.max("_ab_cos").alias("cos_sim"),
        )
        .filter(F.col("_n_dirs") == 2)
        .select("a_id", "b_id", "cos_sim")
    )


def pq_codebook(
    corpus: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic product-quantization codebook as a (s, code, cvec)
    DataFrame, 128 rows: subspace s's centroid ``code`` is the s-th
    subvector of the code-th-smallest-id corpus vector.

    Built with pure DataFrame ops (limit + posexplode-free slicing) —
    no driver collect; the result is broadcast into every consumer.
    Production swaps in per-subspace k-means
    (functions/similarity.kmeans_centroids runs the k-means|| trainer);
    the first-N rule keeps the whole PQ pipeline engine-reproducible,
    which is what lets the oracle hash-check it (l13's quantizer
    trick, extended per-subspace).

    Why a table and not inline literal expressions: 128 centroids x 8
    floats inlined as literals generate a Janino method past the JVM's
    64KB limit (codegen compile failure); as a broadcast-joined table
    the per-row expressions stay small and fully codegen'd.
    """
    dsub = dim // m
    firsts = (
        corpus.orderBy(id_col)
        .limit(k_codes)
        .select(
            F.col(id_col).alias("_cid"), F.col(vec_col).cast("array<double>").alias("_v")
        )
    )
    w = Window.orderBy("_cid")
    coded = firsts.withColumn("code", F.row_number().over(w).cast("long") - 1)
    structs = ", ".join(
        f"named_struct('s', {s}, 'cvec', slice(_v, {s * dsub + 1}, {dsub}))"
        for s in range(m)
    )
    return coded.select(
        "code",
        F.expr(f"explode(array({structs}))").alias("_sc"),
    ).select(F.col("_sc.s").alias("s"), "code", F.col("_sc.cvec").alias("cvec"))


def _sq_l2(a: Column, b: Column) -> Column:
    """||a - b||^2 as a LEFT fold in element order — bit-identical to
    DuckDB's list_sum(list_transform(...)) sequential sum."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _subspace_rows(
    df: DataFrame, m: int, dsub: int, id_alias: str, vec_col: str
) -> DataFrame:
    """(id, s, subvec) — m narrow rows per vector. The m slice-structs
    are one server-parsed expression (SCALE.md r6: loop-built Column
    operators are Py4J chatter at plan-construction time)."""
    structs = ", ".join(
        f"named_struct('s', {s}, 'subvec', "
        f"slice(CAST(`{vec_col}` AS ARRAY<DOUBLE>), {s * dsub + 1}, {dsub}))"
        for s in range(m)
    )
    return df.select(
        F.col(id_alias),
        F.expr(f"explode(array({structs}))").alias("_sv"),
    ).select(id_alias, F.col("_sv.s").alias("s"), F.col("_sv.subvec").alias("subvec"))


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    dsub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-encode every vector: (id, s, code) — the argmin centroid per
    subspace, ties broken on the lower code. m longs per vector replace
    the float array: this narrow table is what a 100 TB ANN index
    actually stores and shuffles.

    Shape: subspace-explode the corpus (m rows per vector), broadcast-
    join the 128-row codebook on s, fold the 8-element squared
    distance, take MIN over (d2, code) structs per (id, s) — struct
    ordering gives the deterministic lower-code tiebreak with no
    window, and the min is partial-aggregable map-side.
    """
    subs = _subspace_rows(corpus, m, dsub, id_col, vec_col)
    return (
        subs.join(F.broadcast(codebook), on="s")
        .select(
            id_col,
            "s",
            F.struct(
                _sq_l2(F.col("subvec"), F.col("cvec")).alias("d"),
                F.col("code"),
            ).alias("_dc"),
        )
        .groupBy(id_col, "s")
        .agg(F.min("_dc").alias("_best"))
        .select(id_col, "s", F.col("_best.code").alias("code"))
    )


def _adc_subspace_sums(joined: DataFrame, query_id_col: str, id_col: str, m: int):
    """The shared ADC reduction of pq_topk / ivfpq_topk: per-(query,
    vec) the ``m`` subspace distances land as one conditional SUM
    each, then fold left-to-right in FIXED s order — float addition
    does not commute, and an orderless SUM would hash-diverge from the
    oracle. Returns (per_sub frame, total Column). One implementation
    so NULL handling / ordering cannot drift between the PQ variants."""
    per_sub = joined.groupBy(query_id_col, id_col).agg(
        *[
            F.expr(f"sum(IF(s = {s}, d2, NULL))").alias(f"_d{s}")
            for s in range(m)
        ]
    )
    total = None
    for s in range(m):
        term = F.col(f"_d{s}")
        total = term if total is None else total + term
    return per_sub, total


def _exact_l2_rerank(
    cand: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
) -> DataFrame:
    """Shared exact-distance tail of pq_topk_reranked / ivfpq_topk:
    fetch the true vectors of ONLY the (query, candidate) pairs,
    exact squared-L2, top-``k`` per query (vec_id tiebreak). The
    candidate table is narrow ids; vectors join in by key — the
    compressed scan upstream never touched them."""
    vec_tbl = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_cv")
    )
    qv_tbl = queries.select(
        query_id_col, F.col(query_vec_col).cast("array<double>").alias("_qv")
    )
    exact = (
        cand.join(vec_tbl, on=id_col)
        .join(F.broadcast(qv_tbl), on=query_id_col)
        .select(
            query_id_col,
            id_col,
            F.round(_sq_l2(F.col("_cv"), F.col("_qv")), 6).alias("l2_d2"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("l2_d2").asc(), F.col(id_col))
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "l2_d2", "rank")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    k: int = 10,
    m: int = 8,
    dsub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC): corpus vectors live as m codes; each query precomputes its
    distance to every centroid (an m x k_codes table), and the
    approximate distance is the sum of table lookups selected by the
    corpus codes.

    Spark shape: the per-query distance table is a BROADCAST of
    n_queries*m*k_codes narrow rows; the lookup is an equi-join on
    (s, code) against the encoded corpus — never a cross join, and the
    scan side carries codes, not vectors. The per-(query, vec) sum
    folds the m subspace terms in FIXED s order (one conditional
    aggregate per subspace, then a left-to-right +-chain) so the
    double-precision result is bit-identical in any engine — float
    addition does not commute, and an orderless SUM would
    hash-diverge.

    Output: (query_id, vec_id, adc_d2, rank), rank 1..k per query by
    ascending approximate distance, vec_id tiebreak.
    """
    qsubs = _subspace_rows(queries, m, dsub, query_id_col, query_vec_col)
    dtab = qsubs.join(F.broadcast(codebook), on="s").select(
        query_id_col,
        "s",
        "code",
        _sq_l2(F.col("subvec"), F.col("cvec")).alias("d2"),
    )
    enc = pq_encode(corpus, codebook, m=m, dsub=dsub, id_col=id_col, vec_col=vec_col)
    per_sub, total = _adc_subspace_sums(
        enc.join(F.broadcast(dtab), on=["s", "code"]), query_id_col, id_col, m
    )
    scored = per_sub.select(query_id_col, id_col, F.round(total, 6).alias("adc_d2"))
    w = Window.partitionBy(query_id_col).orderBy(F.col("adc_d2").asc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "adc_d2", "rank")
    )

def pq_topk_reranked(
    corpus: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    k: int = 10,
    candidates: int = 100,
    m: int = 8,
    dsub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """The full PQ retrieval pipeline: ADC retrieves ``candidates``
    per query from the compressed index, then the true vectors of
    ONLY those candidates are fetched and exact-L2 re-ranked to
    ``k``. This is the production two-stage shape — the compressed
    scan never touches real vectors, and the exact math runs on
    candidates*n_queries rows, not the corpus (measured recall@10:
    0.36 ADC-only -> 0.90 with a 100-candidate re-rank on the
    fixture embeddings).

    Output: (query_id, vec_id, l2_d2, rank), rank 1..k per query by
    exact squared L2, vec_id tiebreak.
    """
    cand = pq_topk(
        corpus,
        queries,
        codebook,
        k=candidates,
        m=m,
        dsub=dsub,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    ).select(query_id_col, id_col)
    return _exact_l2_rerank(
        cand, corpus, queries, k, id_col, vec_col, query_id_col, query_vec_col
    )

def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    n_centroids: int | None = None,
    nprobe: int = 3,
    candidates: int = 50,
    k: int = 10,
    m: int = 8,
    dsub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF-PQ: the composition that serves billion-vector ANN in
    practice — coarse cells prune the corpus to ~nprobe/C, PQ codes
    compress what remains, ADC scores the pruned code set, and exact
    L2 re-ranks the top ``candidates``.

    Cell assignment uses the deterministic first-N cosine quantizer
    (l13's oracle path; swap kmeans_centroids for production), and the
    PQ codebook is global (IVFPQ by_residual=false) so every stage
    stays engine-reproducible for the oracle.

    Scale shape: assignment = C broadcast cosines per row, map-side;
    the ADC join now carries cent_id, so only codes in probed cells
    are scored (~nprobe/C of the corpus); the fixed-s-order subspace
    sum and candidate re-rank are identical to pq_topk_reranked.
    Shuffles: cell assignment window, per-(id,s) argmin, ADC
    aggregate, two top-k windows — all narrow rows.
    """
    if n_centroids is None:
        # sqrt-N cell rule (see default_n_centroids).
        n_centroids = default_n_centroids(corpus.count())
    cents = corpus.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cv")
    )

    # shared stage with ivf_topk/semdedup (keep_vec=False: the ADC
    # path scores codes, never vectors); n=1 assignment runs as the
    # map-side-combinable argmax.
    assigned = _nearest_cells(
        corpus, id_col, vec_col, cents, 1, keep_vec=False
    )
    probes = _nearest_cells(
        queries, query_id_col, query_vec_col, cents, nprobe, keep_vec=False
    )

    enc_cells = pq_encode(
        corpus, codebook, m=m, dsub=dsub, id_col=id_col, vec_col=vec_col
    ).join(assigned, on=id_col)

    qsubs = _subspace_rows(queries, m, dsub, query_id_col, query_vec_col)
    dtab = qsubs.join(F.broadcast(codebook), on="s").select(
        query_id_col, "s", "code", _sq_l2(F.col("subvec"), F.col("cvec")).alias("d2")
    )
    per_sub, total = _adc_subspace_sums(
        probes.join(enc_cells, on="cent_id").join(
            F.broadcast(dtab), on=[query_id_col, "s", "code"]
        ),
        query_id_col,
        id_col,
        m,
    )
    wc = Window.partitionBy(query_id_col).orderBy(
        F.round(total, 6).asc(), F.col(id_col)
    )
    cand = (
        per_sub.withColumn("_rn", F.row_number().over(wc))
        .filter(F.col("_rn") <= candidates)
        .select(query_id_col, id_col)
    )
    return _exact_l2_rerank(
        cand, corpus, queries, k, id_col, vec_col, query_id_col, query_vec_col
    )


def semdedup(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.99,
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then search for
    near-duplicate pairs ONLY within each cluster — the cluster
    assignment turns the O(n^2) all-pairs cosine scan into per-cluster
    blocks, the same candidate-generation trick as LSH but driven by
    the embedding geometry itself.

    ``corpus`` has (vec_id, vec_col); ``centroids`` has (cent_id, cv).
    A vector is DROPPED when a same-cluster vector with a smaller
    vec_id sits at cosine >= threshold (deterministic keep-lowest-id
    rule). Returns one row per cluster: (cluster_id, n_vectors,
    n_dup_pairs, n_dropped).

    Scale: the centroid table is tiny (broadcast nested-loop assign,
    the same C-row crossJoin shape as IVF); the pair search is an
    equi-join on cluster_id, so cost is sum over clusters of
    |cluster|^2, not n^2 — with balanced k-means|| centroids
    (kmeans_centroids) each block is bounded. At 100 TB you cap block
    cost by splitting oversized clusters (recluster or salt), exactly
    as the LSH path guards hot buckets via collapse_exact.
    """
    assigned = (
        # shared assignment stage (map-side-combinable argmax — the
        # n=1 _nearest_cells path; same tiebreak as the old window)
        _nearest_cells(corpus, "vec_id", vec_col, centroids, 1, keep_vec=True)
        # per-vector norm computed ONCE here: the pair stage below
        # evaluates O(sum |cluster|^2) comparisons, and recomputing
        # both norms per pair (cosine()) tripled its array work
        .select("vec_id", "cent_id", vec_col, l2_norm(vec_col).alias("_n"))
        # both self-join sides read this — cached, the C-way
        # assignment runs once, not twice (catalog runner clearCache()s
        # per query; production persists the assignment as its staging
        # table)
        .cache()
    )
    # The pair join's key space is only |centroids| wide — without a
    # salt the per-cluster O(|cluster|^2) cosine blocks land on C
    # reducers no matter how many cores exist (8 clusters pinned 8 of
    # 32 cores at sf0.1). Salting the a-side deterministically and
    # replicating b across the salt spreads each block over
    # C × _PAIR_SALTS partitions; the pair set is unchanged.
    _PAIR_SALTS = 8
    a = assigned.select(
        F.col("cent_id"),
        # salt on a HASH of the id, not the id itself: pmod(id, S)
        # fails analysis for string ids and clusters sequential ids;
        # xxhash64 works for every id type and spreads uniformly
        # (ngram_jaccard_pairs' ADVICE-r5 rule). Pair set unchanged —
        # the salt only routes, b replicates across every salt.
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(_PAIR_SALTS)).alias("_salt"),
        F.col("vec_id").alias("a_id"),
        F.col(vec_col).alias("_va"),
        F.col("_n").alias("_na"),
    )
    b = assigned.select(
        F.col("cent_id"),
        F.explode(
            F.sequence(F.lit(0), F.lit(_PAIR_SALTS - 1)).cast("array<bigint>")
        ).alias("_salt"),
        F.col("vec_id").alias("b_id"),
        F.col(vec_col).alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    pairs = (
        a.join(b, ["cent_id", "_salt"])
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(
            dot("_va", "_vb")
            / F.greatest(F.col("_na") * F.col("_nb"), F.lit(1e-12))
            >= F.lit(threshold)
        )
        .select("cent_id", "a_id", "b_id")
    )
    drops = pairs.groupBy("cent_id").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.count_distinct("b_id").alias("n_dropped"),
    )
    return (
        assigned.groupBy("cent_id")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .join(drops, "cent_id", "left")
        .select(
            F.col("cent_id").alias("cluster_id"),
            "n_vectors",
            F.coalesce("n_dup_pairs", F.lit(0)).alias("n_dup_pairs"),
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
        )
        .orderBy("cluster_id")
    )
