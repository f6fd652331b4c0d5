"""Relational operator surface: filters, joins, aggregates, windows.

Reference parity (SURVEY.md §2.3-§2.4, §2.7):

- F1 tournament whitelist (mm_calls.py:81-84)   -> whitelist_filter / semi-join
- F2 equality filter (mm_calls.py:239)          -> plain .filter
- F4/F5 missing-side guards (mm_calls.py:90-103)-> inner-join semantics
- F6/F7 sampling (mm_calls.py:241/309/333)      -> deterministic_sample / sample
- J1 markets<->events enrichment hash join
  (mm_calls.py:98-105)                          -> broadcast hash join
- J3 wager-id lookup (mm_calls.py:307)          -> equi-join
- A2/P5 collect-list + csv concat (mm_calls.py:94) -> csv_concat_per_group
- top-k random pick (mm_calls.py:333)           -> orderBy(rand()).limit(k)

Everything is a pure ``DataFrame -> DataFrame`` function built from
JVM-side expressions — no Python UDFs — so whole-stage codegen covers
the entire operator and Catalyst is free to reorder/push down.

Scale notes: enrichment joins broadcast the dim side explicitly (the
ladder, tournaments, nation/region dims are KB-MB scale even at 100 TB
fact scale); group-bys rely on partial (map-side) aggregation which
Spark applies automatically for all algebraic aggregates used here.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def whitelist_filter(df: DataFrame, column: str, values: Sequence[str]) -> DataFrame:
    """F1: keep rows whose ``column`` is in a small literal whitelist.

    The reference does ``name in TOURNAMENTS_INTERESTED`` per dict
    (mm_calls.py:81-84). An IN-list compiles to an optimized membership
    predicate pushed into the scan; for large whitelists prefer
    :func:`semi_join` against a broadcast dim table.
    """
    return df.filter(F.col(column).isin(list(values)))


def semi_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """J2: EXISTS — keep left rows with a match on the right.

    Right side is broadcast: whitelists/dims are small by construction.
    """
    return left.join(F.broadcast(right), on=on, how="left_semi")


def enrich_join(fact: DataFrame, dim: DataFrame, on: str | list[str]) -> DataFrame:
    """J1: hash-join enrichment of a fact table with a dim table.

    The reference builds ``map_market_by_event_id`` and probes it per
    event, skipping misses (mm_calls.py:98-105) — i.e. an inner hash
    join with the build side held in memory. Spark's equivalent is an
    inner broadcast hash join.
    """
    return fact.join(F.broadcast(dim), on=on, how="inner")


def deterministic_sample(df: DataFrame, key: str, keep: int, out_of: int) -> DataFrame:
    """F6 analog: keep rows where ``hashable key mod out_of < keep``.

    The reference samples with ``random.random() < 0.3``
    (mm_calls.py:241). For oracle-reproducible pipelines we use a
    key-modulo filter (deterministic, partition-independent, and
    expressible in ANSI SQL).
    """
    return df.filter(F.pmod(F.col(key), F.lit(out_of)) < F.lit(keep))


def topk_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-k rows per group via row_number window.

    At scale this is the standard shuffle-once pattern; Spark applies a
    per-partition partial top-k (WindowGroupLimit) before the shuffle
    so the full sort never materializes.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def running_total(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    value: str,
    out_col: str = "running_total",
) -> DataFrame:
    """Cumulative sum per key in event order (rows-frame window)."""
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out_col, F.sum(value).over(w))


def csv_concat_per_group(
    df: DataFrame, group_by: str, id_col: str, out_col: str = "id_csv"
) -> DataFrame:
    """A2/P5: per-group sorted CSV of ids (mm_calls.py:94).

    ``','.join(str(e['event_id']))`` per tournament becomes
    groupBy + sort_array(collect_list) + concat_ws. Numeric sort before
    stringification (string sort would order 10 before 2).
    """
    ids = F.array_sort(F.collect_list(F.col(id_col)))
    return df.groupBy(group_by).agg(
        F.concat_ws(",", F.transform(ids, lambda x: x.cast("string"))).alias(out_col),
        F.count(F.lit(1)).alias("n_ids"),
    )


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: str,
    buckets: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Skew-mitigated equi-join: spread a hot key across ``buckets``
    shuffle partitions.

    The skewed side gets a random salt in [0, buckets); the other side
    is replicated once per salt value; the join key becomes
    (key, salt). A key holding 30% of 100 TB then lands on ``buckets``
    reducers instead of one. Complements AQE's skew-join splitting
    (which only helps sort-merge joins after the fact) — use this when
    the skew is known ahead of time and the other side is small enough
    to replicate.

    The join is inner. (A right or full outer join would duplicate the
    replicated side's unmatched rows once per salt.)
    """
    salted_l = skewed.withColumn(
        "_salt", (F.rand(seed) * buckets).cast("int")
    )
    salted_r = other.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(buckets)]))
    )
    return salted_l.join(salted_r, on=[on, "_salt"]).drop("_salt")


def stratified_sample(
    df: DataFrame,
    key: str,
    strata_col: str,
    rates: dict[str, tuple[int, int]],
) -> DataFrame:
    """Per-stratum deterministic sampling: keep rows of stratum ``s``
    where ``key mod out_of < keep`` for ``rates[s] = (keep, out_of)``;
    strata without an entry are kept whole.

    The oracle-reproducible form of ``df.sampleBy`` (whose RNG is not
    cross-engine comparable). Partition-independent — no shuffle, the
    predicate evaluates scan-side.
    """
    cond = None
    for stratum, (keep, out_of) in rates.items():
        arm = (F.col(strata_col) == stratum) & (
            F.pmod(F.col(key), F.lit(out_of)) < F.lit(keep)
        )
        cond = arm if cond is None else cond | arm
    # NULL strata have no rate entry — keep them whole. `~isin` alone
    # evaluates to NULL for them and would silently drop the rows.
    others = F.col(strata_col).isNull() | ~F.col(strata_col).isin(list(rates))
    return df.filter(others if cond is None else cond | others)


def bloom_prefilter(
    probe: DataFrame,
    probe_key: str,
    build_keys: DataFrame,
    build_key: str,
    num_words: int = 1024,
    num_hashes: int = 3,
) -> DataFrame:
    """Distributed Bloom-filter pre-filter for a selective semi-join:
    drop probe rows that CANNOT match before the join's shuffle.

    The filter is built as a DATAFRAME, never on the driver (unlike
    ``df.stat.bloomFilter``, which collects): the bit array is
    partitioned into ``num_words`` 64-bit words, each build key sets
    ``num_hashes`` bits via seeded xxhash64, and a groupBy(word_idx)
    ``bit_or`` folds them into at most ``num_words`` (word, mask) rows
    — a table of a few KB regardless of build-side row count, built
    with one map-side-combined shuffle. The probe side then takes one
    BROADCAST join per hash function (no row explosion) and keeps rows
    whose bits are all set.

    No false negatives by construction — every true match survives —
    so `bloom_prefilter + exact join ≡ exact join`; false positives
    (expected rate ~(1-e^{-kn/m})^k) just ride through to the exact
    join. At 100 TB this is the user-level form of the runtime
    bloom-pruned shuffle join: the fact table's shuffle carries only
    bloom-positive rows, a >90% payload cut when the build side is
    selective.
    """
    # xxhash64 is TYPE-sensitive (int 5 and bigint 5 hash differently),
    # so a probe/build key type mismatch that the exact equi-join would
    # implicitly cast into a match would produce silent FALSE NEGATIVES
    # here. Refuse it loudly — the caller casts one side explicitly.
    probe_t = dict(probe.dtypes)[probe_key]
    build_t = dict(build_keys.dtypes)[build_key]
    if probe_t != build_t:
        raise ValueError(
            f"bloom_prefilter key types must match exactly (xxhash64 is "
            f"type-sensitive): probe {probe_key}:{probe_t} vs build "
            f"{build_key}:{build_t} — cast one side first"
        )
    # shiftleft/shiftright take a literal int in the DataFrame API;
    # the SQL forms accept column shift amounts, so the bit math uses
    # F.expr over named columns.
    build = build_keys.select(F.col(build_key).alias("_bk")).distinct()
    out = probe
    for i in range(num_hashes):
        pos = F.pmod(F.xxhash64(F.col(probe_key), F.lit(i)), F.lit(num_words * 64))
        bpos = F.pmod(F.xxhash64(F.col("_bk"), F.lit(i)), F.lit(num_words * 64))
        mask_tbl = (
            build.select(bpos.alias("_p"))
            .select(
                (F.col("_p") / 64).cast("int").alias(f"_w{i}"),
                F.expr("shiftleft(1L, cast(_p % 64 AS int))").alias("_b"),
            )
            .groupBy(f"_w{i}")
            .agg(F.bit_or("_b").alias(f"_mask{i}"))
        )
        out = (
            out.withColumn(f"_pw{i}", (pos / 64).cast("int"))
            .withColumn(f"_pb{i}", (pos % 64).cast("int"))
            .join(
                F.broadcast(mask_tbl),
                F.col(f"_pw{i}") == F.col(f"_w{i}"),
                "left",
            )
            .filter(
                F.col(f"_mask{i}").isNotNull()
                & F.expr(f"(shiftright(_mask{i}, _pb{i}) & 1L) = 1L")
            )
            .drop(f"_pw{i}", f"_pb{i}", f"_w{i}", f"_mask{i}")
        )
    return out


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    key_cols: Sequence[str],
    partition_by: str | None = None,
) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-Res, public algorithm): each row draws a
    uniform u from the md5 of its key columns and competes on
    ``ln(u)/weight`` — the top-k keys are a weighted sample, exactly
    the "sample corpora proportional to quality/size" primitive a
    training-data pipeline needs.

    The uniform is md5-derived (first 8 hex chars → uint32 → (h+1)/2^32,
    the repo's engine-portable randomness discipline, as l26/wg01), so
    the draw is reproducible across runs AND engines — a DuckDB oracle
    computes the identical sample.

    Scale: one map-side key computation + one per-partition top-k
    (WindowGroupLimit prunes before the shuffle when partitioned;
    global top-k becomes TakeOrdered). Weights must be > 0 — caller
    filters.
    """
    u = (
        F.conv(F.substring(F.md5(F.concat_ws("|", *key_cols)), 1, 8), 16, 10)
        .cast("double")
        + 1.0
    ) / F.lit(4294967296.0)
    es_key = F.log(u) / F.col(weight_col)
    w = (
        Window.partitionBy(partition_by) if partition_by else Window.partitionBy()
    ).orderBy(F.desc(es_key), *[F.asc(c) for c in key_cols])
    return (
        df.withColumn("_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("_rank") <= k)
    )
