"""As-of and range joins — temporal join operators Spark lacks as
built-ins, expressed as compositions of shuffle-friendly primitives
(no inequality-join nested loops, no range explosion).

Neither exists in the reference (SURVEY.md §2.4 "Not present"), but a
betting/analytics engine needs both: "latest odds update at or before
this wager" is an as-of join; "events inside this market's live
window" is a range join.

Scale design:
- as-of join: ONE shuffle on the key. Both sides are union-tagged and
  sorted within key partitions; a ``last(ignorenulls)`` running window
  carries the most recent right-side payload onto each left row. This
  is linear in rows, independent of time-gap density — the classic
  alternative (inequality join + max) degenerates to a per-key cross
  join on hot keys.
- range join: band both sides to fixed-width time buckets; intervals
  explode to the (few) buckets they cover, points compute one bucket;
  an equi-join on (key, bucket) + exact predicate replaces the
  BroadcastNestedLoopJoin Spark would pick for a raw inequality join.
  Bucket width should be of the order of the interval width: each
  interval then lands in O(1) buckets.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    payload_cols: Sequence[str],
    payload_name: str = "asof",
) -> DataFrame:
    """Left as-of join: for each left row, attach the latest right row
    with ``right.ts <= left.ts`` for the same key.

    Returns every left row plus one struct column ``payload_name``
    containing ``(ts, *payload_cols)`` of the matched right row (null
    when no right row precedes).

    Determinism: if the right side can hold several rows at the same
    (key, ts), pre-aggregate it to one — the window tie-break among
    equal timestamps is otherwise partition-order dependent.
    """
    for reserved in ("_asof_p", "_ord", payload_name):
        if reserved in left.columns:
            raise ValueError(f"left side may not contain column {reserved!r}")
    payload_t = F.struct(F.col(ts), *[F.col(c) for c in payload_cols])
    # At equal ts the right row sorts BEFORE the left row, so the left
    # row sees it (<=).
    # NULL-ts right rows are dropped up front: `right.ts <= left.ts`
    # can never hold for an unknown timestamp, but the ascending sort
    # is NULLS FIRST, so such a row would otherwise sort to the head
    # of its key partition and its payload would attach to every left
    # row that has no real preceding right row. NULL-KEY right rows
    # likewise: a JOIN key never matches on NULL, but the window's
    # partitionBy groups NULL keys together and would happily "match"
    # a NULL-key left row to a NULL-key right row (fuzz_oracle nulls
    # variant vs DuckDB ASOF JOIN semantics).
    r = (
        right.filter(F.col(ts).isNotNull() & F.col(key).isNotNull())
        .select(F.col(key), F.col(ts), payload_t.alias("_asof_p"))
        .withColumn("_ord", F.lit(0))
    )
    l = left.withColumn("_ord", F.lit(1))
    merged = l.unionByName(r, allowMissingColumns=True)

    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("_ord").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        merged.withColumn(payload_name, F.last("_asof_p", ignorenulls=True).over(w))
        # left rows are exactly those the union filled with a null
        # payload (right payload structs are never null themselves)
        .filter(F.col("_asof_p").isNull())
        .drop("_asof_p", "_ord")
    )


def range_join_count(
    intervals: DataFrame,
    points: DataFrame,
    key: str,
    interval_id: str,
    start: str,
    end: str,
    point_ts: str,
    bucket_seconds: int,
    count_alias: str = "n_points",
) -> DataFrame:
    """LEFT range join reduced to a count: for every interval, the
    number of same-key points with ``start <= point_ts < end``.

    Banded plan: intervals explode to covered time buckets, points map
    to one bucket, candidates equi-join on (key, bucket), the exact
    range predicate filters, and intervals with zero matches are
    restored by a final left join. Every join is a hash equi-join.
    """
    ib = intervals.select(
        F.col(interval_id),
        F.col(key),
        F.col(start).alias("_w_start"),
        F.col(end).alias("_w_end"),
    ).withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp("_w_start") / bucket_seconds),
                F.floor(F.unix_timestamp("_w_end") / bucket_seconds),
            )
        ),
    )
    pb = points.select(
        F.col(key), F.col(point_ts).alias("_p_ts")
    ).withColumn("_bucket", F.floor(F.unix_timestamp("_p_ts") / bucket_seconds))

    counts = (
        ib.join(pb, on=[key, "_bucket"])
        .filter((F.col("_p_ts") >= F.col("_w_start")) & (F.col("_p_ts") < F.col("_w_end")))
        .groupBy(interval_id)
        .agg(F.count(F.lit(1)).alias(count_alias))
    )
    return (
        # one row per interval ID: the id is the interval's identity,
        # so a source that re-delivers an interval row must not emit
        # it twice (fuzz_oracle dup variant; the counts side already
        # collapses by id). The dedup's exchange is the same
        # interval_id partitioning the restore join needs — AQE reuses
        # it, so this costs no extra shuffle.
        intervals.select(interval_id, key)
        .dropDuplicates([interval_id])
        .join(counts, on=interval_id, how="left")
        .withColumn(count_alias, F.coalesce(F.col(count_alias), F.lit(0)))
    )
