"""Unit tests: odds-ladder kit, as-of/range joins, wager lifecycle,
and the K1-K3 sinks — the subtle-semantics pins (SURVEY.md §5.3)."""

from __future__ import annotations

import datetime
import glob
import os

import pytest
from pyspark.sql import functions as F

from sports_betting_data_pipeline_spark.functions.odds import (
    drawn_odds,
    implied_probability,
    odds_ladder,
    snap_to_ladder,
)
from sports_betting_data_pipeline_spark.operators.asof import (
    asof_join,
    range_join_count,
)
from sports_betting_data_pipeline_spark.operators.wagers import (
    apply_cancellations,
    batch_cancel_pick,
    place_wagers,
)
from sports_betting_data_pipeline_spark.sinks.sheets import (
    SpoolTransport,
    foreach_partition_batched,
    sheet_append,
)


# ---------------------------------------------------------------------------
# Odds ladder
# ---------------------------------------------------------------------------
def test_ladder_shape():
    lad = odds_ladder()
    assert len(lad) == 291
    assert lad == tuple(sorted(lad))
    assert -100 not in lad and 100 in lad
    assert lad[0] == -10000 and lad[-1] == 10000
    # magnitude-symmetric except the missing -100
    pos = {v for v in lad if v > 0}
    neg = {-v for v in lad if v < 0}
    assert pos - neg == {100} and neg - pos == set()


def test_snap_ties_go_to_smaller_rung(spark):
    # 121 is equidistant from rungs 120 and 122 -> smaller rung wins.
    df = spark.createDataFrame([(121,), (-10500,), (0,)], ["v"])
    got = {
        r.v: r.s
        for r in df.select("v", snap_to_ladder(F.col("v")).alias("s")).collect()
    }
    assert got[121] == 120
    assert got[-10500] == -10000  # clamps to the edge rung
    assert got[0] == 100  # |100-0|=100 beats |-101-0|=101


def test_drawn_odds_remaps_minus_100(spark):
    lad = odds_ladder()
    idx_100 = lad.index(100)  # draw rung 100, flipped run -> -100 -> 100
    row_id = 291 + idx_100  # div 291 == 1 (odd -> flip), mod 291 == idx_100
    df = spark.createDataFrame([(row_id,)], ["i"])
    [r] = df.select(drawn_odds(F.col("i")).alias("o")).collect()
    assert r.o == 100


def test_implied_probability_bounds(spark):
    df = spark.createDataFrame([(100,), (-110,), (10000,), (-10000,)], ["o"])
    got = {
        r.o: r.p
        for r in df.select(
            "o", implied_probability(F.col("o")).alias("p")
        ).collect()
    }
    assert got[100] == pytest.approx(0.5)
    assert got[-110] == pytest.approx(110 / 210)
    assert 0 < got[10000] < 0.01 and got[-10000] > 0.99


# ---------------------------------------------------------------------------
# As-of / range joins
# ---------------------------------------------------------------------------
def _t(minute: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1, 12, minute)


def test_asof_join_nonstrict_picks_equal_ts(spark):
    left = spark.createDataFrame([(1, _t(10), "L1")], ["k", "ts", "lv"])
    right = spark.createDataFrame(
        [(1, _t(5), "early"), (1, _t(10), "equal"), (1, _t(11), "late")],
        ["k", "ts", "rv"],
    )
    [row] = asof_join(left, right, key="k", ts="ts", payload_cols=["rv"]).collect()
    assert row.asof.rv == "equal"  # <= semantics: equal-ts right row matches


def test_asof_join_strict_skips_equal_ts(spark):
    left = spark.createDataFrame([(1, _t(10), "L1")], ["k", "ts", "lv"])
    right = spark.createDataFrame(
        [(1, _t(5), "early"), (1, _t(10), "equal")], ["k", "ts", "rv"]
    )
    [row] = asof_join(
        left, right, key="k", ts="ts", payload_cols=["rv"], strict=True
    ).collect()
    assert row.asof.rv == "early"


def test_asof_join_unmatched_left_null_vs_inner(spark):
    left = spark.createDataFrame([(1, _t(1), "L")], ["k", "ts", "lv"])
    right = spark.createDataFrame([(1, _t(5), "later")], ["k", "ts", "rv"])
    [row] = asof_join(left, right, key="k", ts="ts", payload_cols=["rv"]).collect()
    assert row.asof is None
    assert (
        asof_join(left, right, key="k", ts="ts", payload_cols=["rv"], how="inner")
        .count()
        == 0
    )


def test_snap_to_ladder_propagates_null_and_nan(spark):
    """Missing odds must stay missing: NULL used to clamp to the
    +10000 rung (least/greatest skip nulls) and NaN fell through the
    tie comparison to -10000 — phantom extreme-rung counts."""
    from sports_betting_data_pipeline_spark.functions.odds import snap_to_ladder

    df = spark.createDataFrame(
        [(1, None), (2, float("nan")), (3, 150.0)], ["i", "v"]
    )
    got = {
        r.i: r.s
        for r in df.select("i", snap_to_ladder(F.col("v")).alias("s")).collect()
    }
    assert got[1] is None and got[2] is None and got[3] == 150.0


def test_asof_join_ignores_null_ts_right_rows(spark):
    """A right row with NULL ts can never satisfy right.ts <= left.ts;
    NULLS FIRST ordering must not attach its payload to left rows that
    have no real preceding right row."""
    left = spark.createDataFrame([(1, _t(1), "L")], ["k", "ts", "lv"])
    right = spark.createDataFrame(
        [(1, None, "garbage"), (1, _t(5), "later")], ["k", "ts", "rv"]
    )
    [row] = asof_join(left, right, key="k", ts="ts", payload_cols=["rv"]).collect()
    assert row.asof is None
    assert (
        asof_join(left, right, key="k", ts="ts", payload_cols=["rv"], how="inner")
        .count()
        == 0
    )


def test_bloom_prefilter_rejects_key_type_mismatch(spark):
    """xxhash64 is type-sensitive; a silent int/bigint mismatch would
    produce false negatives, so the operator must refuse it."""
    import pytest as _pytest

    from sports_betting_data_pipeline_spark.operators.relational import (
        bloom_prefilter,
    )

    probe = spark.createDataFrame([(5,)], ["k"]).select(
        F.col("k").cast("int").alias("k")
    )
    build = spark.createDataFrame([(5,)], ["k"]).select(
        F.col("k").cast("bigint").alias("k")
    )
    with _pytest.raises(ValueError, match="type"):
        bloom_prefilter(probe, "k", build, "k")


def test_scd2_apply_chains_preserving_valid_from(spark):
    """Feeding batch N's current rows back in must keep the valid_from
    a row was opened at — not rewrite it to the initial constant."""
    from sports_betting_data_pipeline_spark.operators.scd import scd2_apply

    dim = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "attr"])
    h1 = scd2_apply(dim, spark.createDataFrame([(1, "a2")], ["k", "attr"]),
                    "k", ["attr"], effective="2024-02-01")
    cur1 = h1.filter(F.col("is_current")).select("k", "attr", "valid_from")
    h2 = scd2_apply(cur1, spark.createDataFrame([(1, "a3")], ["k", "attr"]),
                    "k", ["attr"], effective="2024-03-01")
    rows = {(r.k, r.attr): r for r in h2.collect()}
    closed = rows[(1, "a2")]
    assert str(closed.valid_from) == "2024-02-01"  # NOT 1970-01-01
    assert str(closed.valid_to) == "2024-03-01" and not closed.is_current
    assert str(rows[(1, "a3")].valid_from) == "2024-03-01"
    assert str(rows[(2, "b")].valid_from) == "1970-01-01"  # pre-history


def test_exact_quantile_cuts_constant_and_empty_probs(spark):
    from sports_betting_data_pipeline_spark.operators.quantiles import (
        exact_quantile_cuts,
    )

    const = spark.range(100000).select(F.lit(7.0).alias("v"))
    [row] = exact_quantile_cuts(const, "v", [0.0, 0.5, 1.0]).collect()
    assert row.qs == [7.0, 7.0, 7.0]
    [row] = exact_quantile_cuts(const, "v", []).collect()
    assert row.qs == []


def test_range_join_count_boundaries(spark):
    # interval [12:10, 12:20): 12:10 in, 12:20 out, other key out.
    intervals = spark.createDataFrame(
        [(1, "w1", _t(10), _t(20))], ["k", "iid", "s", "e"]
    )
    points = spark.createDataFrame(
        [(1, _t(10)), (1, _t(19)), (1, _t(20)), (2, _t(15))], ["k", "pts"]
    )
    [row] = range_join_count(
        intervals, points, key="k", interval_id="iid",
        start="s", end="e", point_ts="pts", bucket_seconds=300,
    ).collect()
    assert row.n_points == 2


# ---------------------------------------------------------------------------
# Wager lifecycle
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def small_events(spark):
    rows = [
        (i, _t(i % 60), i % 5, "purchase", float(i) / 10, "{}") for i in range(40)
    ]
    return spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )


def test_place_then_cancel_roundtrip(small_events):
    wagers = place_wagers(small_events)
    assert wagers.count() == 12  # event_id % 10 < 3 -> 3 of 10
    assert wagers.select("external_id").distinct().count() == 12
    cancels = wagers.filter(F.col("event_id") < 10)
    remaining = apply_cancellations(wagers, cancels)
    assert remaining.count() == wagers.count() - cancels.count()
    # 404 tolerance: cancelling unknown ids is a no-op
    unknown = small_events.limit(1).select(F.lit("nope").alias("external_id"))
    assert apply_cancellations(remaining, unknown).count() == remaining.count()


def test_batch_cancel_pick_caps_per_user(small_events):
    wagers = place_wagers(small_events)  # 12 wagers over 5 users
    picked = batch_cancel_pick(wagers, k=2)
    per_user = picked.groupBy("user_id").count().collect()
    assert all(r["count"] <= 2 for r in per_user)
    # deterministic across invocations
    a = sorted(r.external_id for r in picked.collect())
    b = sorted(r.external_id for r in batch_cancel_pick(wagers, k=2).collect())
    assert a == b


# ---------------------------------------------------------------------------
# Sinks
# ---------------------------------------------------------------------------
def test_sheet_append_raw_rendering(spark, tmp_path):
    df = spark.createDataFrame([(1, None, "x"), (2, 3.5, None)], ["a", "b", "c"])
    parts = sheet_append(df.coalesce(1), str(tmp_path), "sheet1")
    assert len(parts) == 1
    lines = open(parts[0]).read().splitlines()
    assert lines[0] == "a,b,c"
    assert sorted(lines[1:]) == ["1,,x", "2,3.5,"]  # nulls -> "" (RAW)


def test_sheet_append_quotes_freeform_cells(spark, tmp_path):
    import csv as _csv

    df = spark.createDataFrame(
        [(1, 'Team A, "The Champs"', "line1\nline2"), (2, "plain", "ok")],
        ["a", "name", "note"],
    )
    parts = sheet_append(df.coalesce(1), str(tmp_path), "sheet2")
    with open(parts[0], newline="") as fh:
        rows = list(_csv.reader(fh))
    assert rows[0] == ["a", "name", "note"]
    data = sorted(rows[1:])
    assert data == [["1", 'Team A, "The Champs"', "line1\nline2"], ["2", "plain", "ok"]]


# Byte-level golden for the RAW CSV rendering. Every cell but the lone
# carriage return matches what Python's csv.writer (QUOTE_MINIMAL,
# lineterminator "\n") wrote byte for byte; that writer left "cr\rx"
# unquoted, so csv.reader split its row in two.
_GOLDEN_CELLS = [
    "a,b",
    'say "hi"',
    '"',
    "l1\nl2",
    "l1\r\nl2",
    "cr\rx",
    " lead",
    "trail ",
    "t\tab",
    "",
    None,
    "NA",
    "#hash",
    "h\u00e9llo \u2713",
    "nu\x00l",
]
_GOLDEN_BYTES = (
    b"i,cell,tail\n"
    b'0,"a,b",z\n'
    b'1,"say ""hi""",z\n'
    b'2,"""",z\n'
    b'3,"l1\nl2",z\n'
    b'4,"l1\r\nl2",z\n'
    b'5,"cr\rx",z\n'
    b"6, lead,z\n"
    b"7,trail ,z\n"
    b"8,t\tab,z\n"
    b"9,,z\n"
    b"10,,z\n"
    b"11,NA,z\n"
    b"12,#hash,z\n"
    b"13,h\xc3\xa9llo \xe2\x9c\x93,z\n"
    b"14,nu\x00l,z\n"
)


def _golden_frame(spark):
    rows = [(i, c, "z") for i, c in enumerate(_GOLDEN_CELLS)]
    return spark.createDataFrame(rows, "i long, cell string, tail string").coalesce(1)


def test_sheet_append_golden_bytes(spark, tmp_path):
    parts = sheet_append(_golden_frame(spark), str(tmp_path), "golden")
    assert len(parts) == 1
    with open(parts[0], "rb") as fh:
        assert fh.read() == _GOLDEN_BYTES


def test_sheet_append_lone_carriage_return_round_trips(spark, tmp_path):
    import csv as _csv

    df = spark.createDataFrame([(8, "cr\rx", "z")], "a long, b string, c string")
    parts = sheet_append(df.coalesce(1), str(tmp_path), "cr")
    with open(parts[0], newline="", encoding="utf-8") as fh:
        assert list(_csv.reader(fh)) == [["a", "b", "c"], ["8", "cr\rx", "z"]]


def test_sheet_append_without_header(spark, tmp_path):
    parts = sheet_append(
        _golden_frame(spark), str(tmp_path), "nohdr", include_header=False
    )
    with open(parts[0], "rb") as fh:
        assert fh.read() == _GOLDEN_BYTES.split(b"\n", 1)[1]


def test_sheet_append_empty_frame_leaves_no_file(spark, tmp_path):
    df = spark.createDataFrame([(1, "x")], "a long, b string").limit(0)
    for header in (True, False):
        sheet = f"empty_{header}"
        assert sheet_append(df, str(tmp_path), sheet, include_header=header) == []
        assert os.listdir(tmp_path / sheet) == []


def test_sheet_append_leaves_only_data_parts(spark, tmp_path):
    # 2 rows over 4 partitions: Spark also writes a header-only part for
    # the empty partition 0, plus _SUCCESS and .crc files when staging
    df = spark.createDataFrame([(1, "a"), (2, "b")], "a long, b string")
    df = df.repartition(4).sortWithinPartitions("a")
    parts = sheet_append(df, str(tmp_path), "sheet3")
    target = tmp_path / "sheet3"
    assert sorted(os.listdir(target)) == sorted(os.path.basename(p) for p in parts)
    assert all(os.path.dirname(p) == str(target) for p in parts)
    rows = []
    for p in parts:
        lines = open(p).read().splitlines()
        assert lines[0] == "a,b" and len(lines) > 1
        rows += lines[1:]
    assert sorted(rows) == ["1,a", "2,b"]
    # a second append to the same sheet adds parts, it replaces none
    more = sheet_append(df, str(tmp_path), "sheet3")
    assert not set(more) & set(parts)
    assert len(os.listdir(target)) == len(parts) + len(more)


def test_sheet_append_typed_cells_use_spark_string_cast(spark, tmp_path):
    df = spark.sql(
        "SELECT true AS b, CAST(1e10 AS DOUBLE) AS d, CAST(0.1 AS DOUBLE) AS e, "
        "TIMESTAMP'2024-03-10 02:30:05' AS t, CAST(NULL AS BOOLEAN) AS n"
    )
    parts = sheet_append(df, str(tmp_path), "typed")
    assert open(parts[0]).read() == "b,d,e,t,n\ntrue,1.0E10,0.1,2024-03-10 02:30:05,\n"


def test_sheet_append_runs_no_python_worker(spark, tmp_path, monkeypatch):
    from pyspark.sql import DataFrame

    def no_rdd(self):
        raise AssertionError("sheet_append must not go through DataFrame.rdd")

    df = _golden_frame(spark)
    monkeypatch.setattr(DataFrame, "rdd", property(no_rdd))
    parts = sheet_append(df, str(tmp_path), "jvm")
    with open(parts[0], "rb") as fh:
        assert fh.read() == _GOLDEN_BYTES


def test_foreach_partition_batched_sizes(spark, tmp_path):
    spool = str(tmp_path / "posts")
    df = spark.createDataFrame([(i,) for i in range(7)], ["n"]).coalesce(1)
    foreach_partition_batched(df, SpoolTransport(spool), batch_size=3)
    sizes = sorted(
        len(open(p).read().splitlines()) for p in glob.glob(os.path.join(spool, "*.jsonl"))
    )
    assert sizes == [1, 3, 3]  # 7 rows -> 3+3+1, short final batch flushes


# ---------------------------------------------------------------------------
# Skew salting
# ---------------------------------------------------------------------------
def test_salted_join_equals_plain_join(spark):
    from sports_betting_data_pipeline_spark.operators.relational import salted_join

    left = spark.createDataFrame(
        [(k, i) for i in range(50) for k in ("hot", f"cold{i % 3}")], ["k", "n"]
    )
    right = spark.createDataFrame(
        [("hot", 1.0), ("cold0", 2.0), ("cold1", 3.0), ("missing", 9.0)], ["k", "v"]
    )
    plain = {(r.k, r.n, r.v) for r in left.join(right, on="k").collect()}
    salted = {
        (r.k, r.n, r.v)
        for r in salted_join(left, right, on="k", buckets=4).collect()
    }
    assert salted == plain
    # left join preserves unmatched skewed-side rows exactly once
    lp = left.join(right, on="k", how="left").count()
    ls = salted_join(left, right, on="k", buckets=4, how="left").count()
    assert lp == ls

    import pytest as _pytest

    with _pytest.raises(ValueError):
        salted_join(left, right, on="k", how="right")


def test_approx_count_distinct_within_tolerance(spark):
    # the 100 TB path for d02: HLL sketches merge map-side; pin the
    # accuracy contract (default rsd 5%) on a known cardinality
    df = spark.range(0, 20000).select((F.col("id") % 1997).alias("k"))
    [row] = df.agg(
        F.approx_count_distinct("k").alias("approx"),
        F.countDistinct("k").alias("exact"),
    ).collect()
    assert row.exact == 1997
    assert abs(row.approx - row.exact) / row.exact < 0.05


def test_bloom_prefilter_no_false_negatives_and_selective(spark, sf_dir):
    from pyspark.sql import functions as F

    from sports_betting_data_pipeline_spark.io import load_table
    from sports_betting_data_pipeline_spark.operators.relational import (
        bloom_prefilter,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    build = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select("o_orderkey")
    )
    pre = bloom_prefilter(li, "l_orderkey", build, "o_orderkey", num_words=512)

    # no false negatives: exact-join results identical with and
    # without the prefilter
    exact = li.join(build, li.l_orderkey == build.o_orderkey, "left_semi")
    pre_exact = pre.join(build, pre.l_orderkey == build.o_orderkey, "left_semi")
    assert pre_exact.count() == exact.count()

    # the prefilter must actually prune: bloom-positive rows are a
    # strict subset of the probe, within ~2x of the true match count
    n_probe, n_pre, n_true = li.count(), pre.count(), exact.count()
    assert n_pre < n_probe
    assert n_pre <= max(2 * n_true, n_true + 64)


def test_bloom_prefilter_mask_table_is_bounded(spark, sf_dir):
    from pyspark.sql import functions as F

    from sports_betting_data_pipeline_spark.io import load_table
    from sports_betting_data_pipeline_spark.operators.relational import (
        bloom_prefilter,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    build = load_table(spark, sf_dir, "orders").select("o_orderkey")
    pre = bloom_prefilter(li, "l_orderkey", build, "o_orderkey", num_words=64)
    # every broadcast side in the plan is the folded mask table —
    # num_words rows max, however many build keys went in
    plan = pre._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
