"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import inputs, stats  # noqa: E402


def test_tail_keeps_ten_samples_beyond() -> None:
    samples = [float(i) for i in range(1, 101)]  # 1..100
    value, pct = stats.tail(samples)
    assert sum(1 for s in samples if s > value) == 10
    assert value == 90.0 and pct == 90.0


def test_tail_percentile_falls_with_fewer_samples() -> None:
    samples = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0, 12.0]
    value, pct = stats.tail(samples)
    assert value == 2.0  # ten samples (3..12) lie beyond it
    assert pct == pytest.approx(100 * 2 / 12)


def test_tail_with_too_few_samples_is_the_maximum() -> None:
    value, pct = stats.tail([3.0, 1.0, 2.0])
    assert (value, pct) == (3.0, 100.0)


def test_self_time_subtracts_covered_child_time() -> None:
    # children overlap each other and stick out of the span
    span = (0.0, 10.0)
    children = [(1.0, 3.0), (2.0, 4.0), (8.0, 12.0), (-1.0, 0.5)]
    assert stats.covered(span, children) == pytest.approx(3.0 + 2.0 + 0.5)
    assert stats.self_time(span, children) == pytest.approx(4.5)
    assert stats.self_time(span, []) == 10.0


def test_outermost_merges_nested_spans() -> None:
    assert stats.outermost([(0, 5), (1, 2), (6, 7), (6.5, 8)]) == [(0, 5), (6, 8)]


def test_drains_merge_stream_queries_and_leave_construction() -> None:
    from perfbench import trace

    tracer = trace.Tracer()
    tracer.spans = [
        ["streaming.run_stream_to_table", 1.0, 3.0, None, "op"],
        ["streaming.query", 1.5, 2.5, 0, "op"],  # the drain's own query
        ["streaming.query", 5.0, 6.0, None, "op"],  # a plan's own stream
    ]
    phases = [("op", "construct", 0.0, 8.0)]
    m = trace.summarize(tracer, phases, [], [], [], cores=4, group_prefix="g:")
    assert m["streaming.drains"] == 2
    assert m["streaming.drain_s"] == pytest.approx(3.0)
    assert m["plans.construct_s"] == pytest.approx(5.0)


def test_staggered_times_each_op_once_per_pass_in_order() -> None:
    n, passes, stride = 8, 3, 2
    order = stats.staggered(n, passes, stride)
    assert sorted(order) == [(i, p) for i in range(n) for p in range(passes)]
    assert [i for i, p in order if p == 0] == list(range(n))
    for i in range(n):
        assert [p for j, p in order if j == i] == list(range(passes))
    # op i's pass-p run comes between op i + stride * p's first run and
    # the next op's, when that op exists, and after all of pass 0 if not
    assert order.index((2, 0)) < order.index((0, 1)) < order.index((3, 0))
    assert order.index((5, 0)) < order.index((1, 2)) < order.index((6, 0))
    assert order.index((7, 0)) < order.index((6, 1))
    assert stats.staggered(4, 1) == [(0, 0), (1, 0), (2, 0), (3, 0)]


def test_failed_frac_counts_against_attempted() -> None:
    assert stats.failed_frac(0, 36) == 0.0
    assert stats.failed_frac(3, 12) == 0.25
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)


def _read_all(path: str) -> dict:
    return {t: pq.read_table(os.path.join(path, f"{t}.parquet")) for t in inputs.TABLES}


def test_same_seed_same_tables(tmp_path) -> None:
    a, b = tmp_path / "a", tmp_path / "b"
    sizes = inputs.derive_tables(7, str(a), replicas=2)
    assert sizes == inputs.derive_tables(7, str(b), replicas=2)
    ta, tb = _read_all(str(a)), _read_all(str(b))
    assert all(ta[t].equals(tb[t]) for t in inputs.TABLES)


def test_other_seed_other_tables(tmp_path) -> None:
    inputs.derive_tables(7, str(tmp_path / "a"), replicas=2, near_dup_base=64)
    inputs.derive_tables(8, str(tmp_path / "b"), replicas=2, near_dup_base=64)
    ta, tb = _read_all(str(tmp_path / "a")), _read_all(str(tmp_path / "b"))
    assert not ta["orders"].equals(tb["orders"])  # row order
    ids_a = set(ta["documents"]["doc_id"].to_pylist())
    ids_b = set(tb["documents"]["doc_id"].to_pylist())
    assert ids_a != ids_b  # base subset and replica offsets
    for t in (ta, tb):
        # literal-range ids stay, and rows are only reordered
        assert set(range(inputs.PINNED_IDS)) <= set(t["embeddings"]["vec_id"].to_pylist())
        assert t["orders"].sort_by("o_orderkey").equals(
            pq.read_table(os.path.join(inputs.FIXTURE_DIR, "orders.parquet")).sort_by("o_orderkey")
        )


def test_replicas_are_near_duplicates(tmp_path) -> None:
    sizes = inputs.derive_tables(3, str(tmp_path), replicas=2, near_dup_base=64)
    assert sizes["documents"] == sizes["embeddings"] == 128
    docs = pq.read_table(os.path.join(tmp_path, "documents.parquet")).to_pylist()
    base = [d for d in docs if d["doc_id"] < inputs.REPLICA_OFF]
    reps = [d for d in docs if d["doc_id"] >= inputs.REPLICA_OFF]
    assert len(base) == len(reps) == 64
    # a replica is its base text plus one tag token
    base_texts = sorted(d["text"] for d in base if d["text"] is not None)
    rep_texts = sorted(d["text"].rsplit(" ", 1)[0] for d in reps if d["text"] is not None)
    assert rep_texts == base_texts


def test_sheet_snapshots_are_seeded() -> None:
    assert inputs.sheet_snapshot(1, 0) == inputs.sheet_snapshot(1, 0)
    assert inputs.sheet_snapshot(1, 0) != inputs.sheet_snapshot(2, 0)
    assert inputs.sheet_snapshot(1, 0) != inputs.sheet_snapshot(1, 1)
    snap = inputs.sheet_snapshot(1, 0)
    kept = inputs.whitelisted_events(snap)
    assert 0 < len(kept) < len(snap["events"])
    assert len(snap["wagers"]) == 3


class _Op:
    def __init__(self, name: str, raises: bool = False, wrong: bool = False) -> None:
        self.name = name
        self.raises = raises
        self.wrong = wrong
        self.check_first = True

    def reset(self, ctx) -> None:
        pass

    def check(self, ctx) -> str | None:
        return "oracle mismatch" if self.wrong else None

    def run(self, ctx, op_id: str):
        if self.raises:
            raise RuntimeError("boom")
        return None


def test_run_pass_counts_raised_and_wrong_operations() -> None:
    from perfbench.run import Tally, run_pass

    class _Ctx:
        tracer = None

    ops = [_Op("ok"), _Op("raises", raises=True), _Op("wrong", wrong=True), _Op("ok2")]
    tally = Tally()
    untraced, traced, handles = run_pass(
        _Ctx(), ops, (False, False), "p0", tally, check=True, passes=2
    )
    assert [len(r) for r in untraced] == [4, 4, 4, 4] and traced == [] and handles == []
    # 4 checks + 16 timed runs; "raises" fails its four timed runs,
    # "wrong" its check and its four timed runs (its output is known wrong)
    assert tally.attempted == 20
    assert tally.failed == 9
    assert set(tally.reasons) == {"raises", "wrong"}
    assert stats.failed_frac(tally.failed, tally.attempted) == 9 / 20
