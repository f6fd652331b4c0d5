"""Plan-quality regression tests: the physical plans the engine is
DESIGNED to produce (SURVEY.md §4) — pushdown reaching the scan,
broadcast joins for dims, whole-stage codegen on the hot path, no
Python row UDFs in relational queries. A correctness-green query with
a degraded plan fails HERE instead of at 100 TB.
"""

from __future__ import annotations

import contextlib
import io
import os

import pytest
from pyspark.sql import functions as F

from sports_betting_data_pipeline_spark.io import load_table
from sports_betting_data_pipeline_spark.plans.catalog import QUERIES


def plan_text(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_and_pruning_reach_parquet_scan(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") < 5).select(
        "l_orderkey", "l_quantity"
    )
    plan = plan_text(df)
    assert "PushedFilters" in plan and "LessThan(l_quantity" in plan
    # column pruning: the 16-col table scans only the 2 needed columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema


def test_dim_joins_broadcast(spark, sf_dir):
    plan = plan_text(QUERIES["j01_enrichment_join"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_flagship_fully_codegenerated(spark, sf_dir):
    # AQE defers the final plan, hiding codegen spans from explain —
    # disable it just to inspect the static physical plan.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_text(QUERIES["q01_pricing_summary"](spark, sf_dir), "codegen")
        assert "WholeStageCodegen" in plan
        simple = plan_text(QUERIES["q01_pricing_summary"](spark, sf_dir), "simple")
        # partial (map-side) aggregation must precede the shuffle
        assert "partial_sum" in simple
        # no Python evaluation anywhere in the relational flagship
        assert "BatchEvalPython" not in simple and "ArrowEvalPython" not in simple
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


@pytest.mark.parametrize(
    "name",
    ["q01_pricing_summary", "j01_enrichment_join", "w01_topk_per_group",
     "r01_rollup", "f01_whitelist_filter", "t01_orderby_limit"],
)
def test_relational_surface_has_no_python_udfs(spark, sf_dir, name):
    plan = plan_text(QUERIES[name](spark, sf_dir), "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_driver_built_frames_are_local_relations(spark, sf_dir):
    """Snapshot sources and the p01 flatten fixture plan as a
    LocalTableScan the JVM scans itself. ``Scan ExistingRDD`` here means
    the records went through pickled-RDD construction again, whose
    every scan runs a Python-worker task that the BatchEvalPython /
    ArrowEvalPython gates above cannot see."""
    from sports_betting_data_pipeline_spark.fixtures import betting_tree_rows
    from sports_betting_data_pipeline_spark.sources import rest

    frames = {
        "ladder_fallback": rest.odds_ladder_source(spark),
        "ladder": rest.odds_ladder_source(spark, transport=lambda: [{"odds": 100}]),
        "tournaments": rest.tournaments_source(spark),
        "events": rest.events_source(spark, transport=betting_tree_rows),
        "balance": rest.balance_source(spark, opening=1.0),
        "p01_flatten_sheet": QUERIES["p01_flatten_sheet"](spark, sf_dir),
    }
    for name, df in frames.items():
        plan = plan_text(df, "simple")
        assert "LocalTableScan" in plan, (name, plan)
        assert "Scan ExistingRDD" not in plan, (name, plan)


def test_topk_uses_window_group_limit(spark, sf_dir):
    # the partial top-k optimization must kick in before the shuffle
    plan = plan_text(QUERIES["w01_topk_per_group"](spark, sf_dir), "simple")
    assert "WindowGroupLimit" in plan


def test_orderby_limit_is_takeordered(spark, sf_dir):
    # global sort + limit must collapse to TakeOrderedAndProject —
    # no full sort of the table
    plan = plan_text(QUERIES["t01_orderby_limit"](spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in plan


def test_bucketed_tables_join_without_shuffle(spark, sf_dir, tmp_path):
    # Bucketing both join sides on the key pre-partitions the data so
    # the join needs NO Exchange — the 100 TB co-located-join layout
    # (SCALE.md "fact-fact joins").
    from sports_betting_data_pipeline_spark.io import load_table

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    load_table(spark, sf_dir, "orders").write.bucketBy(4, "o_orderkey").sortBy(
        "o_orderkey"
    ).saveAsTable("b_orders")
    load_table(spark, sf_dir, "lineitem").selectExpr(
        "l_orderkey", "l_quantity"
    ).write.bucketBy(4, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")

    joined = spark.table("b_orders").join(
        spark.table("b_lineitem"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_text(joined, "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    assert "Exchange" not in plan, plan
    assert joined.count() > 0


def test_catalog_sweep_no_pathological_plans(spark, sf_dir):
    # Every catalog query's plan, audited: no cartesian products, no
    # row-at-a-time Python, nested-loop broadcast joins only where the
    # algorithm IS broadcast-side-times-corpus (ANN brute force / IVF
    # centroid assignment), Arrow-Python only in the multimodal
    # queries whose whole point is a pandas UDF.
    BNLJ_OK = {"l10_ann_bruteforce", "l13_ann_ivf",
               # kNN classify rides l10's broadcast-queries × corpus pass
               "l46_knn_classify",
               # contrastive mining rides the same anchors × corpus pass
               "l48_contrastive_pairs",
               # broadcast-suppliers × customers exact-verify geo stage
               "geo01_nearest_supplier",
               # same centroid-assignment crossJoin as l13, trained cells
               "l23_ann_ivf_kmeans",
               # IVF-PQ: same C-row centroid-assignment crossJoin
               "l36_ann_ivfpq",
               # SemDeDup: same 8-row centroid-assignment crossJoin
               "l38_semdedup",
               # 1-row broadcast scalar (corpus size N) — the physical
               # form of an uncorrelated scalar subquery
               "l19_tfidf_top_terms",
               # 1-row broadcast scalar (sum of mixture weights)
               "l27_temperature_mixture",
               # 1-row broadcast scalar (total mixture weight) joined
               # to the tiny per-source aggregate — same shape as l27
               "l29_source_mixture_plan",
               # composes l27's mixture stage — same 1-row scalar
               "pl02_corpus_assembly",
               # 1-row broadcast scalar (corpus token total N)
               "l34_unigram_surprisal",
               # 1-row broadcast scalar (N docs + avg doc length)
               "l35_bm25_topk",
               # 1-row broadcast scalar (global avg positive balance) —
               # the uncorrelated scalar subquery of the Q22 shape
               "q22_idle_rich_customers",
               # 1-row broadcast scalar (the decile-cut array)
               "a08_equiheight_histogram",
               # AUDIT-ONLY exact mutual-NN (the production twin l43
               # replaces the A×B product with IVF candidates)
               "l42_bitext_mining",
               # production bitext twin: BNLJ is ONLY the C-row
               # centroid-assignment crossJoin inside ivf_topk (the
               # l13/l23/l36 shape); the A×B product is gone
               "l43_bitext_mining_ann",
               # 3-query broadcast × candidates: the serving-side
               # scoring pass (index-pruned candidates at scale)
               "pl03_hybrid_retrieval",
               # 1-row broadcast scalar (keyspace mean/total counts)
               "a10_skew_report",
               # 1-row broadcast scalar (the min/max bounds pair)
               "a13_equiwidth_histogram",
               # two 1-row broadcast scalars (pooled bounds; totals)
               "a14_drift_report",
               # 1-row broadcast scalar (the PK-uniqueness gate)
               "pl07_lakehouse_refresh",
               # 1-row broadcast scalars (corpus/target totals; vocab size)
               "l51_dsir_importance", "l52_bigram_perplexity",
               # 1-row broadcast scalar (total events + cell count)
               "ts05_seasonal_profile"}
    PYTHON_OK = {"m01_multimodal_features", "m02_frame_sample_plan",
                 # real-codec WAV/BMP synth+decode roundtrips (mapInPandas)
                 "m03_audio_roundtrip", "m04_image_roundtrip",
                 # frame-level RMS/peak over decoded PCM (mapInPandas)
                 "m05_audio_frame_energy",
                 # composed binaryFile ingest -> byte decode -> features
                 "pl08_multimodal_pipeline",
                 "st06_stateful_user_stats", "st13_threshold_alerts",
                 "st15_stream_anomalies",
                 "l16_grouped_zscore"}
    problems = []
    for name, fn in sorted(QUERIES.items()):
        plan = plan_text(fn(spark, sf_dir), "simple")
        if "CartesianProduct" in plan:
            problems.append((name, "CartesianProduct"))
        if "BatchEvalPython" in plan:
            problems.append((name, "BatchEvalPython"))
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            problems.append((name, "BroadcastNestedLoopJoin"))
        if (
            (
                "ArrowEvalPython" in plan
                or "MapInPandas" in plan
                or "FlatMapGroupsInPandas" in plan
            )
            and name not in PYTHON_OK
        ):
            problems.append((name, "python-eval"))
    assert not problems, problems


def test_ivf_scoring_stage_is_broadcast_and_widened(spark, sf_dir):
    # ivf_topk's candidate scoring must be (a) a broadcast hash join —
    # a shuffle join would key on cent_id's handful of distinct values
    # and serialize the |Q|×nprobe×|cell| interpreted dot products on
    # ≤C reducers — and (b) fed by an explicit round-robin fan-out of
    # the assigned corpus, because the upstream top-1 window's exchange
    # is byte-tiny and AQE coalesces it to one task while the work is
    # CPU-bound (SCALE.md "AQE coalescing vs CPU-bound stages").
    plan = plan_text(QUERIES["l13_ann_ivf"](spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "RoundRobinPartitioning" in plan, plan
    # and the probe/query vectors must NOT ride the final top-k
    # exchange: after scoring only (query_id, id, cosine_sim) shuffle
    hash_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning(query_id" in ln
    ]
    assert hash_exchanges, plan


def test_q05_filteronly_agg_full_pushdown(spark, sf_dir):
    # TPC-H-Q6 shape: every predicate must reach the parquet scan so
    # the query is pure scan bandwidth at scale.
    plan = plan_text(QUERIES["q05_forecast_revenue"](spark, sf_dir))
    assert "PushedFilters" in plan
    for frag in ("GreaterThanOrEqual(l_shipdate", "LessThan(l_quantity"):
        assert frag in plan, frag
    assert "partial_sum" in plan_text(
        QUERIES["q05_forecast_revenue"](spark, sf_dir), "simple"
    )


def test_q09_disjunction_pushes_common_bounds(spark, sf_dir):
    # Catalyst must extract the common l_quantity / p_brand+p_size
    # conjuncts from the OR-of-ANDs and push them into BOTH scans.
    plan = plan_text(QUERIES["q09_disjunctive_revenue"](spark, sf_dir))
    assert plan.count("Or(") >= 2  # disjunction reached the scans
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_q11_topn_is_takeordered_not_global_sort(spark, sf_dir):
    plan = plan_text(QUERIES["q11_returned_items"](spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_a06_hll_sketch_error_bound(spark, sf_dir):
    # The HLL++ sketch (rsd=1%) must land within 2% of the exact
    # per-group distinct count — the contract that justifies replacing
    # exact count-distinct with the mergeable sketch at scale. The
    # query itself now emits the contract flag (its oracle checks it
    # cross-engine); this test additionally pins the RAW sketch values
    # against an independently computed exact count.
    from sports_betting_data_pipeline_spark.io import load_table as _lt

    rows = QUERIES["a06_approx_count_distinct"](spark, sf_dir).collect()
    assert rows and all(r["approx_within_2pct"] for r in rows)
    emitted_exact = {r["c_mktsegment"]: r["exact_customers"] for r in rows}

    orders = _lt(spark, sf_dir, "orders")
    customer = _lt(spark, sf_dir, "customer")
    joined = orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
    approx = {
        r["c_mktsegment"]: r["approx"]
        for r in joined.groupBy("c_mktsegment")
        .agg(F.approx_count_distinct("o_custkey", rsd=0.01).alias("approx"))
        .collect()
    }
    exact = {
        r["c_mktsegment"]: r["exact"]
        for r in joined.groupBy("c_mktsegment")
        .agg(F.countDistinct("o_custkey").alias("exact"))
        .collect()
    }
    assert emitted_exact == exact
    assert set(approx) == set(exact)
    for seg, ex in exact.items():
        assert abs(approx[seg] - ex) <= max(1, 0.02 * ex), (seg, approx[seg], ex)


def test_a07_quantile_sketch_rank_error_bound(spark, sf_dir):
    # GK sketch with accuracy=10000: each approx quantile must lie
    # between the exact quantiles at p ± 1% — the rank-error contract.
    # The query emits the contract (flag + exact window bounds, which
    # its oracle checks cross-engine); this test additionally pins the
    # RAW sketch values against independently computed exact bounds.
    from sports_betting_data_pipeline_spark.io import load_table as _lt

    rows = QUERIES["a07_approx_quantiles"](spark, sf_dir).collect()
    assert [r["p"] for r in rows] == [0.25, 0.5, 0.9, 0.99]
    assert all(r["within_rank_error"] for r in rows)
    assert all(r["rank_lo"] <= r["rank_hi"] for r in rows)

    orders = _lt(spark, sf_dir, "orders")
    ps = [0.25, 0.5, 0.9, 0.99]
    raw = orders.agg(
        F.percentile_approx(
            "o_totalprice", [0.25, 0.5, 0.9, 0.99], 10000
        ).alias("qs"),
        F.expr(
            "percentile(o_totalprice, array(0.24, 0.49, 0.89, 0.98))"
        ).alias("lo"),
        F.expr(
            "percentile(o_totalprice, array(0.26, 0.51, 0.91, 1.0))"
        ).alias("hi"),
    ).collect()[0]
    for p, a, lo, hi in zip(ps, raw["qs"], raw["lo"], raw["hi"]):
        assert lo <= a <= hi, (p, a, lo, hi)


def test_l33_no_global_window_over_corpus(spark, sf_dir):
    # Token-budget selection must NOT sort the whole corpus into one
    # partition. The only permitted SinglePartition exchange is the
    # tiny per-quality-aggregate cumsum (bounded by distinct rounded
    # quality values); the row-level cumsum must be a window HASH
    # PARTITIONED by quality over the broadcast-joined frontier.
    plan = plan_text(QUERIES["l33_token_budget"](spark, sf_dir), "extended")
    # per-row window is partitioned (specs look like windowspecdefinition(quality, ...))
    assert "windowspecdefinition(quality" in plan
    phys = plan_text(QUERIES["l33_token_budget"](spark, sf_dir))
    # every SinglePartition exchange must feed from an aggregate, never
    # from the raw documents scan
    lines = phys.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            below = "\n".join(lines[i:])
            assert "HashAggregate" in below, phys
    assert "BroadcastHashJoin" in phys


def test_l31_chunk_dedup_uses_partial_agg_not_window(spark, sf_dir):
    # First-occurrence-per-hash must be a partial-aggregable MIN (hot
    # boilerplate chunks combine map-side), NOT a per-hash window —
    # a window would make one mega-duplicated chunk a straggler task.
    plan = plan_text(QUERIES["l31_chunk_dedup"](spark, sf_dir))
    assert "Window" not in plan
    assert "partial_min" in plan or "HashAggregate" in plan


def test_l32_pq_joins_are_broadcast(spark, sf_dir):
    # The codebook (128 rows) and the per-query distance table must
    # broadcast; the only shuffles are the per-(id,s) argmin aggregate
    # and the final top-k window. A shuffle join against the corpus
    # codes would defeat the narrow-index design.
    plan = plan_text(QUERIES["l32_ann_pq"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_l35_bm25_scoring_broadcasts_stats(spark, sf_dir):
    # df/N/avg_len are broadcast scalars; tf-side is the only real
    # shuffle. The term filter must reach down to the exploded tokens
    # (no full-corpus scoring).
    plan = plan_text(QUERIES["l35_bm25_topk"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_m03_payload_never_crosses_the_plan(spark, sf_dir):
    # The WAV bytes are synthesized AND decoded inside one mapInPandas:
    # only (doc_id, n_chars) may enter the Python worker — a binary
    # payload column in the exchange would dominate 100 TB transfers.
    plan = plan_text(QUERIES["m03_audio_roundtrip"](spark, sf_dir))
    assert "MapInPandas" in plan
    assert "payload" not in plan


def test_src03_catalog_query_prunes_partitions(spark, sf_dir):
    """The src03 readback's event_type IN-list must resolve as a
    PartitionFilter (directory pruning) — not a post-scan data filter."""
    plan = plan_text(QUERIES["src03_partitioned_roundtrip"](spark, sf_dir))
    part_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert part_lines, plan
    assert any("event_type" in ln for ln in part_lines), part_lines


def test_q21_single_lineitem_scan(spark, sf_dir):
    """The Q21 shape must NOT triple-scan lineitem the way the literal
    EXISTS/NOT-EXISTS translation would: the aggregate formulation
    reads lineitem once and derives both order-level predicates from
    the flagged grid."""
    plan = plan_text(QUERIES["q21_sole_late_shipper"](spark, sf_dir), "simple")
    assert plan.count("lineitem.parquet") == 1, plan


def test_ts02_arg_extremes_are_partial_aggregable(spark, sf_dir):
    """OHLC open/close (min_by/max_by) must plan as a two-phase hash
    aggregate (partial_ prefix in the merge plan) — no window, no sort,
    no self-join."""
    plan = plan_text(QUERIES["ts02_ohlc_resample"](spark, sf_dir), "simple")
    assert "partial_min_by" in plan or "partial_minby" in plan.lower(), plan
    assert "Window" not in plan
    assert plan.count("events.parquet") == 1, plan


def test_a08_uses_distributed_exact_quantiles(spark, sf_dir):
    # Pass 1 must be the bucket-refinement exact-quantile operator
    # (r7) — builtin percentile() funnels every value through one
    # merge buffer, which cannot survive the target scale, and the r6
    # range-partition design sorted the full column. The only sort
    # left in the plan is the per-rank window over the
    # threshold-bounded candidate slice (plus the final 10-row
    # orderBy); the full column is never exchanged.
    plan = plan_text(QUERIES["a08_equiheight_histogram"](spark, sf_dir))
    assert "percentile" not in plan.lower()
    # the histogram aggregate must partial-combine map-side
    assert "partial_count" in plan.lower() or "partial_min" in plan.lower()


def test_exact_quantile_cuts_matches_builtin(spark, sf_dir):
    # The distributed operator must be value-identical to Spark's
    # exact percentile (and therefore DuckDB quantile_cont), including
    # the p=0/p=1 edges and interpolated interior points.
    from pyspark.sql import functions as F

    from sports_betting_data_pipeline_spark.io import load_table
    from sports_betting_data_pipeline_spark.operators.quantiles import (
        exact_quantile_cuts,
    )

    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    probs = [0.0, 0.13, 0.5, 0.77, 1.0]
    mine = exact_quantile_cuts(orders, "o_totalprice", probs).collect()[0]["qs"]
    ref = orders.agg(
        F.transform(
            F.percentile(
                F.col("o_totalprice"), F.array(*[F.lit(p) for p in probs])
            ),
            lambda q: F.round(q, 4),
        ).alias("qs")
    ).collect()[0]["qs"]
    assert mine == ref, (mine, ref)


def test_scd2_apply_semantics(spark):
    # Four key fates in one batch: changed (close+open), no-op resend
    # (pass through open, no new version), untouched (pass through),
    # brand new (open at effective).
    from sports_betting_data_pipeline_spark.operators.scd import scd2_apply

    dim = spark.createDataFrame(
        [(1, "A"), (2, "B"), (3, "C")], ["k", "seg"]
    )
    upd = spark.createDataFrame(
        [(1, "Z"), (2, "B"), (9, "N")], ["k", "seg"]
    )
    rows = {
        (r["k"], r["seg"], str(r["valid_from"]), str(r["valid_to"]), r["is_current"])
        for r in scd2_apply(dim, upd, "k", ["seg"], "2024-02-01").collect()
    }
    assert rows == {
        (1, "A", "1970-01-01", "2024-02-01", False),
        (1, "Z", "2024-02-01", "None", True),
        (2, "B", "1970-01-01", "None", True),
        (3, "C", "1970-01-01", "None", True),
        (9, "N", "2024-02-01", "None", True),
    }, rows


def test_zorder_layout_tightens_rowgroup_stats(spark, sf_dir, tmp_path):
    # Write the same table twice — linearly sorted by user_id vs
    # z-ordered on (user_id, value-bucket) — with small row groups,
    # then read back the REAL parquet row-group min/max statistics.
    # For a box predicate selective in BOTH dimensions, the z-layout
    # must let min/max skipping prune row groups that the linear
    # layout cannot (its value stats span the whole file).
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from sports_betting_data_pipeline_spark.io import load_table
    from sports_betting_data_pipeline_spark.operators.layout import zorder_sort

    # Z-order needs both dimensions on comparable scales: raw
    # user_id (4 bits) interleaved with value (9 bits) degenerates to
    # a value sort because value owns every high bit. Scale user into
    # the same 9-bit range first — the normalize-then-interleave step
    # every real OPTIMIZE ZORDER implementation performs.
    events = load_table(spark, sf_dir, "events").select(
        "user_id",
        (F.col("user_id") * 32).alias("uscaled"),
        F.floor(F.coalesce(F.col("value"), F.lit(0.0)))
        .cast("long")
        .alias("vbucket"),
    )
    import os

    import pyarrow as pa

    # Spark produces the ORDERING (the operator under test); pyarrow
    # writes the files with explicit small row groups so the 10k-row
    # fixture actually yields per-group statistics to compare.
    linear = str(tmp_path / "linear")
    zordered = str(tmp_path / "zorder")
    for path, pdf in (
        (linear, events.orderBy("user_id").toPandas()),
        (zordered, zorder_sort(events, "uscaled", "vbucket", bits=9).toPandas()),
    ):
        os.makedirs(path, exist_ok=True)
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            os.path.join(path, "part-0.parquet"),
            row_group_size=50,
        )

    def overlapping_rowgroups(path, lo_u, hi_u, lo_v, hi_v):
        import glob as _g

        total = hits = 0
        for f in _g.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            cols = {
                md.row_group(0).column(i).path_in_schema: i
                for i in range(md.num_columns)
            }
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                su = rg.column(cols["user_id"]).statistics
                sv = rg.column(cols["vbucket"]).statistics
                total += 1
                if (
                    su.min <= hi_u
                    and su.max >= lo_u
                    and sv.min <= hi_v
                    and sv.max >= lo_v
                ):
                    hits += 1
        return hits, total

    # A layout is judged by its WORST predicate, not its best: the
    # linear user-sort prunes user-only queries perfectly and cannot
    # prune value-only queries at all (every group spans the value
    # domain); z-order bounds BOTH dimensions in every group, so its
    # worst case over the two single-dimension predicates must beat
    # linear's, and a value-only predicate must actually skip groups
    # under z-order.
    z_user, z_total = overlapping_rowgroups(zordered, 3, 6, 0, 10**9)
    l_user, l_total = overlapping_rowgroups(linear, 3, 6, 0, 10**9)
    z_val, _ = overlapping_rowgroups(zordered, 0, 10**9, 50, 150)
    l_val, _ = overlapping_rowgroups(linear, 0, 10**9, 50, 150)
    assert z_total > 4 and l_total > 4  # small row groups actually took
    assert l_val == l_total  # linear layout cannot prune the value dim
    assert z_val < z_total, (z_val, z_total)  # z-order can
    assert max(z_user, z_val) < max(l_user, l_val), (
        z_user, z_val, l_user, l_val,
    )


def test_python_udtf_matches_explode_chunking(spark, sf_dir):
    # Spark 4's Python UDTF surface: a custom table generator must
    # agree with the declarative explode/sequence form the catalog
    # uses (l15's chunking shape). The UDTF is the escape hatch for
    # generators that genuinely can't be expressed with sequence()
    # arithmetic; this pins that the hatch works and that results are
    # interchangeable.
    from pyspark.sql import functions as F
    from pyspark.sql.functions import udtf

    from sports_betting_data_pipeline_spark.io import load_table

    @udtf(returnType="doc_id: long, start: long, length: long")
    class ChunkPlan:
        def eval(self, doc_id: int, n_tok: int):
            start = 0
            while start < n_tok:
                yield (doc_id, start, min(50, n_tok - start))
                start += 40

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .select("doc_id", F.size(F.split("text", " ")).alias("n_tok"))
    )
    docs.createOrReplaceTempView("chunk_src")
    spark.udtf.register("chunk_plan", ChunkPlan)
    got = {
        tuple(r)
        for r in spark.sql(
            "SELECT p.* FROM chunk_src, LATERAL chunk_plan(doc_id, n_tok) p"
        ).collect()
    }
    want = {
        tuple(r)
        for r in docs.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.col("n_tok") - 1, F.lit(40))
            ).alias("start"),
            "n_tok",
        )
        .select(
            "doc_id",
            "start",
            F.least(F.lit(50), F.col("n_tok") - F.col("start")).alias("length"),
        )
        .collect()
    }
    assert got == want and len(got) > 50


def test_observe_metrics_match_aggregates(spark, sf_dir):
    # df.observe(): inline data-quality instrumentation — metrics
    # accumulated DURING a real action must equal the standalone
    # aggregates, so pipelines can ship dq01-style counters for free
    # on queries they already run.
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from sports_betting_data_pipeline_spark.io import load_table

    orders = load_table(spark, sf_dir, "orders")
    obs = Observation("dq")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
            "nonpositive"
        ),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )
    n_rows = observed.count()  # the action that drives the metrics
    ref = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    ).collect()[0]
    assert obs.get["n"] == n_rows == ref["n"]
    assert obs.get["nonpositive"] == 0
    assert obs.get["total"] == ref["total"]


def test_geo02_blocked_twin_is_equijoin_and_exact(spark, sf_dir):
    """geo02 must (a) plan with NO cartesian/BNLJ node — grid-cell
    equi-joins plus the explode-replicate fallback only, (b) argmin via
    a partial-aggregable min(struct(...)), not a window over the cross
    product, and (c) return exactly geo01's rows (the audit twin), with
    the certified fast path actually deciding a nonzero share of
    customers (otherwise the blocking is dead code and everything rides
    the fallback)."""
    geo02 = QUERIES["geo02_nearest_supplier_blocked"](spark, sf_dir)
    plan = plan_text(geo02, "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert "partial_min" in plan, plan
    assert "Window" not in plan, plan

    got = {tuple(r) for r in geo02.collect()}
    want = {
        tuple(r)
        for r in QUERIES["geo01_nearest_supplier"](spark, sf_dir).collect()
    }
    assert got == want

    # certified-path liveness: the fallback anti-join must not swallow
    # every customer. Count fallback rows by reusing the plan's own
    # split: rows whose nearest supplier sits outside the 3x3 grid
    # neighborhood can only come from the fallback, so certified
    # coverage is at least 1 - that fraction; assert the plan text
    # carries both branches and the union.
    assert plan.count("Union") >= 1, plan


def test_operators_doc_is_current():
    """docs/OPERATORS.md is generated from the catalog registry
    (scripts/gen_operators_doc.py); a catalog or docstring change
    without a regen leaves the index lying to users — fail fast and
    name the fix."""
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    scripts = os.path.join(repo, "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    import gen_operators_doc

    committed = open(os.path.join(repo, "docs", "OPERATORS.md")).read()
    assert gen_operators_doc.build_page() == committed, (
        "docs/OPERATORS.md is stale — rerun scripts/gen_operators_doc.py"
    )


def test_sf1_fixture_replication_keeps_fk_fanout(spark):
    """The full-catalog sf1 bench fixture (scripts/build_sf1_fixture)
    replicates facts with CONSISTENT key-family offsets — replica r's
    orders must reference replica r's customers, or scaled joins run
    on empty matches and the bench lies about join cost. Pin the
    invariants on a toy frame: x10 rows, disjoint key ranges, and
    exactly-preserved per-replica join fan-out."""
    import os
    import sys

    scripts = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
    )
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    import build_sf1_fixture as b

    cust = spark.createDataFrame(
        [(i, f"c{i}") for i in range(4)], "c_custkey long, c_name string"
    )
    orders = spark.createDataFrame(
        [(10 + i, i % 4, 100.0 * i) for i in range(8)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    rc = b._replicate(cust, b.KEY_OFFSETS["customer"], "customer")
    ro = b._replicate(orders, b.KEY_OFFSETS["orders"], "orders")
    assert rc.count() == 4 * b.REPLICAS and ro.count() == 8 * b.REPLICAS
    # disjoint key ranges per replica
    assert rc.select("c_custkey").distinct().count() == 4 * b.REPLICAS
    assert ro.select("o_orderkey").distinct().count() == 8 * b.REPLICAS
    # FK fan-out preserved: every replicated order still finds exactly
    # one replicated customer, and the join is replica-local
    joined = ro.join(rc, ro.o_custkey == rc.c_custkey)
    assert joined.count() == 8 * b.REPLICAS
    # replica-locality: order and customer replica indices agree
    bad = joined.filter(
        (F.col("o_orderkey") / b.FACT_OFF).cast("long")
        != (F.col("c_custkey") / b.DIM_OFF).cast("long")
    )
    assert bad.count() == 0


def test_bench_audit_twins_exist_and_have_production_siblings():
    """bench.py's production_total excludes AUDIT_TWINS; if a twin is
    renamed or dropped from the catalog the subtotal silently becomes
    the headline. Pin the set to live catalog names, and pin that each
    twin's docstring declares its audit/small-cohort contract and its
    bucketed production sibling is still registered."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(repo, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    from sports_betting_data_pipeline_spark.plans import QUERIES

    assert bench.AUDIT_TWINS <= set(QUERIES), (
        f"AUDIT_TWINS not in catalog: {bench.AUDIT_TWINS - set(QUERIES)}"
    )
    siblings = {"l42_bitext_mining": "l43_bitext_mining_ann",
                "l21_dedup_clusters": "l22_lsh_dedup_clusters"}
    assert set(siblings) == set(bench.AUDIT_TWINS)
    for twin, prod in siblings.items():
        assert prod in QUERIES, f"production sibling {prod} missing"
        doc = (QUERIES[twin].__doc__ or "").lower()
        assert "audit" in doc or "small" in doc, (
            f"{twin} docstring no longer declares its audit contract"
        )


def test_pl02_tail_truncated_and_broadcast(spark, sf_dir):
    """r11 plan pins for pl02's stage-4/5 tail: the good/mixed
    intermediates are localCheckpoint leaves (so the returned plan no
    longer embeds — or re-analyzes — the decontam/chunk-dedup tree),
    and the two tiny mixture joins are broadcast, not sort-merge
    (mixed is <= n_target rows by construction)."""
    plan = plan_text(QUERIES["pl02_corpus_assembly"](spark, sf_dir))
    assert "Scan ExistingRDD" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_l12_buckets_are_scan_side(spark, sf_dir):
    """r11: l12's multi-table LSH buckets are scan-side projection
    expressions (the l11 lsh_bucket shape), not the retired
    posexplode + plane-matrix-join + double-aggregate pipeline. The
    retired pipeline's signature was a join on the exploded vector
    position (_pos) against the broadcast plane matrix (_ws)."""
    plan = plan_text(QUERIES["l12_embedding_neardup"](spark, sf_dir))
    assert "_pos" not in plan and "_ws" not in plan


def test_widen_partition_probe_memoized(spark, sf_dir):
    """r11: widen_for_compute memoizes its partition-count probe per
    (application, semantic plan, columns) — the probe runs full
    physical planning (77 ms/call), re-paid on every construction.
    The memo must fill on first use, serve the identical plan without
    changing the decision, and leave streaming inputs on the
    exception -> repartition path."""
    from sports_betting_data_pipeline_spark.io import (
        _MEMO,
        widen_for_compute,
    )

    def build():
        return load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )

    df = build()
    key = (
        "widen",
        spark.sparkContext.applicationId,
        df.semanticHash(),
        tuple(df.columns),
    )
    a = widen_for_compute(df)
    assert key in _MEMO  # probe result recorded
    n_after_first = len(_MEMO)
    b = widen_for_compute(build())  # identical plan: memo hit
    assert len(_MEMO) == n_after_first  # no growth re-probing
    assert a.rdd.getNumPartitions() == b.rdd.getNumPartitions()
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    widened = widen_for_compute(stream)
    assert widened.isStreaming


@pytest.fixture
def small_memo(monkeypatch):
    """The engine memo emptied and bounded at 8 entries for one test;
    the previous entries come back afterwards."""
    import sports_betting_data_pipeline_spark.io as io_mod

    saved = io_mod._MEMO.copy()
    monkeypatch.setattr(io_mod, "_MEMO_MAX", 8)
    io_mod._MEMO.clear()
    yield io_mod
    io_mod._MEMO.clear()
    io_mod._MEMO.update(saved)


def test_widen_memo_bounded(spark, sf_dir, small_memo):
    """The engine memo is LRU-bounded: inserting into a full memo
    evicts only the least recently used entry, a hit refreshes its
    entry, a changed stamp overwrites in place, and compute runs
    outside the lock. A miss only re-pays the probe; the widen
    decision is re-derived identically."""
    io_mod = small_memo
    from sports_betting_data_pipeline_spark.io import widen_for_compute

    def never():
        raise AssertionError("a memo hit must not recompute")

    df = load_table(spark, sf_dir, "documents").select("doc_id")
    io_mod._MEMO.clear()
    for i in range(8):
        io_mod._memo(("t", i), None, lambda i=i: i)
    assert io_mod._memo(("t", 0), None, never) == 0  # hit refreshes t0
    widen_for_compute(df)  # a real insert into the full memo
    assert len(io_mod._MEMO) == 8
    assert ("t", 1) not in io_mod._MEMO  # the LRU entry, and only it
    assert all(("t", i) in io_mod._MEMO for i in (0, *range(2, 8)))
    assert next(reversed(io_mod._MEMO))[0] == "widen"
    # a new stamp recomputes and overwrites without growing the memo
    assert io_mod._memo(("t", 0), "v2", lambda: "fresh") == "fresh"
    assert io_mod._memo(("t", 0), "v2", never) == "fresh"
    assert len(io_mod._MEMO) == 8
    assert io_mod._memo(("lock",), None, io_mod._MEMO_LOCK.locked) is False


def test_memo_bounded_under_concurrent_inserts(small_memo):
    """8 threads inserting (and re-stamping) into a small memo, with a
    short switch interval, raise nothing and never see it above its
    bound: eviction and insert are one step under the lock."""
    import sys
    import threading

    io_mod = small_memo
    sizes: list[int] = []
    errors: list[Exception] = []

    class Key(tuple):
        # hashed and compared in Python, so the interpreter may switch
        # threads inside every memo lookup and insert
        def __hash__(self):
            return tuple.__hash__(self)

        def __eq__(self, other):
            return tuple.__eq__(self, other)

    def worker(t: int) -> None:
        try:
            for i in range(2000):
                # half the calls insert a new key (evicting), half
                # re-stamp a key the other threads share
                key = Key(("thread", t, i) if i % 2 else ("shared", i % 16))
                value = io_mod._memo(key, Key((i // 16,)), lambda: (t, i))
                assert isinstance(value, tuple)
                sizes.append(len(io_mod._MEMO))
        except Exception as e:
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert not errors
    assert len(sizes) == 8 * 2000
    assert max(sizes) <= 8 and len(io_mod._MEMO) == 8


def test_memo_invalidates_on_fixture_rewrite(spark, sf_dir, tmp_path):
    """A fixture dir rewritten inside one Spark application is served
    fresh: load_table returns the new rows, size_hint the new bound,
    and the file-stream events source reads the other ``ts``
    generation (timestamp[us] -> ns-as-long bigint) to the same
    instants."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sports_betting_data_pipeline_spark.io import size_hint
    from sports_betting_data_pipeline_spark.streaming.jobs import (
        read_events_stream,
        run_stream_to_table,
    )

    d = str(tmp_path / "fixture")
    shutil.copytree(sf_dir, d, copy_function=shutil.copyfile)

    def batch_events() -> list:
        return sorted(
            load_table(spark, d, "events").select("event_id", "ts").collect()
        )

    def drain(tag: str) -> list:
        out = run_stream_to_table(
            read_events_stream(spark, d).select("event_id", "ts"),
            f"memo_rewrite_{tag}_{tmp_path.name}",
            output_mode="append",
            state_partitions=None,
        )
        return sorted(out.collect())

    docs = load_table(spark, d, "documents")
    assert load_table(spark, d, "documents") is docs  # memo hit
    n = docs.count()
    assert n > 1 and size_hint(docs) == n
    events_before = batch_events()
    assert drain("us") == events_before

    path = os.path.join(d, "documents.parquet")
    pq.write_table(pq.read_table(path).slice(0, n // 2), path)
    stale, docs = docs, load_table(spark, d, "documents")
    assert docs is not stale  # re-resolved, not the memoized scan
    assert docs.count() == n // 2
    assert size_hint(docs) == n // 2

    path = os.path.join(d, "events.parquet")
    events = pq.read_table(path)
    assert events.schema.field("ts").type == pa.timestamp("us")
    i = events.schema.get_field_index("ts")
    pq.write_table(
        events.set_column(i, "ts", events["ts"].cast(pa.timestamp("ns"))),
        path,
    )
    assert dict(spark.read.parquet(path).dtypes)["ts"] == "bigint"
    assert drain("ns") == events_before
    assert batch_events() == events_before
