#!/usr/bin/env python3
"""sf1 oracle parity for the size-hinted connected-components regime,
STAGED (VERDICT r9 next-#1).

Why staged: l22's DuckDB oracle re-derives candidate edges as the
exact all-pairs 3-shingle Jaccard over the WHOLE corpus — quadratic by
design (it is the certification shape) and infeasible at sf1 (50k docs
→ 1.25e9 pairwise list intersections in DuckDB). But the part of l22
whose PHYSICAL PLAN is size-dependent is not the pair generation (the
banded LSH shuffle has one shape at every SF) — it is
``connected_components``'s size_hint regime switch: state-partition
sizing and the skipped edge-count job (io.size_hint footer stats). So
verify exactly that stage at sf1 against DuckDB ON IDENTICAL EDGE
BYTES:

  1. Build the candidate pairs with the production plan
     (minhash_lsh_candidates, same params as l22) at sf1 and write
     them to parquet — these bytes are the shared input.
  2. Spark: connected_components(pairs_from_parquet, size_hint=32 ×
     footer-count) — the exact size-hinted plan l22 runs at sf1.
  3. DuckDB: recursive min-label CTE over the same parquet, the same
     fixpoint the committed l22 oracle uses.
  4. tests/oracle.py's frame_mismatch, the comparator every oracle
     check shares, on (node, component, comp_size).

The pair stage itself stays covered by the committed sf0.01/sf0.1
hash checks and the LSH-subset recall argument in l22's docstring
(its plan shape is SF-invariant: the same banded equi-join). l21/l55
get DIRECT sf1 oracle runs (their %5-sampled within-lang pair oracle
is feasible); this script is the l22 evidence plus an independent
re-check of the CC stage for the l21/l55 edge distribution.

Usage: python scripts/verify_sf1_cc.py [--sf-dir /tmp/...] [--out F]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from tests.oracle import connect, frame_mismatch  # noqa: E402

def duckdb_components(con, edges_glob: str):
    """Min-label connected components in DuckDB via an ITERATIVE
    relaxation loop (not the catalog oracles' recursive CTE): each
    pass replaces every node's label with min(own, neighbors'), until
    a pass changes nothing — O(E) per pass × graph diameter.

    Why not the committed recursive CTE: that recursion enumerates
    every (node, reachable-label) pair, O(K² · degree) on a dense
    component — fine at sf0.01 where it is the hash-checked oracle,
    but the sf1 %5-sampled unigram-Jaccard graph (l21/l55's edge
    source) has dense many-thousand-node components and the
    enumeration does not terminate in useful time (measured: >60
    CPU-min without completing). The loop computes the SAME fixpoint
    (min node id per component) with the same independence from the
    Spark implementation; DuckDB 1.0 has no keyed recursion
    (USING KEY) to express it as one statement."""
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE e AS
        WITH p AS (SELECT id_a AS src, id_b AS dst
                   FROM read_parquet('{edges_glob}'))
        SELECT src, dst FROM p UNION SELECT dst, src FROM p
    """)
    con.execute("""
        CREATE OR REPLACE TEMP TABLE lbl AS
        SELECT DISTINCT src AS node, src AS component FROM e
    """)
    while True:
        con.execute("""
            CREATE OR REPLACE TEMP TABLE lbl_next AS
            SELECT l.node,
                   least(l.component, coalesce(min(ln.component),
                                               l.component)) AS component
            FROM lbl l
            LEFT JOIN e ON e.src = l.node
            LEFT JOIN lbl ln ON ln.node = e.dst
            GROUP BY l.node, l.component
        """)
        changed = con.execute("""
            SELECT count(*) FROM lbl l JOIN lbl_next n USING (node)
            WHERE l.component != n.component
        """).fetchone()[0]
        con.execute("DROP TABLE lbl")
        con.execute("ALTER TABLE lbl_next RENAME TO lbl")
        if changed == 0:
            break
    return con.execute("""
        SELECT node, component,
               count(*) OVER (PARTITION BY component) AS comp_size
        FROM lbl
    """).fetch_df()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/tmp/spark_graft_sf1_catalog")
    ap.add_argument("--out", default="")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from sports_betting_data_pipeline_spark.functions.dedup import (
        connected_components,
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )
    from sports_betting_data_pipeline_spark.io import load_table, size_hint

    # bare session, like the external driver (engine self-configures)
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_table(spark, args.sf_dir, "documents")
    hint = size_hint(docs)
    report: dict[str, dict] = {}
    failed = False

    stages = {
        # l22's production edge source, same params as the catalog plan
        "l22_cc_stage": lambda: minhash_lsh_candidates(
            docs, id_col="doc_id", text_col="text",
            k=3, num_hashes=32, bands=8, verify_threshold=0.35,
            collapse_exact=True,
        ).select("id_a", "id_b"),
        # l21/l55's edge source (%5 sample, within-lang exact Jaccard)
        "l21_cc_stage": lambda: ngram_jaccard_pairs(
            docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0),
            id_col="doc_id", text_col="text", k=1,
            threshold=0.35, block_col="lang",
        ).select("id_a", "id_b"),
    }

    with tempfile.TemporaryDirectory(prefix="sf1_cc_") as tmp:
        for name, build in stages.items():
            t0 = time.perf_counter()
            edges_dir = os.path.join(tmp, name)
            build().write.mode("overwrite").parquet(edges_dir)
            n_edges = spark.read.parquet(edges_dir).count()

            # the regime under test: size-hinted CC over the frozen
            # edge bytes (hint from the corpus footer, ×32 — exactly
            # the l21/l22/l55 call shape)
            cc = connected_components(
                spark.read.parquet(edges_dir),
                size_hint=32 * hint if hint else None,
            )
            sdf = cc.select("node", "component").withColumn(
                "comp_size",
                F.count(F.lit(1)).over(Window.partitionBy("component")),
            ).toPandas()
            spark.catalog.clearCache()

            con = connect(args.sf_dir)
            odf = duckdb_components(con, f"{edges_dir}/*.parquet")
            why = frame_mismatch(sdf, odf)
            ok = why is None
            sec = round(time.perf_counter() - t0, 2)
            status = "match" if ok else f"MISMATCH {why}"
            print(f"{name}: {status} ({len(sdf)} nodes, {n_edges} edges, "
                  f"size_hint={32 * hint if hint else None}, {sec}s)")
            report[name] = {
                "status": "match" if ok else "mismatch",
                "rows": int(len(sdf)),
                "oracle_rows": int(len(odf)),
                "n_edges": int(n_edges),
                "size_hint": int(32 * hint) if hint else None,
                "sec": sec,
                "detail": why or "",
            }
            failed = failed or not ok

            # l55's survivorship POLICY layer on top of the l21 edge
            # set: Spark runs the full catalog plan (size-hinted CC +
            # WindowGroupLimit argmax) at sf1; DuckDB derives the
            # survivor per component from ITS OWN components (lbl is
            # still the temp table from duckdb_components) joined to
            # the documents fixture view.
            if name == "l21_cc_stage" and ok:
                t0 = time.perf_counter()
                from sports_betting_data_pipeline_spark.plans import QUERIES

                s55 = QUERIES["l55_dedup_survivorship"](
                    spark, args.sf_dir
                ).toPandas()
                spark.catalog.clearCache()
                o55 = con.execute("""
                    SELECT component,
                           node AS survivor_doc_id,
                           n_chars AS survivor_chars,
                           cnt - 1 AS n_dropped
                    FROM (
                        SELECT l.component, l.node, d.n_chars,
                               row_number() OVER (
                                   PARTITION BY l.component
                                   ORDER BY d.n_chars DESC, l.node) AS rn,
                               count(*) OVER (PARTITION BY l.component) AS cnt
                        FROM lbl l
                        JOIN documents d ON d.doc_id = l.node
                    ) WHERE rn = 1
                """).fetch_df()
                why55 = frame_mismatch(s55, o55)
                ok55 = why55 is None
                sec55 = round(time.perf_counter() - t0, 2)
                st55 = "match" if ok55 else f"MISMATCH {why55}"
                print(f"l55_policy_stage: {st55} ({len(s55)} survivors, "
                      f"{sec55}s)")
                report["l55_policy_stage"] = {
                    "status": "match" if ok55 else "mismatch",
                    "rows": int(len(s55)),
                    "oracle_rows": int(len(o55)),
                    "sec": sec55,
                    "detail": why55 or "",
                }
                failed = failed or not ok55

    print("RESULT:", "FAIL" if failed else "PASS")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(
                {"sf_dir": args.sf_dir, "mode": "cc_stage_on_shared_edges",
                 "result": "FAIL" if failed else "PASS", "queries": report},
                fh, indent=1, sort_keys=True,
            )
        print(f"report -> {args.out}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
