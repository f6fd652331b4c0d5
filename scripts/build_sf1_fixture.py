#!/usr/bin/env python3
"""Build a FULL sf1-scale fixture dir (every catalog table, 10× sf0.1)
for the whole-catalog engine bench (VERDICT r8 next-#3).

Each fact table is the sf0.1 table replicated 10× with DISJOINT key
ranges and CONSISTENT foreign-key offsets — replica r's orders
reference replica r's customers, so every join keeps its true fan-out
and no query gets artificially fast on empty join results. nation and
region stay fixed (scale-invariant dims, as in TPC-H).

Replica-specific adversarial shape:
- documents: a per-replica tag token appended to text — replicas stay
  NEAR-duplicates (Jaccard ≈ 0.99) without collapsing as exact dups,
  the dense-bucket hard case for the LSH/near-dup family.
- embeddings: coordinate 0 perturbed by r × 1e-3 — 10× density in
  every IVF cell rather than 10× empty space.
- events: disjoint user_id ranges — stateful operators face 10× keys
  (honest for O(keys)-state designs), timestamps verbatim so windows
  see 10× per-window density.

Output: /tmp/spark_graft_sf1_catalog (the fixture tree is read-only).
Idempotent per table; `--force` rebuilds. To compare plan shapes and
timings across the two scales, pass both dirs to `scripts/measure.py`
as `--sf-dir`.
"""

from __future__ import annotations

import os
import shutil
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import functions as F  # noqa: E402

from sports_betting_data_pipeline_spark.io import TABLES, load_table  # noqa: E402
from sports_betting_data_pipeline_spark.session import get_spark  # noqa: E402

SF01 = "/root/testdata/sf0.1"
OUT = "/tmp/spark_graft_sf1_catalog"
REPLICAS = 10
# key-family offsets: one per replica step, disjoint from every sf0.1
# key range; the SAME offset applies to a key wherever it appears so
# foreign keys stay consistent across tables
DIM_OFF = 10_000_000       # custkey/suppkey/partkey/doc_id/vec_id/user_id
FACT_OFF = 100_000_000     # orderkey/event_id

# per-table key → offset map (columns not listed are carried verbatim)
KEY_OFFSETS: dict[str, dict[str, int]] = {
    "customer": {"c_custkey": DIM_OFF},
    "supplier": {"s_suppkey": DIM_OFF},
    "part": {"p_partkey": DIM_OFF},
    "orders": {"o_orderkey": FACT_OFF, "o_custkey": DIM_OFF},
    "lineitem": {
        "l_orderkey": FACT_OFF,
        "l_partkey": DIM_OFF,
        "l_suppkey": DIM_OFF,
    },
    "events": {"event_id": FACT_OFF, "user_id": DIM_OFF},
    "documents": {"doc_id": DIM_OFF},
    "embeddings": {"vec_id": DIM_OFF},
}
COPY_TABLES = ("region", "nation")


def _replicate(df, offsets: dict[str, int], name: str):
    cols = df.columns
    reps = df.select(
        F.explode(F.sequence(F.lit(0), F.lit(REPLICAS - 1))).alias("_r"), *cols
    )
    out_cols = []
    for c in cols:
        if c in offsets:
            out_cols.append(
                (F.col(c) + F.col("_r") * F.lit(offsets[c])).alias(c)
            )
        elif name == "documents" and c == "text":
            out_cols.append(
                F.concat_ws(
                    " ", F.col("text"), F.concat(F.lit("replicatag"), F.col("_r"))
                ).alias("text")
            )
        elif name == "embeddings" and c == "embedding":
            out_cols.append(
                F.transform(
                    F.col("embedding"),
                    lambda x, i: F.when(
                        i == 0, x + F.col("_r").cast("float") * F.lit(0.001)
                    ).otherwise(x),
                )
                .cast("array<float>")
                .alias("embedding")
            )
        else:
            out_cols.append(F.col(c))
    return reps.select(*out_cols)


def build(spark, force: bool = False) -> str:
    os.makedirs(OUT, exist_ok=True)
    for name in TABLES:
        dst = os.path.join(OUT, f"{name}.parquet")
        if os.path.exists(dst):
            if not force:
                continue
            shutil.rmtree(dst, ignore_errors=True)
        src = load_table(spark, SF01, name)
        if name in COPY_TABLES:
            src.coalesce(1).write.mode("overwrite").parquet(dst)
        else:
            _replicate(src, KEY_OFFSETS.get(name, {}), name).repartition(
                16
            ).write.mode("overwrite").parquet(dst)
        print(f"built {name}", flush=True)
    return OUT


if __name__ == "__main__":
    spark = get_spark(app_name="build-sf1-fixture")
    out = build(spark, force="--force" in sys.argv)
    for name in TABLES:
        n = spark.read.parquet(os.path.join(out, f"{name}.parquet")).count()
        print(f"{name}: {n}")
    print(out)
