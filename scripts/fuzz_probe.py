#!/usr/bin/env python3
"""Show the actual row-level diff for one catalog query on a fuzz
variant dir: python scripts/fuzz_probe.py <variant_dir> <query> [n]"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from tests.oracle import frame_mismatch, load_entry, normalize, run_oracle  # noqa: E402


def main():
    sf_dir, name = sys.argv[1], sys.argv[2]
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 12
    mod = load_entry()
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sdf = mod.queries()[name](spark, sf_dir).toPandas()
    odf = run_oracle(mod.oracle_sql()[name], sf_dir)
    print(frame_mismatch(sdf, odf) or "MATCH")
    sdf, odf = normalize(sdf), normalize(odf)
    cols = sorted(set(sdf.columns) & set(odf.columns))
    a = sdf[cols].sort_values(cols, na_position="last").reset_index(drop=True)
    b = odf[cols].sort_values(cols, na_position="last").reset_index(drop=True)
    print(f"spark rows={len(a)} oracle rows={len(b)}")
    sk = a.astype(str).agg("|".join, axis=1)
    ok = b.astype(str).agg("|".join, axis=1)
    only_s = a[~sk.isin(set(ok))]
    only_o = b[~ok.isin(set(sk))]
    print(f"--- spark-only rows ({len(only_s)}):")
    print(only_s.head(n).to_string())
    print(f"--- oracle-only rows ({len(only_o)}):")
    print(only_o.head(n).to_string())


if __name__ == "__main__":
    main()
