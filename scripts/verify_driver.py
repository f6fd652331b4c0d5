#!/usr/bin/env python3
"""Driver-mimic verification (see .claude/skills/verify/SKILL.md).

Loads __spark_entry__.py the way the external driver does (importlib,
BARE SparkSession with none of the engine's configs), runs the smoke
entry(), then every queries() entry vs its oracle_sql() on DuckDB at
sf0.01 (or $VERIFY_SF_DIR) through tests/oracle.py's comparator: row
count, column set, numeric kind (int vs float) and order-insensitive
values (floats via isclose, timestamps normalized). A query with no
oracle fails when it returns no rows.

Query-name filters on argv select every query whose name contains one
of them; a filter that matches no query fails the run before Spark
starts.

Exit 0 = all match; nonzero = any mismatch, empty rows-only result or
unmatched filter. Prints one line per query.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = os.environ.get("VERIFY_SF_DIR", "/root/testdata/sf0.01")


def main() -> int:
    # $VERIFY_ENGINE_PATH (VERDICT r10 next-#7): resolve the ENGINE
    # package from an installed location (a wheel venv's
    # site-packages) instead of the source tree. __spark_entry__.py
    # inserts the repo at sys.path[0] when it executes, so path order
    # alone can't win — import the package from the given path FIRST;
    # the entry file's later imports then reuse the sys.modules entry.
    engine_path = os.environ.get("VERIFY_ENGINE_PATH")
    if engine_path:
        sys.path.insert(0, engine_path)
        import sports_betting_data_pipeline_spark as _eng

        if not os.path.abspath(_eng.__file__).startswith(
            os.path.abspath(engine_path)
        ):
            print(f"ENGINE PROVENANCE FAIL: {_eng.__file__} "
                  f"not under {engine_path}")
            return 2
        print(f"ENGINE: {_eng.__file__}")

    # the shared oracle module imports the engine's io: only now, after
    # the provenance import above, may it be imported
    sys.path.insert(0, REPO)
    from tests.oracle import connect, frame_mismatch, load_entry

    mod = load_entry()

    only = sys.argv[1:]  # optional query-name filters (substrings)
    qs, osql = mod.queries(), mod.oracle_sql()
    unmatched = [s for s in only if not any(s in name for name in qs)]
    if unmatched:
        print(f"unknown query filters (match no query): {unmatched}")
        print("RESULT: FAIL")
        return 2

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    smoke = mod.entry(spark)
    n_smoke = len(smoke.collect())
    print(f"SMOKE entry(): rows={n_smoke} cols={len(smoke.columns)}")
    failed = n_smoke <= 0

    con = connect(SF)

    report: dict[str, dict] = {}
    for name in sorted(qs):
        if only and not any(s in name for s in only):
            continue
        t0 = time.perf_counter()
        try:
            sdf = qs[name](spark, SF).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: ERROR {type(exc).__name__}: {exc}")
            report[name] = {"status": "spark_error", "err": f"{type(exc).__name__}: {exc}"}
            failed = True
            continue
        finally:
            # g01/g02/sql04/pl02 cache intermediates that nothing
            # outside their own query reads — don't let storage
            # memory accumulate over the full-catalog sweep
            spark.catalog.clearCache()
        sec = round(time.perf_counter() - t0, 2)
        if name not in osql:
            # a rows-only query has nothing to match, so it must at
            # least return rows (the rule perfbench/checks.py applies)
            ok = len(sdf) > 0
            print(f"{name}: rows-only ({len(sdf)} rows)"
                  + ("" if ok else " FAIL: empty result"))
            report[name] = {"status": "rows_only" if ok else "rows_only_empty",
                            "rows": len(sdf), "sec": sec}
            failed = failed or not ok
            continue
        odf = con.execute(osql[name]).fetch_df()
        why = frame_mismatch(sdf, odf)
        ok = why is None
        tag = "MATCH" if ok else f"MISMATCH {why}"
        if len(sdf) == 0 and ok:
            tag += " (WARNING zero rows)"
        print(f"{name}: {tag} ({len(sdf)} rows)")
        report[name] = {
            "status": "match" if ok else "mismatch",
            "rows": len(sdf),
            "oracle_rows": len(odf),
            "sec": sec,
            "detail": why or "",
        }
        failed = failed or not ok
    print("RESULT:", "FAIL" if failed else "PASS")
    # Optional JSON artifact (the sf1 regime-switch parity evidence,
    # VERDICT r9 next-#1): $VERIFY_JSON_OUT=<path> dumps per-query
    # status + the fixture dir the check ran against.
    json_out = os.environ.get("VERIFY_JSON_OUT")
    if json_out:
        import json as _json

        with open(json_out, "w") as fh:
            _json.dump(
                {"sf_dir": SF, "result": "FAIL" if failed else "PASS",
                 "queries": report},
                fh, indent=1, sort_keys=True,
            )
        print(f"report -> {json_out}")
    if not only:
        # Keep COVERAGE.md's driver-status table in lockstep with the
        # committed CORRECTNESS_r*.json artifacts: regenerating it on
        # every full verify run means the table can never contradict
        # the artifacts again (VERDICT r5 wrong-#1 — it was generated
        # once and went stale the moment a new driver artifact landed).
        try:
            scripts_dir = os.path.dirname(os.path.abspath(__file__))
            if scripts_dir not in sys.path:
                sys.path.insert(0, scripts_dir)
            import coverage_status

            coverage_status.main()
        except Exception as exc:  # noqa: BLE001
            print(f"WARNING: coverage_status refresh failed: {exc}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
