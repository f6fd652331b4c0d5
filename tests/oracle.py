"""The DuckDB-oracle differential check: the one copy of it.

Runs a catalog query on Spark and its oracle SQL on DuckDB over the
same parquet fixtures, then compares row count, column set, and values
(order-insensitive, float-tolerant) — the same gate shape the driver
applies at sf0.01 (SURVEY.md §5). The test suite, ``perfbench/checks.py``
and the verify/fuzz/probe scripts all compare through this module.

It imports the engine's ``io``: a script that must resolve the engine
from somewhere else (``verify_driver.py``'s ``VERIFY_ENGINE_PATH``)
imports this module only after that.
"""

from __future__ import annotations

import datetime
import importlib.util
import os

import duckdb
import numpy as np
import pandas as pd

from sports_betting_data_pipeline_spark.io import TABLES, table_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_entry():
    """``__spark_entry__.py`` imported by file path, as the entry contract's
    external caller imports it."""
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A new DuckDB connection with one view per fixture table of ``sf_dir``.
    A dir-shaped table (part files under ``<t>.parquet/``, the sf1
    fixture layout) is read through a glob, a single file as-is."""
    con = duckdb.connect()
    for name in TABLES:
        path = table_path(sf_dir, name)
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    with connect(sf_dir) as con:
        return con.execute(sql).fetch_df()


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Timestamps as tz-naive UTC ``datetime64[us]``, whichever engine made them."""
    out = pdf.copy()
    for col in out.columns:
        series = out[col]
        if isinstance(series.dtype, pd.DatetimeTZDtype):
            out[col] = series.dt.tz_convert("UTC").dt.tz_localize(None)
        elif series.dtype == object:
            sample = series.dropna()
            if len(sample) > 0 and isinstance(
                sample.iloc[0], (datetime.date, datetime.datetime)
            ):
                out[col] = pd.to_datetime(series)
        if pd.api.types.is_datetime64_any_dtype(out[col].dtype):
            out[col] = out[col].astype("datetime64[us]")
    return out


def frame_mismatch(
    got: pd.DataFrame, want: pd.DataFrame, float_rtol: float = 1e-9
) -> str | None:
    """None when ``got`` (Spark's rows) matches ``want`` (the oracle's);
    otherwise why not."""
    got, want = normalize(got), normalize(want)
    if sorted(got.columns) != sorted(want.columns):
        return (
            f"column mismatch: spark={sorted(got.columns)} "
            f"oracle={sorted(want.columns)}"
        )
    if len(got) != len(want):
        return f"row count mismatch: spark={len(got)} oracle={len(want)}"

    cols = sorted(got.columns)
    a = got[cols].sort_values(cols, na_position="last").reset_index(drop=True)
    b = want[cols].sort_values(cols, na_position="last").reset_index(drop=True)

    for col in cols:
        av, bv = a[col], b[col]
        # The driver's gate hashes RENDERED values, so an int64 Spark
        # column vs a float64 oracle column ("5" vs "5.0") fails there
        # even though isclose passes here (r2 l25: DuckDB HUGEINT →
        # float64). Mirror that strictness: numeric kinds must agree.
        a_float = pd.api.types.is_float_dtype(av)
        b_float = pd.api.types.is_float_dtype(bv)
        a_int = pd.api.types.is_integer_dtype(av)
        b_int = pd.api.types.is_integer_dtype(bv)
        if (a_float and b_int) or (a_int and b_float):
            return (
                f"numeric-kind mismatch in {col}: spark={av.dtype} vs "
                f"oracle={bv.dtype} — the driver's value hash renders these "
                f"differently (e.g. '5' vs '5.0'); CAST the oracle side"
            )
        if a_float or b_float:
            af = av.astype(float).to_numpy()
            bf = bv.astype(float).to_numpy()
            same = (np.isnan(af) & np.isnan(bf)) | np.isclose(
                af, bf, rtol=float_rtol, atol=1e-9
            )
            if not same.all():
                return f"float mismatch in {col}: {af[~same][:5]} vs {bf[~same][:5]}"
        else:
            differ = ~(
                (av.isna() & bv.isna()) | (av.astype(object) == bv.astype(object))
            )
            if differ.any():
                return (
                    f"value mismatch in {col}: "
                    f"{av[differ].head(5).tolist()} vs {bv[differ].head(5).tolist()}"
                )
    return None


def assert_frames_match(spark_df, oracle_pdf: pd.DataFrame, float_rtol: float = 1e-9):
    why = frame_mismatch(spark_df.toPandas(), oracle_pdf, float_rtol)
    assert why is None, why
