"""Differential-test harness replicating the driver's DuckDB-oracle check.

For each registered query we run the Spark DataFrame builder AND the oracle
SQL in DuckDB over the same parquet tables, then compare:

1. row count,
2. column names (sorted) and dtype families,
3. order-insensitive values: columns sorted by name, rows sorted by all
   columns, cell-exact equality (floats are rounded inside both queries, so
   exact equality is the correct bar).

This is intentionally STRICTER than the driver's value-hash: if this passes,
the driver's comparison passes.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd

from cbde_mapreduce_spark.sources import TABLES


def register_views(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    """One DuckDB view per fixture table of ``sf_dir``, in either layout
    (FIXTURES.md "Table layouts"): a single file, or a directory of part
    files as written at scale (tools_scale_gen, partitioned sinks), read
    through a recursive glob so a hive-partitioned layout
    (key=val/part-*.parquet) loads too. Spark's loaders handle both."""
    import os

    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        src = f"'{p}/**/*.parquet'" if os.path.isdir(p) else f"'{p}'"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM {src}")


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        register_views(con, sf_dir)
        return con.sql(sql).df()
    finally:
        con.close()


def _canon_cell(v):
    """Make a cell hashable/comparable across engines."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon_cell(x) for x in v)
    if isinstance(v, float) and math.isnan(v):
        return "<NaN>"
    if v is None:
        return "<NULL>"
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    return v


def canonicalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            # normalize precision + drop tz (both engines store naive UTC here)
            try:
                s = s.dt.tz_localize(None)
            except TypeError:
                pass
            pdf[c] = s.astype("datetime64[us]")
        elif s.dtype == object:
            vals = s.map(_canon_cell)
            # Boolean results arrive as object columns, and the two engines
            # represent a NULL bool differently in pandas (Spark: None,
            # DuckDB .df(): float nan). NaN is not a value a boolean can
            # take, so for columns whose real values are all bools — or
            # that are entirely missing — fold "<NaN>" into "<NULL>".
            # Float NaN-vs-NULL stays distinct: real doubles take the
            # float64 branch above, never this one.
            real = [v for v in vals if v not in ("<NULL>", "<NaN>")]
            if all(isinstance(v, (bool, np.bool_)) for v in real):
                vals = vals.map(lambda v: "<NULL>" if v == "<NaN>" else v)
            pdf[c] = vals
        elif pd.api.types.is_integer_dtype(s):
            pdf[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            pdf[c] = s.astype("float64")
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(
            drop=True
        )
    return pdf


def assert_parity(spark_df, oracle_sql: str, sf_dir: str, name: str = "?") -> None:
    got = canonicalize(spark_df.toPandas())
    want = canonicalize(run_oracle(oracle_sql, sf_dir))
    assert list(got.columns) == list(want.columns), (
        f"{name}: column mismatch spark={list(got.columns)} oracle={list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: row count spark={len(got)} oracle={len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        gk = ("dt" if pd.api.types.is_datetime64_any_dtype(g) else
              "i" if pd.api.types.is_integer_dtype(g) else
              "f" if pd.api.types.is_float_dtype(g) else
              "b" if pd.api.types.is_bool_dtype(g) else "o")
        wk = ("dt" if pd.api.types.is_datetime64_any_dtype(w) else
              "i" if pd.api.types.is_integer_dtype(w) else
              "f" if pd.api.types.is_float_dtype(w) else
              "b" if pd.api.types.is_bool_dtype(w) else "o")
        assert gk == wk, f"{name}.{c}: dtype family spark={g.dtype} oracle={w.dtype}"
        if gk == "f":
            ge, we = g.to_numpy(), w.to_numpy()
            both_nan = np.isnan(ge) & np.isnan(we)
            eq = (ge == we) | both_nan
            assert eq.all(), (
                f"{name}.{c}: {int((~eq).sum())} float cells differ; "
                f"first: spark={ge[~eq][:3]} oracle={we[~eq][:3]}"
            )
        else:
            eq = g.eq(w) | (g.isna() & w.isna())
            assert eq.all(), (
                f"{name}.{c}: {int((~eq).sum())} cells differ; "
                f"first spark={g[~eq].head(3).tolist()} oracle={w[~eq].head(3).tolist()}"
            )
