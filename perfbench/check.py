"""Exact, order-insensitive comparison of a Spark result with DuckDB's."""

from __future__ import annotations

import numpy as np
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, rows sorted by every column, dtypes made
    comparable across the two engines."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            df[c] = col.astype("datetime64[us]")
        elif col.dtype == object:
            df[c] = col.map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
        elif pd.api.types.is_integer_dtype(col):
            df[c] = col.astype("float64") if col.isna().any() else col.astype("int64")
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Problems found, empty when both hold the same rows exactly."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns differ: spark={sorted(got.columns)} duckdb={sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"row count: spark={len(got)} duckdb={len(want)}"]
    g, w = canon(got), canon(want)
    problems = []
    for c in g.columns:
        gv, wv = g[c], w[c]
        if pd.api.types.is_float_dtype(gv) or pd.api.types.is_float_dtype(wv):
            a = gv.astype("float64").to_numpy()
            b = wv.astype("float64").to_numpy()
            same = (a == b) | (np.isnan(a) & np.isnan(b))
        else:
            same = ((gv == wv) | (gv.isna() & wv.isna())).to_numpy()
        if not same.all():
            bad = ~same
            examples = list(zip(gv[bad].head(3), wv[bad].head(3)))
            problems.append(f"col {c}: {int(bad.sum())}/{len(gv)} cells differ, e.g. {examples}")
    return problems
