"""Result checking: DuckDB oracle answers for the gates, and the
comparison every collected result goes through.

A result matches when it has the oracle's row count and column names,
no column differs in dtype kind (integer widths may differ), and every
value is equal after sorting columns by name and rows by all columns.
Floats must be bit-equal (NaN equal to NaN): the gates are written to
be exact against DuckDB, so "close" counts as wrong.
"""

from __future__ import annotations

import os
from typing import Dict, List

import duckdb
import numpy as np
import pandas as pd


def oracle_answers(sf_dir: str, tables, queries: Dict[str, str]) -> Dict[str, pd.DataFrame]:
    """Run each oracle query on the parquet files under ``sf_dir``;
    returns normalized answers keyed by gate name."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {name: normalize(con.execute(sql).df()) for name, sql in queries.items()}
    finally:
        con.close()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: tuple(np.asarray(v).ravel().tolist())
                if isinstance(v, (list, np.ndarray))
                else v
            )
    return df.sort_values(by=list(df.columns), ignore_index=True)


def mismatches(got: pd.DataFrame, want: pd.DataFrame) -> List[str]:
    """Differences between a collected result and a normalized oracle
    answer; empty when they match."""
    if len(got) != len(want):
        return [f"row count {len(got)} != oracle {len(want)}"]
    if sorted(got.columns) != list(want.columns):
        return [f"columns {sorted(got.columns)} != oracle {list(want.columns)}"]
    errs = []
    for c in want.columns:
        gk, wk = got[c].dtype.kind, want[c].dtype.kind
        if gk != wk and not ({gk, wk} <= {"i", "u"}):
            errs.append(f"col {c}: dtype {got[c].dtype} != oracle {want[c].dtype}")
    if errs:
        return errs
    got = normalize(got)
    for c in want.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) and pd.api.types.is_float_dtype(w):
            same = np.array_equal(g.values, w.values, equal_nan=True)
        else:
            same = g.astype(str).equals(w.astype(str))
        if not same:
            errs.append(f"col {c}: values differ")
    return errs
