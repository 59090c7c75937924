"""Correctness gate: Spark results against the registry's DuckDB oracles.

The comparison is order-insensitive, as in ``tools/local_verify.py``:
row count, column names, then values after sorting every column; floats
must match bit for bit (a 1e-9 near-miss still fails, because the
engine's contract is a hash match).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    try:
        return df.sort_values(by=list(df.columns), ignore_index=True)
    except TypeError:
        return df.sort_values(by=list(df.columns), ignore_index=True, key=lambda s: s.astype(str))


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Problems found between two result frames; empty when they match."""
    if len(got) != len(want):
        return [f"rowcount {len(got)} != {len(want)}"]
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    a, b = _normalize(got), _normalize(want)
    problems = []
    for c in a.columns:
        av, bv = a[c], b[c]
        a_float = pd.api.types.is_float_dtype(av)
        if a_float != pd.api.types.is_float_dtype(bv):
            problems.append(f"{c}: dtype {av.dtype} != {bv.dtype}")
        if a_float or pd.api.types.is_float_dtype(bv):
            x, y = av.astype(float).to_numpy(), bv.astype(float).to_numpy()
            ok = (x == y) | (np.isnan(x) & np.isnan(y))
        else:
            ok = ((av.astype(str) == bv.astype(str)) | (av.isna() & bv.isna())).to_numpy()
        if not ok.all():
            i = int(np.argmax(~ok))
            problems.append(f"{c}: {av.iloc[i]!r} != {bv.iloc[i]!r}")
    return problems

