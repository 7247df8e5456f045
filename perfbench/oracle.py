"""Output check for ``query_mix``: each registry query against its DuckDB
oracle SQL on the same generated tables.

The comparison follows the repository's oracle convention: same column
names, same row count, order-insensitive equality after canonicalisation,
floats equal to 1e-12 relative.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd


def duck_connection(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif s.dtype == object:
            df[c] = s.map(lambda v: str(v) if v is not None else None)
    key = df.apply(lambda r: tuple(str(x) for x in r), axis=1)
    return df.iloc[key.argsort(kind="mergesort").values].reset_index(drop=True)


def frames_differ(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames match, else a one-line reason."""
    got, want = _canon(got), _canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            for i, (a, b) in enumerate(zip(g.astype(float), w.astype(float))):
                if math.isnan(a) and math.isnan(b):
                    continue
                if not math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-12):
                    return f"{c}[{i}] {a!r} != {b!r}"
        else:
            eq = (g == w) | (g.isna() & w.isna())
            if not bool(eq.all()):
                i = int((~eq).idxmax())
                return f"{c}[{i}] {g.iloc[i]!r} != {w.iloc[i]!r}"
    return None
