"""Independent reference answers: the registered DuckDB ``ORACLES`` run on
the same generated files, and an order-insensitive comparison with the
engine's result."""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

STREAM_ORACLE = """
    SELECT event_type,
           CAST((epoch_ms(ts) // {size_ms}) * {size_ms} AS BIGINT) AS window_start_ms,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS result
    FROM read_parquet('{glob}') WHERE value <> 0
    GROUP BY event_type, window_start_ms
"""


class Oracle:
    """A DuckDB connection with one view per generated table, confined to
    ``threads`` threads and a spill directory inside the work tree."""

    def __init__(self, sf_dir: str, tables: list[str], threads: int, temp_dir: str):
        os.makedirs(temp_dir, exist_ok=True)
        self.con = duckdb.connect(config={"threads": threads, "temp_directory": temp_dir})
        self.con.execute("SET enable_progress_bar=false")
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def answer(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).arrow().to_pandas()

    def close(self) -> None:
        self.con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_bool_dtype(s) or pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        else:
            df[c] = s.astype(str)
    # exact columns lead the sort key, so last-digit float noise cannot reorder rows
    keys = [c for c in df.columns if df[c].dtype.kind != "f"]
    keys += [c for c in df.columns if c not in keys]
    return df.sort_values(keys, kind="mergesort").reset_index(drop=True)


def mismatch(result: pa.Table | pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """``None`` when ``result`` equals ``expected`` as a multiset of rows
    (integers and strings exactly, doubles to 1e-9 relative), else a
    one-line description of the first difference."""
    got = result.to_pandas() if isinstance(result, pa.Table) else result
    if sorted(got.columns) != sorted(expected.columns):
        return f"columns {sorted(got.columns)} != {sorted(expected.columns)}"
    if len(got) != len(expected):
        return f"rows {len(got)} != {len(expected)}"
    g, e = _canon(got), _canon(expected)
    for c in g.columns:
        a, b = g[c].to_numpy(), e[c].to_numpy()
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            a, b = a.astype("float64"), b.astype("float64")
            bad = ~(np.isclose(a, b, rtol=1e-9, atol=1e-9) | (np.isnan(a) & np.isnan(b)))
        else:
            bad = a != b
        if bad.any():
            i = int(np.argmax(bad))
            return f"column {c}: {int(bad.sum())} differ, first {a[i]!r} != {b[i]!r}"
    return None
