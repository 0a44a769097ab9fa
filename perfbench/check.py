"""Output comparison against DuckDB.

Frames are compared order-insensitively: column names lower-cased and
sorted, rows sorted, dates and strings compared as text, integers as
int64.  Doubles must agree to a relative 1e-12: the engine's queries
sum in exact integers, but a final double expression may still round
differently in the last bit on the two engines (seen on
``q_correlation``).
"""

from __future__ import annotations

import math

import pandas as pd

REL_TOL = 1e-12


def oracle_frame(con, sql: str, params: list | None = None) -> pd.DataFrame:
    return con.execute(sql, params or []).fetchdf()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        dtype = str(df[c].dtype)
        if dtype.startswith(("datetime", "object", "string")):
            df[c] = df[c].astype(str)
        elif dtype.lower().startswith("float"):
            df[c] = df[c].astype(float)
        elif dtype.lower().startswith(("int", "uint")):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def assert_frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> None:
    a, b = normalize(got), normalize(want)
    assert list(a.columns) == list(b.columns), (
        f"columns differ: {list(a.columns)} vs {list(b.columns)}"
    )
    assert len(a) == len(b), f"row counts differ: {len(a)} vs {len(b)}"
    for c in a.columns:
        for i, (x, y) in enumerate(zip(a[c].tolist(), b[c].tolist())):
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                assert math.isclose(x, y, rel_tol=REL_TOL, abs_tol=REL_TOL), (
                    f"col {c} row {i}: {x!r} != {y!r}")
                continue
            assert x == y, f"col {c} row {i}: {x!r} != {y!r}"
