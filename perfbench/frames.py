"""Order-insensitive comparison of a query result with its oracle result.

Both sides arrive as pandas frames: the engine's via ``toPandas()``, the
oracle's from DuckDB. Cells are normalized so that representation
differences between the two libraries (numpy vs Python scalars, Decimal
vs float, date vs timestamp, arrays vs lists) do not count, and floats
are compared to six decimal places.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math

import numpy as np
import pandas as pd


def norm_cell(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm_cell(x)) for k, x in v.items()))
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, (dt.date, dt.datetime, pd.Timestamp)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.isoformat()
    if isinstance(v, float):
        if math.isnan(v):
            return None
        if v.is_integer() and abs(v) < 2**53:
            return int(v)
        return round(v, 6)
    return v


def canonical_rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [
        tuple(norm_cell(v) for v in rec)
        for rec in df[cols].astype(object).itertuples(index=False, name=None)
    ]
    return sorted(rows, key=repr)


def _close(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` equals ``want`` as a multiset of rows, else why not."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)} rows"
    g, w = canonical_rows(got), canonical_rows(want)
    if g == w:
        return None
    for i, (a, b) in enumerate(zip(g, w)):
        if not _close(a, b):
            return f"row {i} differs: {a} != {b}"
    return None
