"""Order-insensitive result digests, shared by the run and the digest maker.

The canonical form follows ``tools/drive_contract.py``: columns sorted by
name, timestamps at microsecond precision, a DATE equal to its midnight
timestamp, NULL and NaN equal, integral floats equal to the same integer.
Rows are rendered to strings and sorted, so the digest ignores row order.
"""

from __future__ import annotations

import datetime
import hashlib
import math

import pandas as pd


def _cell(v) -> str:
    if v is None or v is pd.NA or v is pd.NaT:
        return "null"
    if isinstance(v, float):
        if math.isnan(v):
            return "null"
        if v.is_integer() and abs(v) < 2**53:
            return str(int(v))
        return repr(v)
    if isinstance(v, datetime.date):
        return str(pd.Timestamp(v))
    return str(v)


def digest(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    df = df[cols].copy()
    for c in cols:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    columns = [[_cell(v) for v in df[c].astype(object).tolist()] for c in cols]
    rows = sorted("\x1f".join(r) for r in zip(*columns)) if cols else []
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1d" + r.encode())
    return h.hexdigest()
