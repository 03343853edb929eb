"""Order-insensitive canonical digest of a query result.

Built exactly as ``tests/conftest.py::assert_matches_oracle`` compares a
Spark result with its DuckDB oracle: both sides go through pandas, columns
are sorted by name, every cell is normalized with a type tag (so an int 1
never equals a float 1.0), rows are sorted, and float cells compare by full
``repr``. The digest hashes the sorted column names, the row count and the
canonical rows.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import math
from decimal import Decimal

import numpy as np
import pandas as pd


def _norm(v):
    if isinstance(v, (list, tuple, dict, np.ndarray)):
        return ("nested", repr(v))
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NULL" if math.isnan(f) else ("f", repr(f))
    if isinstance(v, Decimal):
        return ("dec", str(v))
    if isinstance(v, _dt.datetime):  # covers pd.Timestamp
        return ("t", v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds"))
    if isinstance(v, _dt.date):
        return ("date", v.isoformat())
    if isinstance(v, (bytes, bytearray)):
        return ("bytes", bytes(v).hex())
    return v


def _cells(col: pd.Series) -> list[str]:
    """``repr(_norm(v))`` for every cell of one column, with fast paths for
    the plain numeric dtypes that give the same strings."""
    kind = col.dtype.kind
    vals = col.tolist()
    if kind in "iu":
        return [f"('i', {v})" for v in vals]
    if kind == "f":
        return ["'NULL'" if v != v else f"('f', '{v!r}')" for v in vals]
    if kind == "b":
        return [f"('b', {v})" for v in vals]
    return [repr(_norm(v)) for v in col.to_numpy(dtype=object)]


def canonical(pdf: pd.DataFrame) -> tuple[list[str], list[str]]:
    """Sorted column names and the sorted normalized rows, each row the
    ``repr`` of its normalized cells (a total order on the same multiset of
    rows the test comparator sorts)."""
    cols = sorted(pdf.columns)
    per_col = [_cells(pdf[c]) for c in cols]
    return cols, sorted("(" + ", ".join(r) + ")" for r in zip(*per_col))


def digest(pdf: pd.DataFrame) -> str:
    cols, rows = canonical(pdf)
    h = hashlib.sha256(repr((cols, len(rows))).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()[:32]


def fingerprint(pdf: pd.DataFrame) -> str:
    """Cheap order-insensitive fingerprint for comparing two results of the
    same engine (same dtypes), not for comparing engines."""
    cols = sorted(pdf.columns)
    rows = np.sort(pd.util.hash_pandas_object(pdf[cols], index=False).to_numpy())
    h = hashlib.sha256(repr((cols, [str(t) for t in pdf[cols].dtypes])).encode())
    h.update(rows.tobytes())
    return h.hexdigest()[:32]
