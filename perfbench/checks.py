"""Output checks: order-insensitive frame digests and file digests.

A digest makes two result sets comparable across engines (Spark vs the
DuckDB oracles) without a cell-by-cell Python loop: every column is
brought to one canonical representation, each row is hashed, and the
sorted row hashes are hashed again. Floats must agree bit for bit, as
the repository's own oracle tests require.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import os

import numpy as np
import pandas as pd

_NULL = np.uint64(0x9E3779B97F4A7C15)


def _kind(col: pd.Series) -> str:
    if pd.api.types.is_bool_dtype(col) or pd.api.types.is_numeric_dtype(col):
        return "num"
    if pd.api.types.is_datetime64_any_dtype(col):
        return "ts"
    first = next((v for v in col if v is not None and v is not pd.NA and v == v), None)
    if isinstance(first, (bool, int, float, decimal.Decimal, np.number, np.bool_)):
        return "num"
    if isinstance(first, (datetime.date, pd.Timestamp)):
        return "ts"
    return "str"


def _canonical(col: pd.Series) -> pd.Series:
    kind = _kind(col)
    if kind == "ts":
        ts = pd.to_datetime(col).astype("datetime64[us]")
        return pd.Series(
            np.where(ts.isna(), -(2**62), ts.to_numpy().astype("int64", copy=False)),
            index=col.index,
        )
    if kind == "num":
        v = pd.to_numeric(col.astype(object).where(col.notna(), np.nan)).astype("float64")
        v = v.to_numpy() + 0.0  # -0.0 -> 0.0
        bits = v.view("uint64").copy()
        bits[np.isnan(v)] = _NULL
        return pd.Series(bits, index=col.index)
    return col.map(lambda v: "\x00null" if v is None or v is pd.NA or v != v else str(v))


def frame_digest(pdf: pd.DataFrame) -> tuple[int, str]:
    """(row count, digest) of a frame, independent of row and column
    order and of the engine that produced it."""
    canon = pd.DataFrame({c: _canonical(pdf[c]) for c in sorted(pdf.columns)})
    rows = np.sort(pd.util.hash_pandas_object(canon, index=False).to_numpy())
    h = hashlib.sha256(",".join(sorted(pdf.columns)).encode())
    h.update(rows.tobytes())
    return len(pdf), h.hexdigest()


def tree_digest(root: str, exclude_parts: set[str]) -> dict[str, str]:
    """sha256 of each data file under ``root``, skipping any file inside
    a partition directory named in ``exclude_parts`` (e.g. the
    ``year=2023/month=3`` being re-delivered)."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        rel_dir = os.path.relpath(dirpath, root)
        if any(f"/{p}/" in f"/{rel_dir}/" for p in exclude_parts):
            continue
        for name in files:
            if name.startswith((".", "_")):
                continue
            with open(os.path.join(dirpath, name), "rb") as f:
                out[os.path.join(rel_dir, name)] = hashlib.sha256(f.read()).hexdigest()
    return out
