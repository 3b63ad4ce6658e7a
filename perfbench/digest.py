"""Order-independent digest of a query result.

Spark (``toPandas``) and DuckDB (``.df()``) hand back the same values in
different dtypes: int32 against int64, DECIMAL against double, numpy
arrays against lists, dates against midnight timestamps. Every value is
first rendered in one canonical text form, with numbers compared as
doubles like the repository's oracle comparator does, then rows are
sorted and hashed with the column names, so row order does not matter.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
from collections.abc import Mapping

import numpy as np
import pandas as pd


def canon(v) -> str:
    """Canonical text of one cell."""
    if v is None or v is pd.NaT:
        return "\\N"
    if isinstance(v, (bool, np.bool_)):
        return "T" if v else "F"
    if isinstance(v, (int, np.integer)):
        return canon(float(v)) if abs(int(v)) >= 2**53 else str(int(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "\\N"
        return str(int(f)) if f.is_integer() and abs(f) < 2**53 else repr(f)
    if isinstance(v, (pd.Timestamp, dt.datetime, np.datetime64)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.date().isoformat() if ts == ts.normalize() else ts.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, Mapping):
        return "{" + ",".join(sorted(f"{canon(k)}:{canon(x)}" for k, x in v.items())) + "}"
    if hasattr(v, "asDict"):  # pyspark Row inside a struct column
        return canon(v.asDict())
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def frame_digest(pdf: pd.DataFrame) -> str:
    """sha256 over sorted canonical rows, columns taken in name order."""
    cols = sorted(pdf.columns)
    rendered = [pdf[c].map(canon, na_action=None).tolist() for c in cols] if len(pdf) else []
    rows = sorted("\x1f".join(r) for r in zip(*rendered)) if rendered else []
    h = hashlib.sha256("\x1e".join(cols).encode())
    for row in rows:
        h.update(b"\x1d" + row.encode())
    return f"{len(rows)}:{h.hexdigest()[:32]}"
