"""Canonical row comparison used by tools/check.py and the pytest suite.

Mirrors the driver's gate: sort columns by name, canonicalize every
value to a string, sort rows, hash. Strict on floats — the engine's
decimal-aggregation policy is required to make Spark and DuckDB agree
bitwise, and this module is what enforces that promise locally.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math


def canon_value(v) -> str:
    if v is None:
        return "␀"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> tuple[list[str], str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted("␟".join(canon_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(canon).encode()).hexdigest()[:16]
    return canon, h
