"""Process-stable result digests: row count plus a hash of the sorted,
normalised rows.

Python's ``hash()`` is salted per process for strings, so it cannot be
compared across runs; SHA-256 over a canonical text form can.  Columns
are taken in name order and values are normalised the same way for Spark
``Row`` objects and DuckDB tuples, so one digest compares both engines.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import json
import math


def normalise(v):
    """Canonical JSON-able form of one result value."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        # full precision, NaN spelled out, -0.0 folded into 0.0
        return "NaN" if math.isnan(v) else repr(v + 0.0)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (_dt.datetime, _dt.date, _dt.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return [[normalise(k), normalise(x)] for k, x in
                sorted(v.items(), key=lambda kv: repr(kv[0]))]
    if hasattr(v, "asDict"):            # nested Spark Row (struct)
        return normalise(v.asDict(recursive=False))
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        return [normalise(x) for x in (v.tolist() if hasattr(v, "tolist") else v)]
    return repr(v)


def digest(columns: list[str], rows) -> dict:
    """``{"rows": n, "digest": hex}`` for rows given as sequences aligned
    with ``columns``; order-insensitive over rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    hashes = sorted(
        hashlib.sha256(json.dumps([normalise(row[i]) for i in order],
                                  separators=(",", ":")).encode()).hexdigest()
        for row in rows)
    h = hashlib.sha256("\n".join(hashes).encode()).hexdigest()
    return {"rows": len(hashes), "digest": h[:32]}

