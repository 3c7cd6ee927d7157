"""Order-free result hashing shared by the query check and its oracle.

The rules are those of ``scripts/drive_contract.py`` (the project's
Spark-vs-DuckDB contract check): columns sorted by name, every value
stringified (doubles rounded to 6 places, NaN spelled out, dates in ISO
form, lists recursively, bytes as hex), rows sorted, SHA-256 of the
newline-joined rows.  ``selftest.py`` checks that both agree.
"""

from __future__ import annotations

import hashlib
import math
from datetime import date, datetime


def norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 6))
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def hash_rows(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()
