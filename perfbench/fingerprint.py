"""Order-insensitive fingerprint of a fully materialized result.

Every row is rendered canonically (columns in name order, floats by their
exact repr, -0.0 folded to 0.0, nested rows and arrays as tuples) and
hashed to 64 bits; the fingerprint is the row count, the sum of the row
hashes modulo 2^64 and a hash of the column names. A sum ignores row
order and keeps duplicate rows (an XOR would cancel them), and any single
changed value changes its row's hash.
"""

from __future__ import annotations

import hashlib
import math
from datetime import date, datetime
from decimal import Decimal

_MASK = (1 << 64) - 1


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0.0 else v
    if isinstance(v, (list, tuple)):  # arrays, and nested Rows (tuples)
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((repr(k), _canon(x)) for k, x in v.items()))
    if isinstance(v, (datetime, date, Decimal)):
        return str(v)
    return v


def _h64(text: str) -> int:
    return int.from_bytes(hashlib.blake2b(text.encode(), digest_size=8).digest(), "little")


def fingerprint(columns: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc = 0
    for row in rows:
        acc = (acc + _h64(repr(tuple(_canon(row[i]) for i in order)))) & _MASK
    names = _h64(",".join(columns[i] for i in order))
    return f"{len(rows)}:{acc:016x}:{names:016x}"
