"""Order-insensitive result digest; the Python twin of Digest.scala.

Both sides must render every cell identically, so the rules live in one
place per language and `tests/test_digest.py` pins them on fixed values.
"""
import datetime
import decimal
import hashlib
import math
import struct

NULL = "\\N"
MASK64 = (1 << 64) - 1
_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_TZ = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def number(x):
    """Integral values as integers whatever their type, others as the
    bits of their nearest double; NaN reads as null."""
    if isinstance(x, decimal.Decimal):
        if x.is_nan():
            return NULL
        if x.is_finite() and x == x.to_integral_value():
            return str(int(x))
        x = float(x)
    if isinstance(x, int):
        return str(x)
    if math.isnan(x):
        return NULL
    if math.isinf(x):
        return "inf" if x > 0 else "-inf"
    if x == math.floor(x):
        return str(int(x))
    return "f" + format(struct.unpack("<Q", struct.pack("<d", x))[0], "x")


def _micros(dt):
    if dt.tzinfo is None:
        delta = dt - _EPOCH
    else:
        delta = dt - _EPOCH_TZ
    return (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds


def cell(v):
    if v is None:
        return NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float, decimal.Decimal)):
        return number(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        return "t" + str(_micros(v))
    if isinstance(v, datetime.date):
        return "d" + str((v - datetime.date(1970, 1, 1)).days)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(sorted(cell(k) + ":" + cell(x) for k, x in v.items())) + "}"
    return str(v)


def row_hash(cells):
    h = hashlib.sha256("\u001f".join(cells).encode("utf-8")).digest()
    return int.from_bytes(h[:8], "big")


def digest(columns, rows):
    """{rows, columns, sum} of a result given its column names and rows."""
    order = sorted(range(len(columns)), key=lambda k: columns[k])
    acc = 0
    for r in rows:
        acc = (acc + row_hash([cell(r[k]) for k in order])) & MASK64
    return {"rows": len(rows), "columns": ",".join(columns[k] for k in order),
            "sum": str(acc)}
