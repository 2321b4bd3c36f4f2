"""The order-insensitive result digest, over Python values.

Mirrors src/main/scala/perfbench/Digest.scala value for value: sorted
column names, the row count, and the sum modulo 2^64 of the first eight
bytes (big-endian) of one MD5 per row. Used to derive the committed
expected digests from the DuckDB oracle's rows.
"""
import datetime
import decimal
import hashlib
import struct

_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_DAY = datetime.date(1970, 1, 1)


def _float(x):
    x = float(x)
    if x == 0.0:
        x = 0.0
    elif x != x:
        return b"F9221120237041090560;"  # Java's canonical NaN bits
    return b"F%d;" % struct.unpack(">q", struct.pack(">d", x))[0]


def encode(v):
    """One value's canonical bytes (see Digest.encode)."""
    if v is None:
        return b"N;"
    if isinstance(v, bool):
        return b"B1;" if v else b"B0;"
    if isinstance(v, int):
        return b"I%d;" % v
    if isinstance(v, (float, decimal.Decimal)):
        return _float(v)
    if isinstance(v, str):
        b = v.encode("utf-8")
        return b"S%d:" % len(b) + b + b";"
    if isinstance(v, (bytes, bytearray, memoryview)):
        b = bytes(v)
        return b"X%d:" % len(b) + b + b";"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH
        return b"T%d;" % ((d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    if isinstance(v, datetime.date):
        return b"D%d;" % (v - _EPOCH_DAY).days
    raise TypeError(f"no canonical encoding for {type(v).__name__}")


def digest(columns, rows):
    """(sorted columns, row count, hex sum) of rows given as tuples in
    `columns` order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total, n = 0, 0
    for r in rows:
        h = hashlib.md5(b"".join(encode(r[i]) for i in order)).digest()
        total = (total + struct.unpack(">Q", h[:8])[0]) % (1 << 64)
        n += 1
    return [columns[i] for i in order], n, f"{total:016x}"
