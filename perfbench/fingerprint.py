"""Python twin of ``perfbench.Fingerprint`` (Scala): an order-insensitive
fingerprint of a query result, used to derive expected values from DuckDB.
See the Scala scaladoc for the encoding; keep the two in lockstep."""
import datetime
import decimal
import hashlib
import math
import struct

_EPOCH = datetime.datetime(1970, 1, 1)


def _frame(parts):
    out = []
    for p in parts:
        b = p.encode("utf-8")
        out.append(f"{len(b)}:".encode() + b)
    return b"".join(out)


def encode(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "B1" if v else "B0"
    if isinstance(v, int):
        return f"I{v}"
    if isinstance(v, float):
        bits = 0x7FF8000000000000 if math.isnan(v) else struct.unpack(">q", struct.pack(">d", v))[0]
        return "F" + format(bits & 0xFFFFFFFFFFFFFFFF, "016x")
    if isinstance(v, decimal.Decimal):
        return "D0" if v == 0 else "D" + format(v.normalize(), "f")
    if isinstance(v, str):
        return "S" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH
        return f"t{(d.days * 86400 + d.seconds) * 1000000 + d.microseconds}"
    if isinstance(v, datetime.date):
        return "d" + v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "X" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + _frame(encode(x) for x in v).decode("utf-8")
    if isinstance(v, dict):
        return "{" + _frame(encode(x) for x in v.values()).decode("utf-8")
    raise TypeError(f"no fingerprint encoding for {type(v).__name__}")


def fingerprint(columns, rows):
    """(row count, 16-hex hash, sorted column names) of a result given as
    column names plus row tuples."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        h = hashlib.sha256(_frame(encode(r[i]) for i in order)).digest()
        total = (total + int.from_bytes(h[:8], "big")) & 0xFFFFFFFFFFFFFFFF
    return len(rows), format(total, "016x"), [columns[i] for i in order]
