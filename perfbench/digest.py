"""Order-insensitive result digest; the Python twin of scala/Digest.scala
(see there for the encoding). Used to digest the DuckDB oracle's rows."""
import datetime as dt
import decimal
import hashlib
import math
import struct

_EPOCH = dt.datetime(1970, 1, 1)
_EPOCH_UTC = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _micros(delta: dt.timedelta) -> int:
    return (delta.days * 86400 + delta.seconds) * 1000000 + delta.microseconds


def enc(v) -> str:
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "B1" if v else "B0"
    if isinstance(v, int):
        return f"I{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "FNaN"
        return "F%016x" % struct.unpack(">Q", struct.pack(">d", v))[0]
    if isinstance(v, decimal.Decimal):
        s = format(v.normalize(), "f")
        return "D" + ("0" if s in ("-0", "") else s)
    if isinstance(v, str):
        return f"S{len(v.encode('utf-8'))}:{v}"
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            return f"T{_micros(v - _EPOCH)}"
        return f"T{_micros(v - _EPOCH_UTC)}"
    if isinstance(v, dt.date):
        return f"T{(v - dt.date(1970, 1, 1)).days * 86400000000}"
    if isinstance(v, (bytes, bytearray)):
        return "X" + bytes(v).hex()
    if isinstance(v, dict):
        if set(v) == {"key", "value"} and isinstance(v["key"], list):
            v = dict(zip(v["key"], v["value"]))  # DuckDB MAP
        else:
            return "R(" + ",".join(enc(x) for x in v.values()) + ")"
        return "M{" + ",".join(sorted(enc(k) + "=" + enc(x) for k, x in v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "A[" + ",".join(enc(x) for x in v) + "]"
    return f"O{v}"


def digest(names, rows):
    """(row count, sha256 hex) of a result given its column names and rows."""
    order = sorted(range(len(names)), key=lambda i: (names[i], i))
    header = "C" + ",".join(enc(names[i]) for i in order)
    encoded = sorted(",".join(enc(r[i]) for i in order).encode("utf-8") for r in rows)
    h = hashlib.sha256(header.encode("utf-8"))
    for e in encoded:
        h.update(b"\n")
        h.update(e)
    return len(rows), h.hexdigest()
