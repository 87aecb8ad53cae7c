"""Python twin of `Fingerprint.scala`: row count plus an order-sensitive
SHA-256 over every column, columns in name order, one canonical text form
per cell. Used to fingerprint DuckDB results for the oracle check and the
self-test's known rows."""
import datetime
import decimal
import hashlib
import math
import struct

_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_DAY = datetime.date(1970, 1, 1)
_MAX_EXACT = 2.0 ** 53


def _num(d):
    if math.isnan(d):
        return "NaN"
    if math.isinf(d):
        return "inf" if d > 0 else "-inf"
    if d == math.floor(d) and abs(d) < _MAX_EXACT:
        return "i%d" % int(d)
    return "f" + struct.pack(">d", d).hex()


def cell(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return "i%d" % v
    if isinstance(v, (float, decimal.Decimal)):
        return _num(float(v))
    if isinstance(v, str):
        return "s%d:%s" % (len(v.encode("utf-8")), v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "t%d" % ((v - _EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "d%d" % (v - _EPOCH_DAY).days
    if isinstance(v, (bytes, bytearray)):
        return "b" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):  # a DuckDB STRUCT, which Spark returns as a Row
        return "(" + ",".join(cell(x) for x in v.values()) + ")"
    return "?" + str(v)


def fingerprint(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: (columns[i], i))
    md = hashlib.sha256()
    md.update(("cols:" + "\x01".join(columns[i] for i in order) + "\n").encode("utf-8"))
    n = 0
    for r in rows:
        md.update(("\x01".join(cell(r[i]) for i in order) + "\n").encode("utf-8"))
        n += 1
    return "%d:%s" % (n, md.digest()[:8].hex())
