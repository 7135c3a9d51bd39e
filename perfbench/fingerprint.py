"""Order-independent, typed fingerprint of a query result.

The same normalisation is implemented twice: here, over the Python
values DuckDB returns for an oracle query, and in
src/main/scala/perfbench/Fingerprint.scala, over the rows Spark
collects. Each value is tagged with its type family, at the
granularity of tools/check_oracle.py's typed compare: integer widths
collapse, float widths collapse, and decimal, bool, string, timestamp
and date stay distinct. Floats are rounded to 9 decimals (the
check_oracle.py rule), computed as floor(v * 1e9 + 0.5) so that both
languages derive the same integer from the same double. Columns are
taken in name order and rows are sorted, so row order never matters.
"""
import datetime as dt
import decimal
import hashlib
import math

COL_SEP = "\x1f"
ITEM_SEP = "\x1e"
_EPOCH = dt.datetime(1970, 1, 1)
_EPOCH_DATE = dt.date(1970, 1, 1)


def norm_float(v):
    if math.isnan(v):
        return "fNaN"
    if math.isinf(v):
        return "f+Inf" if v > 0 else "f-Inf"
    return "f" + str(math.floor(v * 1e9 + 0.5))


def norm_decimal(d):
    if d.is_nan():
        return "dNaN"
    if d == 0:
        return "d0"
    return "d" + format(d.normalize(), "f")


def norm(v):
    """Canonical string of one value."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return "i" + str(v)
    if isinstance(v, float):
        return norm_float(v)
    if isinstance(v, decimal.Decimal):
        return norm_decimal(v)
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return "t" + str((v - _EPOCH) // dt.timedelta(microseconds=1))
    if isinstance(v, dt.date):
        return "D" + str((v - _EPOCH_DATE).days)
    if isinstance(v, (list, tuple)):
        return "[" + ITEM_SEP.join(norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ITEM_SEP.join(
            f"{k}={norm(x)}" for k, x in v.items()) + "}"
    raise TypeError(f"unsupported result value {type(v).__name__}: {v!r}")


def fingerprint(columns, rows):
    """sha256 over the sorted column names and the sorted normalised
    rows. `rows` are sequences in the order of `columns`."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(COL_SEP.join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update(COL_SEP.join(columns[i] for i in order).encode())
    for ln in lines:
        h.update(b"\n")
        h.update(ln.encode())
    return h.hexdigest()
