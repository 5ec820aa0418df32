"""Order-independent hashing of query results, so that a Spark result and
its DuckDB oracle compare as multisets of rows whatever their row order."""
import datetime
import decimal
import hashlib
import math

_EPOCH = datetime.datetime(1970, 1, 1)


def canon(v):
    """One canonical value for what two engines may render differently:
    timestamps become epoch microseconds (naive ones are UTC), doubles are
    rounded to 9 decimals with -0.0 folded into 0.0, NaN is one token, and
    integral decimals become ints."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return round(v, 9) + 0.0
    if isinstance(v, decimal.Decimal):
        if v.is_nan():
            return "NaN"
        if v == v.to_integral_value():
            return int(v)
        return canon(float(v))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        delta = v - _EPOCH
        return (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return tuple(sorted((str(k), canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def row_hash(columns, row):
    """64-bit hash of one row, independent of column order."""
    items = sorted(zip(columns, row), key=lambda kv: kv[0])
    text = repr(tuple((c, canon(v)) for c, v in items))
    return int.from_bytes(hashlib.blake2b(text.encode(), digest_size=8).digest(), "little")


def multiset_hash(columns, rows):
    """(row count, sum of row hashes mod 2^64): equal for equal multisets
    of rows in any order; a duplicated row changes both."""
    n, h = 0, 0
    for r in rows:
        n += 1
        h = (h + row_hash(columns, r)) % (1 << 64)
    return n, h
