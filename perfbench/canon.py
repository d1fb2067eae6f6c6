"""Order-free digest of a query result, identical to Canon.scala.

Columns are taken by name (sorted), every value becomes a token, each
row is hashed and the sorted row hashes are hashed again with the
column header. Floats and decimals are rounded half-even to six
decimals of their exact binary value. Dates and timestamps become epoch
microseconds (a date at UTC midnight), as the pandas comparison in
tools/compare.py equates them.
"""
import datetime
import decimal
import hashlib

_SIX = decimal.Decimal("0.000001")
_EPOCH = datetime.datetime(1970, 1, 1)


def number(x):
    x = float(x)
    if x != x:
        return "NaN"
    if x in (float("inf"), float("-inf")):
        return "Inf" if x > 0 else "-Inf"
    s = format(decimal.Decimal(x).quantize(_SIX, rounding=decimal.ROUND_HALF_EVEN), "f")
    return "0.000000" if s == "-0.000000" else s


def _micros(t):
    if t.tzinfo is not None:
        t = t.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    d = t - _EPOCH
    return (d.days * 86400 + d.seconds) * 1000000 + d.microseconds


def token(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        return number(v)
    if isinstance(v, str):
        return '"' + v.replace("\\", "\\\\").replace('"', '\\"') + '"'
    if isinstance(v, datetime.datetime):
        return str(_micros(v))
    if isinstance(v, datetime.date):
        return str(_micros(datetime.datetime(v.year, v.month, v.day)))
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "0x" + bytes(v).hex()
    if isinstance(v, dict):  # DuckDB STRUCT, fields in declared order
        return "(" + ",".join(token(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(token(x) for x in v) + "]"
    return str(v)


def sha256(s):
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def digest(columns, rows):
    """columns: names in result order; rows: sequences in that order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    header = ",".join(columns[i] for i in order)
    hashes = sorted(sha256("\x1f".join(token(r[i]) for i in order)) for r in rows)
    return sha256(header + "\n" + "\n".join(hashes))


def duckdb_digest(con, sql):
    """Digest and row count of `sql` run on a DuckDB connection."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    return digest(cols, rows), len(rows)
