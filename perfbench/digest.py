"""Canonical, order-insensitive digest of a query result.

Mirror of `perfbench.Digest` (Scala): columns in name order, rows in
byte order of their canonical text, values as type-tagged tokens. Used to
anchor the reference digests to the DuckDB oracle.
"""
import datetime
import decimal
import hashlib
import math
import struct

EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_DAY = datetime.date(1970, 1, 1)


def float_token(x):
    if math.isnan(x):
        return "fnan"
    if x == 0.0:
        x = 0.0
    return "f%016x" % struct.unpack(">Q", struct.pack(">d", x))[0]


def _split_top(s):
    """Split a DuckDB type argument list on top-level commas."""
    out, depth, cur = [], 0, ""
    for ch in s:
        if ch == "," and depth == 0:
            out.append(cur.strip())
            cur = ""
            continue
        depth += ch == "("
        depth -= ch == ")"
        cur += ch
    if cur.strip():
        out.append(cur.strip())
    return out


def _is_map(type_str):
    return type_str.upper().startswith("MAP(")


def _map_types(type_str):
    if not _is_map(type_str):
        return "", ""
    k, v = _split_top(type_str[4:-1])
    return k, v


def _elem_type(type_str):
    t = type_str.strip()
    if t.endswith("[]"):
        return t[:-2]
    return ""


def _struct_types(type_str):
    t = type_str.strip()
    if not t.upper().startswith("STRUCT("):
        return []
    # STRUCT(a INTEGER, "b c" VARCHAR) -> field types in order
    return [f.split(" ", 1)[1] if " " in f else "" for f in _split_top(t[7:-1])]


def token(v, type_str=""):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return "i%d" % v
    if isinstance(v, float):
        return float_token(v)
    if isinstance(v, decimal.Decimal):
        return float_token(float(v))
    if isinstance(v, str):
        return "s%d:%s" % (len(v.encode("utf-8")), v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return "T%d" % ((d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    if isinstance(v, datetime.date):
        return "D%d" % (v - EPOCH_DAY).days
    if isinstance(v, dict):
        if _is_map(type_str):
            kt, vt = _map_types(type_str)
            if set(v.keys()) == {"key", "value"} and isinstance(v["key"], list):
                items = zip(v["key"], v["value"])
            else:
                items = v.items()
            return "{" + ",".join(sorted(token(k, kt) + "=" + token(x, vt) for k, x in items)) + "}"
        types = _struct_types(type_str) or [""] * len(v)
        return "(" + ",".join(token(x, t) for x, t in zip(v.values(), types)) + ")"
    if isinstance(v, (list, tuple)):
        et = _elem_type(type_str)
        return "[" + ",".join(token(x, et) for x in v) + "]"
    raise TypeError("no canonical token for %r" % type(v))


def digest(names, rows, types=None):
    """names: column names; rows: sequences of values; types: DuckDB type
    strings per column (needed only to tell MAP from STRUCT)."""
    types = types or [""] * len(names)
    order = sorted(range(len(names)), key=lambda i: names[i])
    header = ",".join(names[i] for i in order)
    lines = sorted("|".join(token(r[i], types[i]) for i in order).encode("utf-8") for r in rows)
    h = hashlib.sha256(header.encode("utf-8"))
    for line in lines:
        h.update(b"\n")
        h.update(line)
    return h.hexdigest()[:24]
