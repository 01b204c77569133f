"""Order-insensitive result fingerprints, the benchmark's output check.

A fingerprint is ``{"rows": n, "columns": [sorted names], "hash": hex}``.
It follows the oracle gate's definition of a match: same row count, same
column names, and the same multiset of row values once columns are put in
name order.  Values are compared bit-exactly after one normalisation that
both engines agree on:

* null-likes (``None``, float NaN) are one value;
* integers stay integers, so ``5`` and ``5.0`` differ, as in the gate;
* floats and decimals become float64 and are written with ``repr``, so a
  last-digit difference or a ``-0.0`` against ``0.0`` is a mismatch;
* timestamps become naive UTC microsecond text, dates ISO text;
* bytes become hex, arrays and structs their element-wise text.

The hash is the sum modulo 2**64 of a 64-bit BLAKE2b digest per row, which
does not depend on row order and keeps duplicate rows apart.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
from collections.abc import Iterable, Sequence

_MASK = (1 << 64) - 1


def canon(v) -> str:
    """One cell as type-tagged text; equal cells from Spark and DuckDB give
    equal text."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "N" if math.isnan(f) else f"f{f!r}"
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return "t" + v.isoformat(timespec="microseconds")
    if isinstance(v, _dt.date):
        return "d" + v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon(k)}:{canon(x)}" for k, x in v.items()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    # numpy scalars and anything else exposing a Python value
    item = getattr(v, "item", None)
    if callable(item):
        return canon(item())
    raise TypeError(f"cannot fingerprint a {type(v).__name__} cell")


def fingerprint(columns: Sequence[str], rows: Iterable[Sequence]) -> dict:
    """Fingerprint a result given its column names and its rows (tuples,
    Spark ``Row``s or DuckDB ``fetchall`` tuples)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for row in rows:
        text = "\x1f".join(canon(row[i]) for i in order)
        digest = hashlib.blake2b(text.encode("utf-8", "surrogatepass"), digest_size=8)
        total = (total + int.from_bytes(digest.digest(), "little")) & _MASK
        n += 1
    return {"rows": n, "columns": [columns[i] for i in order], "hash": f"{total:016x}"}


def mismatch(got: dict, want: dict) -> str | None:
    """Why ``got`` does not match ``want``, or None when they match."""
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != {want['rows']}"
    if got["hash"] != want["hash"]:
        return f"value hash {got['hash']} != {want['hash']}"
    return None
