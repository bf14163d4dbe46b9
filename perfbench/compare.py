"""Order-insensitive result comparison, independent of the program.

Both sides are reduced to (column names, rows of plain Python values).
Rows are compared as multisets: order does not matter, but every row
must appear exactly as often on both sides. Numbers compare by value
(an int64 patched to float64 equals the int it came from) within a
relative tolerance of 1e-9; timestamps compare as naive UTC.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math

REL_TOL = 1e-9


def _norm(v):
    if v is None:
        return ("0",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, (int, float, decimal.Decimal)) or type(v).__module__ == "numpy":
        f = float(v)
        return ("n", "nan") if math.isnan(f) else ("n", f)
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return ("t", v.isoformat())
    if isinstance(v, dt.date):
        return ("t", dt.datetime(v.year, v.month, v.day).isoformat())
    if isinstance(v, (bytes, bytearray)):
        return ("y", bytes(v).hex())
    if isinstance(v, dict):
        return ("d", tuple(sorted((k, _norm(x)) for k, x in v.items())))
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_norm(x) for x in v))
    return ("r", repr(v))


def _sort_key(nv):
    """Sort key with floats rounded, so near-equal values sort alike."""
    if nv[0] == "n" and nv[1] != "nan":
        return ("n", float(f"{nv[1]:.9g}"))
    if nv[0] in ("l", "d"):
        return (nv[0], tuple(_sort_key(x) for x in nv[1]))
    return nv


def _same(a, b) -> bool:
    if a[0] != b[0]:
        return False
    if a[0] == "n" and a[1] != "nan" and b[1] != "nan":
        return math.isclose(a[1], b[1], rel_tol=REL_TOL, abs_tol=1e-12)
    if a[0] in ("l", "d"):
        return len(a[1]) == len(b[1]) and all(_same(x, y) for x, y in zip(a[1], b[1]))
    return a == b


def canon(rows) -> list[tuple]:
    out = [tuple(_norm(v) for v in r) for r in rows]
    out.sort(key=lambda r: tuple(_sort_key(v) for v in r))
    return out


def diff(got_cols, got_rows, want_cols, want_rows) -> str | None:
    """None when equal, else a one-line description of the first
    difference."""
    if [c.lower() for c in got_cols] != [c.lower() for c in want_cols]:
        return f"columns {list(got_cols)} != {list(want_cols)}"
    got, want = canon(got_rows), canon(want_rows)
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)} rows"
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(_same(x, y) for x, y in zip(g, w)):
            return f"row {i}: {g!r} != {w!r}"[:400]
    return None


def diff_tables(got, want) -> str | None:
    """diff() for two pyarrow Tables. Equal tables whose column types
    agree, but for integers against float64 (the int64 result patch), are
    confirmed by a columnar sort-and-compare; anything else goes through
    diff(), which tells strings, numbers and times apart."""
    import pyarrow as pa

    def castable(g, w):
        return g == w or (pa.types.is_integer(g) and pa.types.is_float64(w))

    if list(got.schema.names) == list(want.schema.names) and all(
        castable(g.type, w.type) for g, w in zip(got.schema, want.schema)
    ):
        try:
            keys = [(n, "ascending") for n in want.schema.names]
            g = got.cast(want.schema).sort_by(keys)
            if g.equals(want.sort_by(keys)):
                return None
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError, pa.ArrowTypeError):
            pass
    return diff(*arrow_rows(got), *arrow_rows(want))


def arrow_rows(table) -> tuple[list[str], list[tuple]]:
    """(names, rows) of a pyarrow Table or RecordBatch."""
    cols = [c.to_pylist() for c in table.columns]
    return list(table.schema.names), list(zip(*cols)) if cols else []


def patch_bigint(table):
    """The program's documented result patch: int64/uint64 columns are
    returned as float64 unless emitBigInt is set. Applied to the DuckDB
    side so both sides carry the same value types."""
    import pyarrow as pa

    fields = [
        pa.field(f.name, pa.float64(), f.nullable)
        if pa.types.is_int64(f.type) or pa.types.is_uint64(f.type)
        else f
        for f in table.schema
    ]
    return table.cast(pa.schema(fields))
