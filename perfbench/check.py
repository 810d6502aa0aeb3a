"""Output checks, run outside the timed window.

Results are compared as multisets of rows after normalizing each
value; floats compare to a relative 1e-9, since two engines may sum
doubles in different orders.
"""

from __future__ import annotations

import datetime
import math

import pyarrow as pa


def norm(v):
    """One comparable Python value per SQL value."""
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, bool) or v is None or isinstance(v, (int, float, str)):
        return v
    return str(v)


def _sort_key(row: tuple) -> tuple:
    # None sorts first; floats by 6 significant digits, so last-digit
    # summation noise cannot reorder rows
    return tuple(
        (0, "") if v is None else (1, f"{v:.6g}") if isinstance(v, float) else (1, str(v))
        for v in row
    )


def canon_rows(rows) -> list[tuple]:
    return sorted((tuple(norm(v) for v in r) for r in rows), key=_sort_key)


def text_parsers(schema: pa.Schema) -> list:
    """Per-column parsers from pg text format back to Python values."""
    out = []
    for f in schema:
        if pa.types.is_floating(f.type):
            out.append(float)
        elif pa.types.is_integer(f.type):
            out.append(int)
        else:
            out.append(str)
    return out


def canon_text_rows(rows, parsers) -> list[tuple]:
    return canon_rows(
        tuple(None if v is None else p(v) for p, v in zip(parsers, r)) for r in rows
    )


def table_rows(tbl: pa.Table) -> list[tuple]:
    cols = [c.to_pylist() for c in tbl.columns]
    return list(zip(*cols))


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        numbers = (int, float)
        if isinstance(a, numbers) and isinstance(b, numbers):
            return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def diff_message(got: list[tuple], want: list[tuple]) -> str | None:
    """None when the canonical row lists agree (floats to a relative
    1e-9), else a one-line description of the first mismatch."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for g, w in zip(got, want):
        if len(g) != len(w) or not all(_same(a, b) for a, b in zip(g, w)):
            return f"row {g} != expected {w}"
    return None
