"""Pinned oracle answers for the operator catalog.

The DuckDB oracles for the catalog list take about as long as the
catalog itself, so their answers over the benchmark's fixed catalog
tables are computed once (``pin_oracles.py``) and stored as JSON.
Values are tagged where JSON has no type of their own, so a decoded
answer compares exactly like the DuckDB result it came from, under
the ``tests/parity.py`` rules (columns matched by name, rows sorted,
floats equal within ``REL_TOL``).
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

from tests.parity import _norm_cell, _rows_close, _sort_key


def _enc(v):
    if isinstance(v, Decimal):
        return {"$dec": str(v)}
    if isinstance(v, dt.datetime):
        return {"$ts": v.isoformat()}
    if isinstance(v, dt.date):
        return {"$date": v.isoformat()}
    if isinstance(v, (list, tuple)):
        return [_enc(x) for x in v]
    if isinstance(v, dict):
        return {"$map": [[_enc(k), _enc(x)] for k, x in v.items()]}
    if isinstance(v, bytes):
        return {"$hex": v.hex()}
    return v


def _dec(v):
    if isinstance(v, list):
        return tuple(_dec(x) for x in v)
    if isinstance(v, dict):
        (tag, x), = v.items()
        if tag == "$dec":
            return Decimal(x)
        if tag == "$ts":
            return dt.datetime.fromisoformat(x)
        if tag == "$date":
            return dt.date.fromisoformat(x)
        if tag == "$hex":
            return bytes.fromhex(x)
        return {_dec(k): _dec(y) for k, y in x}
    return v


def normalize(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, cells normalized, rows sorted."""
    idx = [cols.index(c) for c in sorted(cols)]
    norm = [tuple(_norm_cell(r[i]) for i in idx) for r in rows]
    return sorted(cols), sorted(norm, key=_sort_key)


def pin(cols: list[str], rows) -> dict:
    cols, rows = normalize(cols, rows)
    return {"cols": cols, "rows": [_enc(list(r)) for r in rows]}


def mismatch(cols: list[str], rows, pinned: dict) -> str | None:
    """None when the result equals the pinned answer, else why not."""
    cols, rows = normalize(cols, rows)
    want = sorted((_dec(r) for r in pinned["rows"]), key=_sort_key)
    if cols != pinned["cols"]:
        return f"columns {cols} != {pinned['cols']}"
    if len(rows) != len(want):
        return f"{len(rows)} rows != {len(want)}"
    for got, exp in zip(rows, want):
        if got != exp and not _rows_close(got, exp):
            return f"row {got!r} != {exp!r}"
    return None
