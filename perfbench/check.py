"""Output checks. Every timed operation's output is checked after the timed
phase; an operation that raised or whose output does not match counts as
failed."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math

import pyarrow.parquet as pq

from gen import HEADERS, column_digest


def check_single_file(path: str, digest: str, n_rows: int, batch_size: int) -> str | None:
    """None when the converted file holds exactly the generated rows, in
    order, in row groups of ``batch_size`` rows (the last may be short);
    otherwise a one-line reason."""
    meta = pq.ParquetFile(path).metadata
    if meta.num_rows != n_rows:
        return f"{meta.num_rows} rows, expected {n_rows}"
    sizes = [meta.row_group(i).num_rows for i in range(meta.num_row_groups)]
    if any(s != batch_size for s in sizes[:-1]) or not 0 < sizes[-1] <= batch_size:
        return f"row groups {sizes[:3]}..{sizes[-1:]} are not {batch_size}-row groups"
    table = pq.read_table(path)
    if table.column_names != HEADERS:
        return f"columns {table.column_names}"
    if column_digest(table.columns) != digest:
        return "row digest mismatch"
    return None


def norm(v):
    """Engine-neutral value form (as in the repository's oracle parity
    test): NaN as text, naive ISO datetimes, hex bytes, tuples for lists,
    canonical text for decimals."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return format(v.normalize(), "f")
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def _sort_key(row):
    return tuple((1, "") if v is None else (0, v) for v in row)


def canonical_rows(cols: list[str], rows) -> list[tuple]:
    """Rows as tuples over ``sorted(cols)``, normalized and sorted."""
    order = sorted(cols)
    idx = [cols.index(c) for c in order]
    return sorted((tuple(norm(r[i]) for i in idx) for r in rows), key=_sort_key)


def read_result(directory: str) -> tuple[list[str], list[tuple]]:
    table = pq.read_table(directory)
    cols = table.column_names
    rows = zip(*(table.column(c).to_pylist() for c in cols)) if cols else []
    return cols, canonical_rows(cols, rows)


def rows_digest(rows: list[tuple]) -> str:
    return hashlib.sha256(json.dumps(rows, default=str).encode()).hexdigest()


def check_query(directory: str, expect: dict) -> str | None:
    """Compare a written query result with the expectation: either oracle
    rows (``{"cols", "rows"}``) or a rows-only pin (``{"n", "digest"}``)."""
    cols, rows = read_result(directory)
    if "digest" in expect:
        if len(rows) != expect["n"]:
            return f"{len(rows)} rows, pinned {expect['n']}"
        if rows_digest(rows) != expect["digest"]:
            return "row digest differs from the pin"
        return None
    if sorted(cols) != sorted(expect["cols"]):
        return f"columns {sorted(cols)} != oracle {sorted(expect['cols'])}"
    want = expect["rows"]
    if len(rows) != len(want):
        return f"{len(rows)} rows, oracle {len(want)}"
    for i, (a, b) in enumerate(zip(rows, want)):
        if a != b:
            return f"row {i} differs: {a!r} != {b!r}"
    return None
