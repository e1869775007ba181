"""Result checking against DuckDB, run outside every timed window.

``same_rows`` compares two result sets as multisets of rows with
columns matched by name: exact for integers, strings, dates and
booleans, and to a relative tolerance of 1e-9 for floating point (Spark
and DuckDB sum in different orders). Rows are aligned by sorting on
their non-float cells first, then on floats rounded to 6 significant
digits.
"""

from __future__ import annotations

import math
import os
from datetime import date, datetime
from decimal import Decimal

REL_TOL = 1e-9
ABS_TOL = 1e-9


def _cell(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, float) and v.is_integer() and abs(v) < 2**53:
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    return v


def _sort_key(row):
    exact = tuple(("~" if isinstance(v, float) else repr(v)) for v in row)
    approx = tuple(float(f"{v:.6g}") if isinstance(v, float) and not math.isnan(v)
                   else 0.0 for v in row)
    return exact, approx


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if not all(isinstance(x, (int, float)) and not isinstance(x, bool)
                   for x in (a, b)):
            return False
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def canonical(rows, columns: list[str]) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort(key=_sort_key)
    return out


def same_rows(a_rows, a_cols, b_rows, b_cols) -> tuple[bool, str]:
    if sorted(a_cols) != sorted(b_cols):
        return False, f"columns differ: {sorted(a_cols)} vs {sorted(b_cols)}"
    if len(a_rows) != len(b_rows):
        return False, f"row counts differ: {len(a_rows)} vs {len(b_rows)}"
    a = canonical(a_rows, list(a_cols))
    b = canonical(b_rows, list(b_cols))
    for x, y in zip(a, b):
        if not _close(x, y):
            return False, f"first differing row: {x} vs {y}"
    return True, f"{len(a)} rows"


def duck(tables: dict[str, str], work: str):
    """A DuckDB connection with one view per parquet file."""
    import duckdb

    con = duckdb.connect()
    # the JVM is idle while outputs are checked
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duck_tmp')}'")
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def duck_rows(con, sql: str) -> tuple[list[tuple], list[str]]:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return res.fetchall(), cols
