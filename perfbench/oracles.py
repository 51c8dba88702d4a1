"""Catalog results in order-insensitive form, and their DuckDB oracles.

    python3 perfbench/oracles.py <data_dir> <entry>...

prints, as one JSON object, every named entry's canonical oracle result
over the parquet tables in ``data_dir``. The benchmark runs this as a
child process so that DuckDB's memory never lands in the Python process,
whose peak RSS is measured.
"""

from __future__ import annotations

import json
import math
import os
import sys

import numpy as np


def _canon_value(v):
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, (list, tuple)):
        return tuple(_canon_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon_value(x)) for k, x in v.items()))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if type(v).__name__ == "Decimal":
        return float(v)
    if isinstance(v, np.generic):
        return v.item()
    return v


def _sort_key(row):
    return tuple(
        (0, "") if x is None else (1, f"{x:.6g}") if isinstance(x, float) else (2, repr(x))
        for x in row
    )


def canonical_rows(table) -> list[tuple]:
    """Order-insensitive form of an Arrow table: columns by name, rows
    sorted (floats ordered on 6 significant digits)."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    rows = [tuple(_canon_value(v) for v in r) for r in zip(*data)] if cols else []
    return sorted(rows, key=_sort_key)


def digest(rows: list[tuple]) -> int:
    return hash(tuple(
        tuple(f"{x:.9g}" if isinstance(x, float) else x for x in r) for r in rows
    ))


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is None and b is None
        return abs(float(a) - float(b)) <= 1e-6 * max(1.0, abs(float(a)), abs(float(b)))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def rows_match(got: list[tuple], want: list[tuple]) -> bool:
    return len(got) == len(want) and all(_close(g, w) for g, w in zip(got, want))


def oracle_rows(data_dir: str, entries) -> dict[str, list[tuple]]:
    """Canonical DuckDB oracle results of ``entries`` over ``data_dir``."""
    import duckdb

    from graphdatabases_spark.relational import oracle_sql
    from graphdatabases_spark.relational.catalog import TABLES

    sql = oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {e: canonical_rows(con.execute(sql[e]).arrow()) for e in entries if e in sql}
    finally:
        con.close()


def _tuples(v):
    return tuple(_tuples(x) for x in v) if isinstance(v, list) else v


def oracle_rows_subprocess(data_dir: str, entries) -> dict[str, list[tuple]]:
    import subprocess

    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), data_dir, *entries],
        capture_output=True, text=True, check=True, timeout=600,
    )
    return {e: [_tuples(r) for r in rows] for e, rows in json.loads(out.stdout).items()}


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    print(json.dumps(oracle_rows(sys.argv[1], sys.argv[2:])))
