"""Correctness checks, run once per benchmark run outside the timed region.

* catalog operations: the Spark result against the query's DuckDB oracle
  SQL over the same parquet files (row multiset, floats at 10 significant
  digits, column names ignoring order);
* merged raw tables: against DuckDB's recomputation of
  ``target anti-join batch ∪ batch``, plus primary-key uniqueness;
* marts: row count and order-independent digest against ``pins.json``.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
from pathlib import Path


def norm_cell(v, digits: int = 10) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        v = float(f"{v:.{digits}g}")
        return str(int(v)) if v == int(v) and abs(v) < 1e15 else f"{v:.{digits}g}"
    if isinstance(v, (dt.datetime, dt.date)):
        if isinstance(v, dt.datetime) and v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x, digits) for x in v) + "]"
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return norm_cell(v.tolist(), digits)
    return str(v)


def normalize(cols: list[str], rows, digits: int = 10) -> tuple[list[str], list[tuple]]:
    """Columns in name order and rows as sorted tuples of normalized cells."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm_cell(r[i], digits) for i in order) for r in rows)
    return [cols[i] for i in order], out


def compare(spark_cols, spark_rows, duck_cols, duck_rows) -> str:
    """'' when equal, else a one-line reason."""
    sc, sr = normalize(spark_cols, spark_rows)
    dc, dr = normalize(duck_cols, duck_rows)
    if sc != dc:
        return f"columns differ: {sc} vs {dc}"
    if len(sr) != len(dr):
        return f"row count {len(sr)} vs oracle {len(dr)}"
    if sr != dr:
        bad = next(i for i, (a, b) in enumerate(zip(sr, dr)) if a != b)
        return f"values differ, first at sorted row {bad}: {sr[bad]} vs {dr[bad]}"
    return ""


def _parquet_src(path: Path) -> str:
    return f"{path}/*.parquet" if path.is_dir() else str(path)


def duck_views(con, table_dir: Path, names) -> None:
    for name in names:
        src = _parquet_src(table_dir / f"{name}.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{src}')")


def check_catalog_op(spark_df, rows, oracle: tuple[list, list] | None) -> str:
    """``rows`` collected from ``spark_df`` against the oracle's (columns,
    rows); a query without oracle SQL (no SQL engine states its values)
    must return rows."""
    if oracle is None:
        return "" if rows else "no rows"
    return compare(spark_df.columns, rows, *oracle)


def snapshot(con, path: Path):
    """The table's current contents as an Arrow table (read before a merge
    replaces the files)."""
    return con.execute(f"SELECT * FROM read_parquet('{_parquet_src(path)}')").arrow()


def check_merge(con, before, batch_path: Path, after_path: Path, key: str) -> str:
    """The merged table must equal ``before anti-join batch ∪ batch`` and be
    unique on ``key``."""
    con.register("merge_before", before)
    cols = ", ".join(f'"{f.name}"' for f in before.schema)
    expected = con.execute(
        f"SELECT {cols} FROM merge_before WHERE \"{key}\" NOT IN "
        f"(SELECT \"{key}\" FROM read_parquet('{batch_path}')) "
        f"UNION ALL SELECT {cols} FROM read_parquet('{batch_path}')"
    ).fetchall()
    cur = con.execute(f"SELECT {cols} FROM read_parquet('{_parquet_src(after_path)}')")
    got = cur.fetchall()
    names = [f.name for f in before.schema]
    con.unregister("merge_before")
    why = compare(names, got, names, expected)
    if why:
        return why
    n, distinct = con.execute(
        f"SELECT count(*), count(DISTINCT \"{key}\") FROM read_parquet('{_parquet_src(after_path)}')"
    ).fetchone()
    return "" if n == distinct else f"{n - distinct} duplicate keys"


def digest(df) -> tuple[int, str]:
    """(row count, sha256 prefix of the sorted normalized rows) — equal for
    any row order; floats at 9 significant digits."""
    cols, rows = normalize(df.columns, df.collect(), digits=9)
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return len(rows), h.hexdigest()[:16]
