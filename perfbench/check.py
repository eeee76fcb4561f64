"""Output checks: DuckDB oracle answers and order-insensitive hashes.

A result is reduced to (row count, sorted column names, sha256 of the
sorted rows). Cells are normalised as the repository's local
correctness gate does (``tools/verify_local.py``): NULL and NaN are
one value, floats compare at 6 decimals, a midnight timestamp equals
its date. Integers and integral floats share one form, because DuckDB
returns integer sums as HUGEINT where Spark returns BIGINT.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
import os


def norm_cell(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return f"b:{v}"
    if hasattr(v, "dtype") and hasattr(v, "item"):  # numpy scalar
        return norm_cell(v.item())
    if isinstance(v, (int, float, decimal.Decimal)):
        if isinstance(v, int):
            return f"n:{v}"
        f = float(v)
        if math.isnan(f):
            return "null"
        if f.is_integer() and abs(f) < 2**63:
            return f"n:{int(f)}"
        return f"n:{round(f, 6)}"
    if isinstance(v, (_dt.datetime, _dt.date)):
        if isinstance(v, _dt.datetime) and v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        s = v.isoformat()
        return f"t:{s[:-9] if s.endswith('T00:00:00') else s}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={norm_cell(x)}" for k, x in sorted(v.items())) + "}"
    return f"s:{v}"


def digest(columns: list[str], rows: list) -> tuple[int, tuple, str]:
    """(rows, sorted columns, order-insensitive hash) of a result."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(canon).encode()).hexdigest()[:16]
    return len(rows), tuple(columns[i] for i in order), h


def oracle_digests(data_dir: str, sqls: dict[str, str], tables) -> dict:
    """Run each oracle SQL in DuckDB over the parquet files of
    ``data_dir``; name -> digest, or name -> error string."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, sql in sqls.items():
        try:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[name] = digest(cols, cur.fetchall())
        except Exception as e:  # noqa: BLE001 -- recorded, counted as a failure
            out[name] = f"duckdb error: {type(e).__name__}: {e}"
    con.close()
    return out
