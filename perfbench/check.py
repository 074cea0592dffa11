"""Output checks: the timed checksum action and the canonical comparison.

Both are the benchmark's own copies, so a later change to ``bench.py`` or
``tools/verify_local.py`` cannot move what the benchmark measures or accepts.

- ``checksum_frame``: the ``bench._checksum`` protocol (sum of xxhash64 over
  every output column, map columns as entry arrays) plus a row count, as one
  aggregate frame.
- ``canon_cell`` / ``canon_rows``: the ``tools/verify_local.py``
  canonicalisation. Two results are equal when their sorted column names and
  sorted canonical rows are equal; ``digest`` hashes that pair.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math


def checksum_frame(df):
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = [
        F.map_entries(f.name) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.select(F.xxhash64(*cols).alias("h")).agg(
        F.count(F.lit(1)).alias("rows"), F.sum("h").alias("checksum")
    )


def read_checksum(cf) -> tuple[int, int]:
    row = cf.collect()[0]
    return int(row["rows"]), int(row["checksum"] or 0)


def canon_cell(v) -> str:
    import numpy as np
    import pandas as pd

    if v is None:
        return "NULL"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "NULL"
        if f.is_integer() and abs(f) < 2**53:
            return repr(int(f))
        return repr(f)
    if isinstance(v, (np.bool_, bool)):
        return repr(bool(v))
    if isinstance(v, (np.integer, int)):
        return repr(int(v))
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.isoformat()
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, decimal.Decimal):
        if v.is_finite() and v == v.to_integral_value():
            return repr(int(v))
        return str(v)
    return str(v)


def canon_rows(cols, rows) -> tuple[list[str], list[tuple[str, ...]]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(canon_cell(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def digest(cols, rows) -> str:
    c, r = canon_rows(list(cols), rows)
    h = hashlib.sha256(repr(c).encode())
    for row in r:
        h.update(repr(row).encode())
    return h.hexdigest()[:16]


def spark_digest(df) -> tuple[int, str]:
    rows = df.collect()
    return len(rows), digest(df.columns, rows)


def duck_digest(con, sql: str) -> tuple[int, str]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    return len(rows), digest(cols, rows)


def duck_connect(sf_dir: str):
    """DuckDB with one view per table of ``sf_dir`` (a table may be one
    parquet file or a directory of them)."""
    import os

    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if not f.endswith(".parquet"):
            continue
        p = os.path.join(sf_dir, f)
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{src}')")
    return con
