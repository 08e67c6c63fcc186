"""Order-independent result fingerprints: row count plus a hash that sums
one 64-bit hash per row, so row order and partitioning do not matter.

Cells are rendered canonically before hashing: columns sorted by name,
integers of any width as integers, floats by their exact repr, timestamps
in ISO form (a midnight timestamp as its date), lists and maps element by
element. A Spark result (Parquet directory) and a DuckDB result of the
same query fingerprint alike exactly when their values are bit-identical.
"""
import datetime
import decimal
import hashlib

import numpy as np
import pandas as pd

MASK = (1 << 64) - 1


def cell(v):
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        return "NaN" if v != v else repr(float(v))
    if isinstance(v, (np.bool_, bool)):
        return repr(bool(v))
    if isinstance(v, (np.integer, int)):
        return repr(int(v))
    if isinstance(v, np.ndarray):
        return "[" + ",".join(cell(x) for x in v.tolist()) + "]"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{cell(k)}:{cell(x)}" for k, x in
                              sorted(v.items(), key=lambda kv: str(kv[0]))) + "}"
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0) and v.tzinfo is None:
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def of_frame(df: pd.DataFrame) -> dict:
    cols = sorted(df.columns)
    total = 0
    for row in df[cols].itertuples(index=False, name=None):
        text = "\x1f".join(cell(None if _isna(v) else v) for v in row)
        total = (total + int.from_bytes(
            hashlib.blake2b(text.encode(), digest_size=8).digest(), "big")) & MASK
    return {"rows": int(len(df)), "hash": f"{total:016x}"}


def _isna(v):
    try:
        return v is None or v is pd.NaT or (not isinstance(v, (list, dict, np.ndarray))
                                            and bool(pd.isna(v)))
    except (TypeError, ValueError):
        return False


def of_parquet(path: str) -> dict:
    return of_frame(pd.read_parquet(path))


def of_duckdb(sql: str) -> dict:
    import duckdb
    con = duckdb.connect()
    try:
        return of_frame(con.execute(sql).df())
    finally:
        con.close()
