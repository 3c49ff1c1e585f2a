"""Correctness gate, run outside the timed passes.

* A query key's output is compared with its ``queries.ORACLE`` DuckDB
  SQL on the same generated inputs: column names, row count, and an
  order-insensitive, multiplicity-sensitive hash of the values.
* A sorted int file is compared, part file by part file in filename
  order, with a numpy sort of the input values.
"""

from __future__ import annotations

import datetime
import decimal
import glob
import hashlib
import math
import os

import numpy as np

_MASK = (1 << 64) - 1


def canon(v) -> str:
    """Engine-neutral text form of one value.  Integers print exactly;
    other numbers print with 10 significant digits, so an int64 and a
    float holding the same integral value agree."""
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "NaN" if math.isnan(f) else format(f, ".10g")
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def digest(cols: list[str], rows) -> tuple[int, str]:
    """``(row count, hash)`` with columns taken in name order and rows
    in any order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total, n = 0, 0
    for r in rows:
        text = "\x1f".join(canon(r[i]) for i in order)
        h = hashlib.blake2b(text.encode(), digest_size=8).digest()
        total = (total + int.from_bytes(h, "little")) & _MASK
        n += 1
    return n, f"{total:016x}"


def compare(got_cols, got_rows, want_cols, want_rows) -> str | None:
    """None when equal, else what differs."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != oracle {sorted(want_cols)}"
    got, want = digest(got_cols, got_rows), digest(want_cols, want_rows)
    if got[0] != want[0]:
        return f"rows {got[0]} != oracle {want[0]}"
    if got[1] != want[1]:
        return f"value hash {got[1]} != oracle {want[1]}"
    return None


def oracle(sql: str, data_dir: str) -> tuple[list[str], list[tuple]]:
    """Run ``sql`` in DuckDB over every parquet table in ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            name = os.path.basename(path).removesuffix(".parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()


def check_query(df, sql: str, data_dir: str) -> str | None:
    rows = df.collect()
    return compare(df.columns, rows, *oracle(sql, data_dir))


def read_ints(path: str) -> np.ndarray:
    with open(path) as f:
        return np.array(f.read().split(), dtype=np.int64)


def read_sorted_output(out_dir: str) -> np.ndarray:
    """All values of the part files, concatenated in filename order."""
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*")))
    if not parts:
        return np.zeros(0, np.int64)
    return np.concatenate([read_ints(p) for p in parts])


def check_sorted(got: np.ndarray, values: np.ndarray) -> str | None:
    want = np.sort(values.astype(np.int64))
    if got.size != want.size:
        return f"values {got.size} != input {want.size}"
    bad = np.flatnonzero(got != want)
    if bad.size:
        i = int(bad[0])
        return f"first mismatch at {i}: {got[i]} != {want[i]}"
    return None
