"""Output checks: DuckDB reference results and per-call result hashes.

Two comparisons, both order-insensitive:

- ``canonical_rows`` compares a Spark result with DuckDB's once per query at
  set-up. Integer widths are ignored and floats are rounded to 9
  significant digits, because DuckDB and Spark sum doubles in different
  orders.
- ``result_hash`` fingerprints a pandas result cheaply (vectorised row hashes
  summed), so every timed call can be checked against the first call's
  result without slowing the loop.
"""

from __future__ import annotations

import datetime
import math
import os

import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def duckdb_connection(sf_dir: str, threads: int):
    """DuckDB with one view per fixture table, named as the oracles expect."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon(v):
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        return float(f"{f:.9g}")
    if isinstance(v, (datetime.datetime, datetime.date)):  # pd.Timestamp too
        return v.replace(tzinfo=None).isoformat() if isinstance(v, datetime.datetime) else v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def canonical_rows(pdf: pd.DataFrame) -> list[tuple]:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    pdf = pdf.astype(object).where(pd.notna(pdf), None)
    return sorted((tuple(_canon(v) for v in row) for row in pdf.itertuples(index=False)), key=repr)


def same_result(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str | None:
    """None when both frames hold the same multiset of rows, else a reason."""
    if len(spark_pdf) != len(duck_pdf):
        return f"rows spark={len(spark_pdf)} duckdb={len(duck_pdf)}"
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return f"columns spark={sorted(spark_pdf.columns)} duckdb={sorted(duck_pdf.columns)}"
    a, b = canonical_rows(spark_pdf), canonical_rows(duck_pdf)
    for x, y in zip(a, b):
        if x != y:
            return f"first differing row spark={x} duckdb={y}"
    return None


def result_hash(pdf: pd.DataFrame) -> tuple[int, int]:
    """(row count, order-insensitive content hash) of a collected result."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    cols = {}
    for c in pdf.columns:
        s = pdf[c]
        if s.dtype == object:
            s = s.map(lambda v: repr(_canon(v)))
        cols[c] = s
    h = pd.util.hash_pandas_object(pd.DataFrame(cols), index=False)
    return len(pdf), int(h.to_numpy(dtype=np.uint64).sum(dtype=np.uint64))
