"""Correctness reference: each op's ``oracle_sql()`` run on DuckDB over the
same generated parquet, cached per (workload, seed, size) under the
benchmark's work directory, then compared with the Spark result as
unordered rows: same columns, same row count, and after sorting both the
same way, equal values, floats to a relative 1e-9.

Floats are compared with a tolerance, not by their 9-digit rendering:
the two engines add in different orders, so a sum can differ in its last
bit, and on fresh random inputs some value then lands on a rounding
boundary of the 9th digit every few runs."""

from __future__ import annotations

import hashlib
import os
import threading

import numpy as np
import pandas as pd

TABLES = ("lineitem", "documents", "embeddings")
RTOL = 1e-9
ATOL = 1e-12
ORACLE_TIMEOUT_S = 120.0


def _keys(df: pd.DataFrame) -> pd.DataFrame:
    """Sortable stand-ins for the columns: numbers as floats (integral
    values exact, others to 6 significant digits so last-bit differences
    do not reorder rows), everything else as text."""
    out = {}
    for c in df.columns:
        col = df[c]
        if col.dtype.kind in "iufb":
            v = col.to_numpy(float)
            with np.errstate(divide="ignore", invalid="ignore"):
                mag = np.where(np.isfinite(v) & (v != 0),
                               10.0 ** (5 - np.floor(np.log10(np.abs(v)))), 1.0)
                out[c] = np.where(v == np.round(v), v, np.round(v * mag) / mag)
        elif col.dtype.kind == "M":
            out[c] = col.astype("datetime64[us]").astype(str).to_numpy()
        else:
            out[c] = col.map(str).to_numpy()
    return pd.DataFrame(out)


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)
    order = _keys(df).sort_values(by=list(df.columns), kind="mergesort").index
    return df.loc[order].reset_index(drop=True)


def same(got: pd.DataFrame, ref: pd.DataFrame) -> bool:
    """True when ``got`` and ``ref`` hold the same rows in any order."""
    if sorted(got.columns) != sorted(ref.columns) or len(got) != len(ref):
        return False
    a, b = _sorted(got), _sorted(ref)
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype.kind in "iufb" and y.dtype.kind in "iufb":
            if not np.allclose(x.to_numpy(float), y.to_numpy(float),
                               rtol=RTOL, atol=ATOL, equal_nan=True):
                return False
        elif x.dtype.kind == "M" or y.dtype.kind == "M":
            if not (x.astype("datetime64[us]") == y.astype("datetime64[us]")).all():
                return False
        elif not (x.map(str) == y.map(str)).all():
            return False
    return True


def reference(data_dir: str, cache_dir: str, name: str, sql: str) -> pd.DataFrame:
    """Oracle result for ``name`` on ``data_dir``; computed once and kept
    as parquet in ``cache_dir``, under a name that carries a hash of
    ``sql`` so a changed oracle is run afresh. Raises TimeoutError when
    DuckDB runs past ``ORACLE_TIMEOUT_S``."""
    sql_sha1 = hashlib.sha1(sql.encode()).hexdigest()[:12]
    path = os.path.join(cache_dir, f"{name}-{sql_sha1}.oracle.parquet")
    if os.path.exists(path):
        return pd.read_parquet(path)
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads={os.cpu_count() or 1}")
        for t in TABLES:
            f = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(f):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
        timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
        timer.start()
        try:
            ref = con.execute(sql).df()
        except duckdb.InterruptException as e:
            raise TimeoutError(f"oracle {name} ran past {ORACLE_TIMEOUT_S:.0f} s") from e
        finally:
            timer.cancel()
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    ref.to_parquet(tmp, index=False)
    os.replace(tmp, path)
    return ref
