"""DuckDB oracle digests for the registered queries.

The canonical form is the one the repository's oracle-parity test
compares (sorted column names, object columns as ``str``, rows sorted by
every column); the digest hashes that form together with each column's
dtype class, so a float column on one engine and an int column on the
other differ, as they do for the correctness driver's exact hash.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def digest(df: pd.DataFrame) -> str:
    df = canon(df)
    h = hashlib.sha256(str(len(df)).encode())
    for c in df.columns:
        v = df[c].to_numpy()
        if np.issubdtype(v.dtype, np.floating):
            kind, data = "f", v.astype(np.float64)
            data = np.where(data == 0, 0.0, data)  # -0.0 == 0.0
        elif np.issubdtype(v.dtype, np.integer) or v.dtype == bool:
            kind, data = "i", v.astype(np.int64)
        elif np.issubdtype(v.dtype, np.datetime64):
            kind, data = "t", v.astype("datetime64[us]").astype(np.int64)
        else:
            kind, data = "s", None
        h.update(f"|{c}:{kind}|".encode())
        if data is not None:
            h.update(np.ascontiguousarray(data).tobytes())
        else:
            h.update("\x1f".join(map(str, v)).encode())
    return h.hexdigest()


def oracle_digests(sf_dir: str, sqls: dict) -> dict:
    """``{name: digest}`` of each oracle query run by DuckDB over the
    parquet tables under ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{sf_dir}/{t}.parquet'")
        return {n: digest(con.execute(q).fetchdf()) for n, q in sqls.items()}
    finally:
        con.close()
