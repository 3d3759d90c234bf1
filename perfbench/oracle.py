"""Result fingerprints: row count, column names and dtypes, and an
order-insensitive hash of the rows. The Spark result (the parquet the
check pass wrote) and the DuckDB oracle (`SparkEntry.oracleSql` over the
same generated tables) go through the same code, so equal fingerprints
mean equal results under the same rules as `tools/compare.py`: columns
compared by name, values exactly, rows in any order."""
import glob
import hashlib
import math
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _canon(x)) for k, x in v.items()))
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return 0.0 if v == 0.0 else v
    if isinstance(v, (pd.Timestamp,)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    return v


def fingerprint(df):
    df = df[sorted(df.columns)]
    h = 0
    for row in df.itertuples(index=False, name=None):
        digest = hashlib.blake2b(repr(tuple(_canon(v) for v in row)).encode(), digest_size=8).digest()
        h = (h + int.from_bytes(digest, "little")) % (1 << 64)
    return {"rows": len(df), "columns": list(df.columns),
            "dtypes": [str(t) for t in df.dtypes], "hash": f"{h:016x}"}


def connect(tmp):
    """An in-memory DuckDB that spills, if ever, under `tmp`."""
    os.makedirs(tmp, exist_ok=True)
    return duckdb.connect(config={"temp_directory": tmp, "threads": 2})


def oracle_fingerprints(data_dir, oracle_sql, tmp):
    """Fingerprint of each oracle query over the generated tables; an
    oracle that fails records its error instead."""
    con = connect(tmp)
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            out[name] = fingerprint(con.sql(sql).df())
        except Exception as e:  # noqa: BLE001 -- recorded, never fatal
            out[name] = {"error": str(e)[:300]}
    con.close()
    return out


def result_fingerprint(con, path):
    if not glob.glob(f"{path}/*.parquet"):
        return {"error": "no result written"}
    return fingerprint(con.sql(f"SELECT * FROM '{path}/*.parquet'").df())

