"""DuckDB oracle check for the corpus workloads.

Each declared query's rows (written by the harness as parquet) are
compared with its oracle SQL run by DuckDB on the same fixture. Both
sides are hashed the way the project's correctness gate does it
(tools/check.py): columns sorted by name, rows sorted over all columns,
cells canonicalized with their dtype, then md5.
"""
import hashlib
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NULL" if math.isnan(f) else repr(round(f, 9))
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if v is pd.NaT:
        return "NULL"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def digest(df):
    cols = sorted(df.columns)
    df = df[cols]
    if len(df):
        df = df.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    h = hashlib.md5()
    for c in cols:
        for v in df[c].tolist():
            h.update(canon_cell(v).encode())
            h.update(b"\x1f")
        h.update(b"\x1e")
    return cols, h.hexdigest(), len(df)


def check(fixture, results, names):
    """One entry per name: None when it matches, else a failure record."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(fixture, t)}.parquet')")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = []
    for name in names:
        why = None
        if name not in oracle:
            why = "no oracle SQL declared"
        else:
            try:
                got = digest(con.execute("SELECT * FROM read_parquet("
                                         f"'{os.path.join(results, name)}/*.parquet')").df())
                want = digest(con.execute(oracle[name]).df())
                if got != want:
                    why = (f"rows differ from the DuckDB oracle: spark {got[0]} {got[2]} rows, "
                           f"oracle {want[0]} {want[2]} rows")
            except Exception as e:  # a result that cannot be compared is wrong
                why = f"{type(e).__name__}: {str(e)[:300]}"
        out.append(None if why is None else
                   {"op": name, "class": "WrongResult", "message": why})
    con.close()
    return out
