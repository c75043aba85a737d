"""DuckDB oracle gate for `ops_batch`: each query's materialized Spark result
must equal the DuckDB result of the query's oracle SQL over the same tables,
as a multiset of rows (columns by name, exact for integers and strings,
1e-9 relative for floats)."""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd

from tables import FULL


def normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_numeric_dtype(df[c]) and not pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def differs(a, b):
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs oracle {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows vs oracle {len(b)}"
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x) and pd.api.types.is_float_dtype(y):
            if not x.isna().equals(y.isna()):
                return f"nulls differ in {c}"
            if not np.isclose(x.fillna(0), y.fillna(0), rtol=1e-9, atol=1e-9).all():
                return f"values differ in {c}"
        elif not x.astype(str).equals(y.astype(str)):
            return f"values differ in {c}"
    return None


def check(work):
    """Returns one message per query whose result differs from the oracle."""
    with open(os.path.join(work, "oracle.json")) as f:
        sqls = json.load(f)
    con = duckdb.connect()
    for t in FULL:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(work, 'data', t + '.parquet')}')")
    errors = []
    for q, sql in sqls.items():
        files = sorted(glob.glob(os.path.join(work, "results", q, "*.parquet")))
        if not files:
            errors.append(f"{q}: no Spark result")
            continue
        ours = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        why = differs(normalize(ours), normalize(con.execute(sql).df()))
        if why:
            errors.append(f"{q}: {why}")
        else:
            print(f"oracle {q}: {len(ours)} rows match")
    return errors
