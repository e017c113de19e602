"""DuckDB oracle for the query_floor workload.

Each query's Spark result (parquet) must equal its declared DuckDB oracle
SQL run over the same input tables: same column names, same row count and
the same hash of all values, normalised as the repo's correctness gate
(tools/check.py) does it: columns sorted by name, every cell stringified
deterministically, rows sorted.
"""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _cell(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)) or str(type(v)).endswith("ndarray'>"):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def normalise(df):
    df = df.reindex(sorted(df.columns), axis=1)
    s = df.apply(lambda col: col.map(_cell))
    return s.sort_values(by=list(s.columns)).reset_index(drop=True)


def digest(df):
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update(("\x1f".join(row) + "\x1e").encode())
    return h.hexdigest()[:16]


def check(tables_dir, results_dir):
    """Return {query: (ok, result_rows, message)} for every query in
    results_dir/oracle_sql.json."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables_dir, t)}.parquet')")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    out = {}
    for name, sql in sorted(oracles.items()):
        try:
            files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
            spark_df = pd.concat([pd.read_parquet(f) for f in files]) if files else None
            duck_df = con.execute(sql).fetchdf()
            if spark_df is None:
                out[name] = (False, 0, "no spark output")
                continue
            a, b = normalise(spark_df), normalise(duck_df)
            if list(a.columns) != list(b.columns):
                out[name] = (False, len(a), f"columns {list(a.columns)} != {list(b.columns)}")
            elif len(a) != len(b):
                out[name] = (False, len(a), f"rows {len(a)} != {len(b)}")
            elif digest(a) != digest(b):
                out[name] = (False, len(a), "hash mismatch")
            else:
                out[name] = (True, len(a), "")
        except Exception as e:  # a broken query is a failed check, not a crash
            out[name] = (False, 0, f"{type(e).__name__}: {str(e)[:200]}")
    con.close()
    return out
