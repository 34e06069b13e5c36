"""Query-result check: each query's Spark output against its DuckDB oracle.

The comparison follows the repository's verify recipe: columns sorted by
name, floats rounded to 6 decimals, rows sorted, then compared for equal
schema (column names), equal row count and equal content.

The oracle's expected results are cached under `cache_dir`, keyed by the
digest of the input tables and the oracle SQL text, so a dataset's
(slow) DuckDB evaluation runs once per checkout.
"""

import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _normalise(df):
    df = df[sorted(df.columns)].round(6)
    if len(df.columns) and len(df):
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def _data_digest(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, t + ".parquet"), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _expected(con, sql, cache_dir, data_digest):
    key = hashlib.sha256((data_digest + "\0" + sql).encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    exp = con.execute(sql).fetchdf()
    os.makedirs(cache_dir, exist_ok=True)
    exp.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return exp


def check_all(data_dir, results_dir, names, cache_dir):
    """Returns {query name: (ok, detail)} for every name in `names`."""
    with open(os.path.join(results_dir, "oracle_sql.json")) as fh:
        sql = json.load(fh)
    digest = _data_digest(data_dir)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    out = {}
    for name in names:
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if name not in sql:
            out[name] = (False, "no oracle SQL")
            continue
        if not files:
            out[name] = (False, "no result files")
            continue
        try:
            got = con.execute("SELECT * FROM read_parquet(?)", [files]).fetchdf()
            exp = _expected(con, sql[name], cache_dir, digest)
        except Exception as e:  # a failing oracle or unreadable result
            out[name] = (False, f"{type(e).__name__}: {e}")
            continue
        if sorted(got.columns) != sorted(exp.columns):
            out[name] = (False, f"columns {sorted(got.columns)} != {sorted(exp.columns)}")
        elif len(got) != len(exp):
            out[name] = (False, f"rows {len(got)} != {len(exp)}")
        elif not _normalise(got).equals(_normalise(exp)):
            out[name] = (False, "content differs")
        else:
            out[name] = (True, f"rows {len(got)}")
    con.close()
    return out
