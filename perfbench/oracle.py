"""Output checks: each dumped key result against its DuckDB oracle.

The oracle SQL (SparkEntry.oracleSql, passed through result.json) runs in
DuckDB over the same fixture tables; its answer is cached per scale and
SQL text under perfbench/.cache/oracle, since the tables never change.
The compare is the one of tools/check_oracle.py, whose `canon` and table
list this module imports: columns sorted by name, rows sorted, values
compared as text. As there, a dtype difference between equal values is a
warning, not a failure.
"""
import glob
import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import TABLES, canon  # noqa: E402


def expected(sql: str, scale: str, data_dir: str, cache: str) -> pd.DataFrame:
    path = os.path.join(cache, "oracle", scale,
                        hashlib.sha256(sql.encode()).hexdigest()[:24] + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{os.path.join(cache, 'duckdb_spill')}'")
        con.execute("SET memory_limit='2GB'")
        con.execute("SET threads=4")
        con.execute("SET preserve_insertion_order=false")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        df = con.execute(sql).df()
    finally:
        con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def compare(spark_df: pd.DataFrame, duck_df: pd.DataFrame):
    """(failure, warning): each None or a one-line reason."""
    a, b = canon(spark_df), canon(duck_df)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}", None
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}", None
    a2 = a.astype({c: str for c in a.columns})
    b2 = b.astype({c: str for c in b.columns})
    neq = (a2 != b2).any(axis=1)
    if neq.any():
        i = neq.idxmax()
        return (f"{int(neq.sum())}/{len(a)} rows differ; "
                f"first spark={a.iloc[i].to_dict()} duck={b.iloc[i].to_dict()}"), None
    dtypes = [(c, str(a[c].dtype), str(b[c].dtype))
              for c in a.columns if str(a[c].dtype) != str(b[c].dtype)]
    return None, (f"values match, dtypes differ {dtypes}" if dtypes else None)


def check(res: dict, run_dir: str, fixtures: str, cache: str, failures: list) -> list:
    """Check every dumped key; append failures; return the mismatching keys."""
    bad = []
    for key, scale in res["checks"].items():
        files = glob.glob(os.path.join(run_dir, "out", scale, key, "*.parquet"))
        spark_df = pd.concat([pd.read_parquet(f) for f in files]) if files else None
        sql = res["oracles"].get(key)
        warn = None
        try:
            if spark_df is None:
                why = "no output"
            elif sql is None:
                # sketch keys (no exact oracle): the rows-only check
                why = None if len(spark_df) > 0 else "no rows"
            else:
                why, warn = compare(spark_df, expected(sql, scale, os.path.join(fixtures, scale), cache))
        except Exception as e:  # noqa: BLE001 - any oracle error fails the key
            why = f"{type(e).__name__}: {e}"
        if warn:
            print(f"WARN {key}: {warn}", file=sys.stderr)
        if why:
            bad.append(key)
            failures.append(f"{key}: output check failed: {why[:300]}")
    return bad
