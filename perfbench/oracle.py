"""Lane output check: each lane's output against its DuckDB oracle SQL
(`SparkEntry.oracleSql`), with the canonical compare of
tools/check_oracle.py: columns sorted by name, rows sorted, exact values.

The compare is kept here rather than imported, so that a change to the
repository's tools cannot change how the benchmark judges outputs.
"""
import json
import os

import duckdb
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def mismatch(exp: pd.DataFrame, got: pd.DataFrame):
    """None when equal, else a one-line cause."""
    if list(exp.columns) != list(got.columns):
        return f"columns {list(got.columns)} != oracle {list(exp.columns)}"
    if exp.shape != got.shape:
        return f"shape {got.shape} != oracle {exp.shape}"
    for c in exp.columns:
        e, g = exp[c], got[c]
        try:
            eq = (e.isna() & g.isna()) | (e == g)
        except Exception:
            eq = e.astype(str) == g.astype(str)
        if not bool(eq.all()):
            i = (~eq).idxmax()
            return f"value mismatch in {c} (row {i}: got={g[i]!r} exp={e[i]!r})"
    return None


def compare_all(data_dir: str, out_dir: str, oracle_json: str) -> dict:
    """{lane: cause} for every lane whose output differs from its oracle."""
    with open(oracle_json) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for fn in sorted(os.listdir(data_dir)):
        if fn.endswith(".parquet"):
            con.execute(f"CREATE VIEW {fn[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(data_dir, fn)}'")
    bad = {}
    for name, sql in sorted(oracle.items()):
        dump = os.path.join(out_dir, name)
        if not os.path.isdir(dump):
            continue  # the lane raised; its error is reported already
        try:
            exp = canon(con.execute(sql).df())
        except Exception as e:
            bad[name] = f"oracle SQL error: {e}"
            continue
        got = canon(con.execute(f"SELECT * FROM '{dump}/*.parquet'").df())
        cause = mismatch(exp, got)
        if cause:
            bad[name] = cause
    con.close()
    return bad
