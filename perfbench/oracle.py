"""DuckDB oracle check of the warm pass's outputs.

The harness writes each mix query's Spark output on the corpus as
parquet under `<out>/<query>/` plus the query's oracle SQL
(`SparkEntry.oracleSql`) in `<out>/oracle_sql.json`. This registers every
corpus table as a DuckDB view, runs each oracle SQL, and compares the two
results column-name-sorted and row-sorted, with exact values (floats may
differ only in the last ulp). Returns one message per mismatch and each
query's check time in seconds.
"""
import glob
import json
import os
import time

import duckdb
import numpy as np
import pandas as pd


def _normalize(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _equal(s, d):
    for c in s.columns:
        sv, dv = s[c], d[c]
        try:
            eq = (sv == dv) | (sv.isna() & dv.isna())
            if not eq.all() and (sv.dtype.kind == "f" or dv.dtype.kind == "f"):
                eq = pd.Series(np.isclose(sv.astype(float), dv.astype(float),
                                          rtol=1e-9, atol=1e-12, equal_nan=True))
        except (TypeError, ValueError):
            eq = sv.astype(str) == dv.astype(str)
        if not eq.all():
            i = (~eq).idxmax()
            return f"col {c}: {int((~eq).sum())} diffs, first spark={sv[i]!r} duckdb={dv[i]!r}"
    return None


def check(corpus_dir, out_dir):
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    for p in sorted(glob.glob(os.path.join(corpus_dir, "*.parquet"))):
        name = os.path.basename(p)[:-8]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    bad, seconds = [], {}
    for name in sorted(d for d in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, d))):
        if name not in sqls:
            bad.append(f"{name}: no oracle SQL")
            continue
        t0 = time.perf_counter()
        try:
            spark_df = con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
            duck_df = con.sql(sqls[name]).df()
        except duckdb.Error as e:
            bad.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        finally:
            seconds[name] = round(time.perf_counter() - t0, 3)
        s, d = _normalize(spark_df), _normalize(duck_df)
        if list(s.columns) != list(d.columns):
            bad.append(f"{name}: columns spark={list(s.columns)} duckdb={list(d.columns)}")
        elif len(s) != len(d):
            bad.append(f"{name}: rows spark={len(s)} duckdb={len(d)}")
        else:
            diff = _equal(s, d)
            if diff:
                bad.append(f"{name}: {diff}")
    return bad, seconds
