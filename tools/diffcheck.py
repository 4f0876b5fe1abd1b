#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle compare.

Usage: python3 tools/diffcheck.py <sfDir> <verifyOutDir>

For each query result parquet under <verifyOutDir>/<name>/, runs the
corresponding oracle SQL from oracle_sql.json in DuckDB over the sf tables,
canonicalizes both (sort columns by name, sort rows, round floats), and
reports match/mismatch per query. An oracle entry with no result dir (its
query threw in Verify) is a FAIL; a result dir with no oracle entry is
ROWS-ONLY. Exits non-zero unless FAIL and ROWS-ONLY are both 0 and at
least one row passed.
"""
import json, sys, glob, os
import duckdb
import pandas as pd
import numpy as np

sf_dir, out_dir = sys.argv[1], sys.argv[2]

con = duckdb.connect()
for tp in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(tp).replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{tp}')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            # decode bytes, stringify lists for stable compare
            df[c] = df[c].map(lambda v: v.decode() if isinstance(v, bytes) else
                              (str(v) if isinstance(v, (list, np.ndarray)) else v))
        if str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        if str(df[c].dtype) in ("int32", "int16", "int8", "uint32"):
            df[c] = df[c].astype("int64")
        if str(df[c].dtype) == "bool":
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

fails, passes, skips = [], [], []
for d in sorted(glob.glob(f"{out_dir}/*/")):
    name = os.path.basename(d.rstrip("/"))
    files = glob.glob(f"{d}/*.parquet")
    if not files:
        fails.append((name, "no parquet output")); continue
    got = canon(con.execute(
        f"SELECT * FROM read_parquet({[f for f in files]!r})").df())
    if name not in oracle:
        skips.append((name, len(got))); continue
    try:
        want = canon(con.execute(oracle[name]).df())
    except Exception as e:
        fails.append((name, f"oracle SQL error: {e}")); continue
    if list(got.columns) != list(want.columns):
        fails.append((name, f"cols: got {list(got.columns)} want {list(want.columns)}")); continue
    if [str(t) for t in got.dtypes] != [str(t) for t in want.dtypes]:
        fails.append((name, f"dtypes: got {list(map(str,got.dtypes))} want {list(map(str,want.dtypes))}")); continue
    if len(got) != len(want):
        fails.append((name, f"rows: got {len(got)} want {len(want)}")); continue
    if not got.equals(want):
        neq = (got != want) & ~(got.isna() & want.isna())
        bad_cols = [c for c in got.columns if neq[c].any()]
        detail = []
        for c in bad_cols[:3]:
            i = neq[c].idxmax()
            detail.append(f"{c}[{i}]: got {got[c][i]!r} want {want[c][i]!r}")
        fails.append((name, f"values: {detail}")); continue
    passes.append((name, len(got)))
dumped = {os.path.basename(d.rstrip("/")) for d in glob.glob(f"{out_dir}/*/")}
for name in sorted(set(oracle) - dumped):
    fails.append((name, "no result dir (the query failed in Verify)"))

print(f"PASS {len(passes)}  FAIL {len(fails)}  ROWS-ONLY {len(skips)}")
for n, r in passes: print(f"  pass {n} ({r} rows)")
for n, r in skips: print(f"  rows-only {n} ({r} rows)")
for n, msg in fails: print(f"  FAIL {n}: {msg}")
sys.exit(1 if fails or skips or not passes else 0)
