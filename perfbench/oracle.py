"""DuckDB oracle check of the batch workloads' outputs.

Each row's result (parquet written by the harness in the run's first pass)
is compared with the row's oracle SQL run by DuckDB over the same input
tables, after the canonicalization the project's `tools/diffcheck.py`
uses: columns sorted by name, rows sorted, floats rounded to 6 places,
integers widened, timestamps truncated to microseconds. A row without
oracle SQL must return rows, and every `*_ok` contract column must be true.
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
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


def _diff(got, want):
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if [str(t) for t in got.dtypes] != [str(t) for t in want.dtypes]:
        return f"types {list(map(str, got.dtypes))} != {list(map(str, want.dtypes))}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    if not got.equals(want):
        neq = (got != want) & ~(got.isna() & want.isna())
        c = next(c for c in got.columns if neq[c].any())
        i = neq[c].idxmax()
        return f"{c}[{i}]: {got[c][i]!r} != {want[c][i]!r}"
    return None


def check(data_dir, out_dir, rows):
    """Returns {row: problem} for every row whose output is wrong."""
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = {}
    for row in rows:
        files = glob.glob(os.path.join(out_dir, row, "*.parquet"))
        if not files:
            bad[row] = "no output"
            continue
        got = canon(con.execute(f"SELECT * FROM read_parquet({files!r})").df())
        oks = [c for c in got.columns if c.endswith("_ok")]
        if any((got[c] != 1).any() for c in oks):
            bad[row] = f"contract column false: {oks}"
        elif row not in oracle:
            if len(got) == 0:
                bad[row] = "no rows"
        else:
            problem = _diff(got, canon(con.execute(oracle[row]).df()))
            if problem:
                bad[row] = problem
    return bad
