#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB over the sf tables and compare against Verify's parquet dumps
(columns sorted by name, rows sorted, values compared).

Usage: local_check.py [SF_DIR] [OUT_DIR] [ENTRY,ENTRY,...]
With the third argument only the named oracles are checked, against a
Verify dump filtered to the same entries."""
import json, sys, glob, os
import duckdb
import pandas as pd

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft-verify"
only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None

con = duckdb.connect()
for p in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
if only is not None:
    unknown = sorted(only - set(oracle))
    if unknown:
        sys.exit(f"no oracle for: {', '.join(unknown)}")
    oracle = {k: v for k, v in oracle.items() if k in only}

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

fails = []
for name in sorted(oracle):
    spark_path = f"{out_dir}/{name}"
    if not os.path.isdir(spark_path):
        print(f"MISSING  {name}"); fails.append(name); continue
    try:
        got = pd.read_parquet(spark_path)
        want = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        print(f"ERROR    {name}: {e}"); fails.append(name); continue
    g, w = canon(got), canon(want)
    schema_ok = list(g.columns) == list(w.columns)
    rows_ok = len(g) == len(w)
    if not schema_ok:
        print(f"SCHEMA   {name}: spark={list(g.columns)} oracle={list(w.columns)}")
        fails.append(name); continue
    if not rows_ok:
        print(f"ROWS     {name}: spark={len(g)} oracle={len(w)}")
        fails.append(name); continue
    # dtype report (informational) + value compare as strings
    gs = g.astype(str); ws = w.astype(str)
    if gs.equals(ws):
        dt = "" if list(map(str, g.dtypes)) == list(map(str, w.dtypes)) else \
            f"  [dtypes differ: {list(map(str, g.dtypes))} vs {list(map(str, w.dtypes))}]"
        print(f"OK       {name} ({len(g)} rows){dt}")
    else:
        diff = (gs != ws).any(axis=1)
        idx = diff[diff].index[:3]
        print(f"VALUES   {name}: {int(diff.sum())}/{len(g)} rows differ; e.g.")
        for i in idx:
            print(f"  spark : {gs.loc[i].to_dict()}")
            print(f"  oracle: {ws.loc[i].to_dict()}")
        fails.append(name)

print(f"\n{len(oracle) - len(fails)}/{len(oracle)} queries match")
sys.exit(1 if fails else 0)
