#!/usr/bin/env python3
"""Dev-only oracle compare: mimics the driver's DuckDB correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
Loads each <name> parquet result, runs oracle_sql.json[<name>] in DuckDB
with views over the sfDir tables, sorts columns by name + rows, compares
cell values exactly (with a tiny float tolerance report as diagnostics).
An oracle key with no result directory (its query threw in Verify) is
reported MISSING and fails. Exits 1 on any failure.
"""
import json, sys, glob, os
import duckdb
import pandas as pd

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

def main(sfdir, outdir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracles = json.load(open(f"{outdir}/oracle_sql.json"))
    names = sorted([os.path.basename(p) for p in glob.glob(f"{outdir}/*")
                    if os.path.isdir(p)])
    n_pass = n_fail = 0
    for name in sorted(set(oracles) - set(names)):
        print(f"{name:22s} MISSING: no result directory")
        n_fail += 1
    for name in names:
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        if name not in oracles:
            print(f"{name:22s} rows-only: {len(got)} rows {'OK' if len(got)>0 else 'EMPTY?'}")
            continue
        try:
            exp = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"{name:22s} ORACLE SQL ERROR: {e}")
            n_fail += 1
            continue
        g, e = canon(got), canon(exp)
        if list(g.columns) != list(e.columns):
            print(f"{name:22s} COLUMN MISMATCH got={list(g.columns)} exp={list(e.columns)}")
            n_fail += 1
            continue
        if len(g) != len(e):
            print(f"{name:22s} ROWCOUNT got={len(g)} exp={len(e)}")
            n_fail += 1
            continue
        gs = g.astype(str).values
        es = e.astype(str).values
        diff = (gs != es)
        if diff.any():
            import numpy as np
            idx = list(zip(*np.nonzero(diff)))[:5]
            print(f"{name:22s} VALUE MISMATCH {diff.sum()} cells; first: ")
            for r, c in idx:
                print(f"    row {r} col {g.columns[c]}: got={gs[r][c]} exp={es[r][c]}")
            n_fail += 1
        else:
            print(f"{name:22s} OK ({len(g)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return n_fail

if __name__ == "__main__":
    sys.exit(1 if main(sys.argv[1], sys.argv[2]) else 0)
