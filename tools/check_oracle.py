#!/usr/bin/env python3
"""Local pre-check of SparkEntry oracles: mimics the driver's compare.

Usage: python3 tools/check_oracle.py <verify_out_dir> <sf_dir> [names]

Loads each <out>/<name>/ parquet (Spark result), runs the matching oracle
SQL from <out>/oracle_sql.json in DuckDB over the sf tables, and compares
schema + sorted rows exactly (hash-style). `names` (a comma list) checks
only those queries; without it every query in oracle_sql.json is checked.
"""
import sys, json, glob, os
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize column types for compare
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    rows = df.values.tolist()
    def key(r):
        return tuple("" if v is None or (isinstance(v, float) and np.isnan(v))
                     else str(v) for v in r)
    return sorted(rows, key=key), list(df.columns)

def main(outdir, sfdir, names=""):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    sqls = json.load(open(f"{outdir}/oracle_sql.json"))
    wanted = [n for n in names.split(",") if n]
    if wanted:
        unknown = sorted(set(wanted) - set(sqls))
        if unknown:
            print(f"UNKNOWN {','.join(unknown)}")
            return 1
        sqls = {n: sqls[n] for n in wanted}
    n_pass = n_fail = 0
    for name, sql in sorted(sqls.items()):
        resdir = f"{outdir}/{name}"
        files = glob.glob(f"{resdir}/*.parquet")
        if not files:
            print(f"MISSING-RESULT {name}")
            n_fail += 1
            continue
        try:
            got = con.sql(f"SELECT * FROM '{resdir}/*.parquet'").df()
            exp = con.sql(sql).df()
        except Exception as ex:
            print(f"ERROR {name}: {ex}")
            n_fail += 1
            continue
        grows, gcols = normalize(got)
        erows, ecols = normalize(exp)
        if gcols != ecols:
            print(f"SCHEMA-MISMATCH {name}: spark={gcols} oracle={ecols}")
            n_fail += 1
            continue
        if len(grows) != len(erows):
            print(f"ROWCOUNT {name}: spark={len(grows)} oracle={len(erows)}")
            n_fail += 1
            continue
        bad = None
        for i, (a, b) in enumerate(zip(grows, erows)):
            for va, vb in zip(a, b):
                fa = isinstance(va, float) and isinstance(vb, float)
                eq = (va == vb) or (fa and np.isnan(va) and np.isnan(vb)) or \
                     (va is None and vb is None) or \
                     (fa and va == vb)
                if not eq and not (pd.isna(va) and pd.isna(vb)):
                    bad = (i, a, b)
                    break
            if bad:
                break
        if bad:
            print(f"VALUE-MISMATCH {name} row {bad[0]}:\n  spark={bad[1]}\n  duck ={bad[2]}")
            n_fail += 1
        else:
            print(f"OK {name} ({len(grows)} rows)")
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:4]))
