#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL in
DuckDB over the same parquet tables, sort columns by name + rows, and
compare against the Spark result parquet: values, and each column's dtype
kind (integer / float / string / bool / datetime) as pandas renders it.
An integer width difference (int32 vs int64) passes; an integer column
against a float one (e.g. DuckDB's HUGEINT `sum`, which pandas renders as
float64) fails even when the values compare equal."""
import duckdb, json, sys, glob
import pandas as pd
import numpy as np

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
con = duckdb.connect()
for t in ['lineitem','orders','customer','nation','region','supplier','part','events','documents','embeddings']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{sf}/{t}.parquet')")
sqls = json.load(open(f'{out}/oracle_sql.json'))

KINDS = {"i": "integer", "u": "integer", "f": "float", "b": "bool", "M": "datetime",
         "O": "string", "U": "string", "S": "string"}

def kind(dtype):
    return KINDS.get(dtype.kind, str(dtype))

def norm(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

fails = 0
for name in sorted(sqls):
    try:
        o = con.execute(sqls[name]).df()
        files = glob.glob(f'{out}/{name}/*.parquet')
        s = duckdb.sql(f"SELECT * FROM parquet_scan({files!r})").df()
        o, s = norm(o), norm(s)
        if list(o.columns) != list(s.columns):
            print(f"FAIL {name}: columns differ: oracle={list(o.columns)} spark={list(s.columns)}"); fails += 1; continue
        if len(o) != len(s):
            print(f"FAIL {name}: rows differ: oracle={len(o)} spark={len(s)}"); fails += 1; continue
        bad = []
        for c in o.columns:
            a, b = o[c], s[c]
            eq = ((a.isna() & b.isna()) | (a.astype(object) == b.astype(object))).all()
            if not eq:
                mask = ~((a.isna() & b.isna()) | (a.astype(object) == b.astype(object)))
                n = int(mask.sum())
                bad.append(f"{c}({n} diffs, e.g. {a[mask].head(1).tolist()} vs {b[mask].head(1).tolist()})")
            elif kind(a.dtype) != kind(b.dtype):
                bad.append(f"{c}(dtype kind {kind(a.dtype)} ({a.dtype}) vs {kind(b.dtype)} ({b.dtype}))")
        if bad:
            print(f"FAIL {name}: diffs: {'; '.join(bad)}"); fails += 1
        else:
            print(f"OK   {name}: {len(o)} rows")
    except Exception as e:
        print(f"ERR  {name}: {str(e).splitlines()[0][:160]}"); fails += 1
print(f"\n{len(sqls)-fails}/{len(sqls)} oracles match")
sys.exit(1 if fails else 0)
