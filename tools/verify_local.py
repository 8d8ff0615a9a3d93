#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage: python3 tools/verify_local.py [sfDir] [outDir] [q1,q2,...]

Assumes `sbt "runMain graft.Verify <sfDir> <outDir> [q1,q2,...]"` has
already produced <outDir>/<name>/ parquet dirs and <outDir>/oracle_sql.json.
The optional third argument is the same comma-separated query-name filter
graft.Verify takes: only those queries are compared. For each query:
run the oracle SQL in DuckDB over views of the same testdata, then compare
(schema-insensitively): columns sorted by name, rows sorted, values
compared with exact equality (floats via repr after float64 cast).
"""
import json, os, sys, math
import duckdb
import pyarrow.parquet as pq
import pandas as pd

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

oracle = json.load(open(f"{out}/oracle_sql.json"))
if only is not None:
    unknown = sorted(only - set(oracle))
    if unknown:
        print(f"unknown query names: {', '.join(unknown)}")
        sys.exit(2)
    oracle = {n: q for n, q in oracle.items() if n in only}

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "float" in str(df[c].dtype):
            df[c] = df[c].astype("float64")
        elif "int" in str(df[c].dtype).lower():
            df[c] = df[c].astype("int64")
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

fails = 0
for name in sorted(oracle):
    pdir = f"{out}/{name}"
    if not os.path.isdir(pdir):
        print(f"FAIL {name}: no spark output dir")
        fails += 1
        continue
    try:
        mine = canon(pq.read_table(pdir).to_pandas())
        ref = canon(con.execute(oracle[name]).fetchdf())
    except Exception as e:
        print(f"FAIL {name}: {e}")
        fails += 1
        continue
    if list(mine.columns) != list(ref.columns):
        print(f"FAIL {name}: columns {list(mine.columns)} vs {list(ref.columns)}")
        fails += 1
        continue
    if len(mine) != len(ref):
        print(f"FAIL {name}: rows {len(mine)} vs {len(ref)}")
        fails += 1
        continue
    ok = True
    for c in mine.columns:
        a, b = mine[c], ref[c]
        if "float" in str(a.dtype) and "float" in str(b.dtype):
            bad = ~((a == b) | (a.isna() & b.isna()))
        else:
            bad = a.astype(str) != b.astype(str)
        if bad.any():
            i = bad.idxmax()
            print(f"FAIL {name}: col {c} row {i}: {a[i]!r} vs {b[i]!r} ({int(bad.sum())} diffs)")
            ok = False
            break
    if ok:
        print(f"PASS {name} ({len(mine)} rows)")
    else:
        fails += 1

queries_missing = [n for n in os.listdir(out)
                   if os.path.isdir(f"{out}/{n}") and n not in oracle
                   and (only is None or n in only)]
for n in queries_missing:
    print(f"NOTE {n}: spark output without oracle (rows-only check)")
print(f"\n{'ALL PASS' if fails == 0 else f'{fails} FAILURES'}")
sys.exit(1 if fails else 0)
