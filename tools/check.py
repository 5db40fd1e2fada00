#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run graft.Verify output
against the DuckDB oracle and diff exactly (columns sorted by name, rows
sorted, values compared exactly — stricter than any sane driver hash).

Every entry Verify lists in entries.json is declared: one that wrote no
output (it threw) fails as MISSING_OUTPUT, and an empty declared set fails
the run. An entry that left persistent RDDs its result does not read, or a
Dataset cache, in Verify's leaks.json fails as LEAKED."""
import sys, os, json, glob
import duckdb
import pandas as pd
import numpy as np

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "target/verify_out"

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
leaks = json.load(open(f"{out_dir}/leaks.json"))
declared = set(json.load(open(f"{out_dir}/entries.json"))) | set(oracle)
if not declared:
    print("no entries declared: nothing was checked")
    sys.exit(1)
results = {}
for name in sorted(declared):
    d = os.path.join(out_dir, name)
    if not os.path.isdir(d):
        continue
    files = glob.glob(f"{d}/*.parquet")
    if not files:
        results[name] = "NO_OUTPUT"
        continue
    spark_df = con.execute(f"SELECT * FROM '{d}/*.parquet'").fetchdf()
    if name not in oracle:
        results[name] = f"ROWS_ONLY rows={len(spark_df)}"
        continue
    try:
        duck_df = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        results[name] = f"ORACLE_ERR {e}"
        continue
    s_cols, d_cols = sorted(spark_df.columns), sorted(duck_df.columns)
    if s_cols != d_cols:
        results[name] = f"COLS spark={s_cols} duck={d_cols}"
        continue
    s = spark_df[s_cols].sort_values(s_cols).reset_index(drop=True)
    d = duck_df[d_cols].sort_values(d_cols).reset_index(drop=True)
    if len(s) != len(d):
        results[name] = f"ROWS spark={len(s)} duck={len(d)}"
        continue
    schema_mismatch = [c for c in s_cols if str(s[c].dtype) != str(d[c].dtype)]
    bad = []
    for c in s_cols:
        sv, dv = s[c].values, d[c].values
        if np.issubdtype(s[c].dtype, np.floating) or np.issubdtype(d[c].dtype, np.floating):
            sv64, dv64 = sv.astype(np.float64), dv.astype(np.float64)
            exact = np.array_equal(sv64, dv64, equal_nan=True)
            close = np.allclose(sv64, dv64, rtol=1e-9, atol=1e-12, equal_nan=True)
            if not exact:
                bad.append((c, "float-close" if close else "FLOAT-DIFF",
                            float(np.nanmax(np.abs(sv64 - dv64)))))
        else:
            if not np.array_equal(sv.astype(str), dv.astype(str)):
                n = int((sv.astype(str) != dv.astype(str)).sum())
                bad.append((c, "VALUE-DIFF", n))
    status = "OK" if not bad else "; ".join(f"{c}:{k}:{v}" for c, k, v in bad)
    if schema_mismatch:
        status += f" [dtype {[(c, str(s[c].dtype), str(d[c].dtype)) for c in schema_mismatch]}]"
    results[name] = f"{status} rows={len(s)}"

w = max(len(n) for n in declared)
nok = 0
for name in sorted(declared):
    r = results.get(name, "MISSING_OUTPUT")
    leak = leaks.get(name, {"rdds": 0, "cache": False})
    if leak["rdds"] or leak["cache"]:
        r = f"LEAKED rdds={leak['rdds']} cache={leak['cache']}; {r}"
    flag = "PASS" if r.startswith(("OK", "ROWS_ONLY")) else "FAIL"
    if flag == "FAIL":
        nok += 1
    print(f"{flag} {name:<{w}} {r}")
print(f"\n{len(declared) - nok}/{len(declared)} pass")
sys.exit(1 if nok else 0)
