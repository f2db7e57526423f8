#!/usr/bin/env python3
"""Local driver-mimic correctness checker (dev tool only, not part of the
library). Mirrors what the round driver does: run graft.Verify at a scale
factor, then replay every oracle_sql.json query in DuckDB over the same
parquet tables and compare (rows, schema, values) after sorting columns by
name and rows by value.

Usage: python3 tools/check.py [sfdir] [outdir] [--skip-verify] [query...]
"""
import json, math, os, subprocess, sys

import duckdb

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
flags = set(a for a in sys.argv[3:] if a.startswith("--"))
only = [a for a in sys.argv[3:] if not a.startswith("--")]

# the checkout holding this script (tools/..), so a copy checks its own code
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

if "--skip-verify" not in flags:
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}'],
        cwd=REPO, capture_output=True, text=True)
    for line in r.stderr.splitlines():
        if "[verify]" in line:
            print(line)
    if r.returncode != 0:
        print(r.stdout[-3000:]); print(r.stderr[-3000:]); sys.exit(1)

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))

def canon(df):
    cols = sorted(df.columns)
    df = df[cols]
    rows = []
    for tup in df.itertuples(index=False):
        row = []
        for v in tup:
            if isinstance(v, float):
                if math.isnan(v):
                    row.append("nan")
                else:
                    row.append(repr(v))
            elif v is None:
                row.append("NULL")
            else:
                row.append(str(v))
        rows.append(tuple(row))
    return cols, sorted(rows)

fails = 0
names = only or sorted(oracle.keys())
for name in names:
    sql = oracle[name]
    try:
        spark_df = con.sql(
            f"SELECT * FROM '{OUT}/{name}/*.parquet'").df()
    except Exception as e:
        print(f"FAIL {name}: no spark output ({e})"); fails += 1; continue
    try:
        duck_df = con.sql(sql).df()
    except Exception as e:
        print(f"FAIL {name}: oracle sql error: {e}"); fails += 1; continue
    sc, sr = canon(spark_df)
    dc, dr = canon(duck_df)
    if sc != dc:
        print(f"FAIL {name}: columns spark={sc} duck={dc}"); fails += 1; continue
    if len(sr) != len(dr):
        print(f"FAIL {name}: rows spark={len(sr)} duck={len(dr)}"); fails += 1
        for a in sr[:3]: print("  spark:", a)
        for b in dr[:3]: print("  duck :", b)
        continue
    bad = [(a, b) for a, b in zip(sr, dr) if a != b]
    if bad:
        print(f"FAIL {name}: {len(bad)}/{len(sr)} differing rows; first:")
        for a, b in bad[:3]:
            print("  spark:", a)
            print("  duck :", b)
        fails += 1
    else:
        print(f"OK   {name}: {len(sr)} rows, cols={sc}")

print(f"\n{len(names) - fails}/{len(names)} queries match")
sys.exit(1 if fails else 0)
