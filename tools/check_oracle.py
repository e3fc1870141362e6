#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL
from Verify's oracle_sql.json in DuckDB over the sf tables and compare to
the engine's parquet dumps (rows compared as sorted multisets, exact)."""
import json, sys, math
import duckdb

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
if not oracle:
    # a run that wrote no query cannot pass the gate
    print(f"FAIL: no oracle queries in {outdir}/oracle_sql.json")
    sys.exit(1)

def canon(v):
    if isinstance(v, float):
        if v != v: return "NaN"
        if v == 0.0: return "0.0"  # fold -0.0
        return repr(v)
    return repr(v)

fails = 0
for name, sql in sorted(oracle.items()):
    try:
        got = con.execute(
            f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')").fetchdf()
        want = con.execute(sql).fetchdf()
    except Exception as e:
        print(f"FAIL {name}: {e}"); fails += 1; continue
    gcols, wcols = sorted(got.columns), sorted(want.columns)
    if gcols != wcols:
        print(f"FAIL {name}: columns {gcols} vs {wcols}"); fails += 1; continue
    grows = sorted(tuple(canon(v) for v in row) for row in got[gcols].itertuples(index=False))
    wrows = sorted(tuple(canon(v) for v in row) for row in want[wcols].itertuples(index=False))
    if len(grows) != len(wrows):
        print(f"FAIL {name}: {len(grows)} rows vs {len(wrows)}"); fails += 1; continue
    if grows != wrows:
        diff = [(g, w) for g, w in zip(grows, wrows) if g != w][:3]
        print(f"FAIL {name}: value mismatch, first diffs: {diff}"); fails += 1; continue
    print(f"PASS {name} ({len(grows)} rows)")
print(f"\n{len(oracle) - fails}/{len(oracle)} queries match")
sys.exit(1 if fails else 0)
