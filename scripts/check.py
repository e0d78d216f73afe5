#!/usr/bin/env python3
"""Dev-only driver mimic: compare Verify parquet dumps against the DuckDB
oracle (like the round harness does), one `check_one.compare` per oracle
query. Not part of the shipped library.

Usage: python3 scripts/check.py [sfDir] [outDir]
"""
import json
import sys

from check_one import compare, connect

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT_DIR = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = connect(SF_DIR)
oracle = json.load(open(f"{OUT_DIR}/oracle_sql.json"))

ok, bad = [], []
for name in sorted(oracle):
    try:
        n, diffs = compare(con, oracle[name], f"{OUT_DIR}/{name}")
        if diffs:
            bad.append((name, "; ".join(diffs)))
        else:
            ok.append((name, n))
    except Exception as e:
        bad.append((name, f"EXCEPTION {type(e).__name__}: {e}"))

for name, n in ok:
    print(f"PASS {name} ({n} rows)")
for name, msg in bad:
    print(f"FAIL {name}: {msg}")
print(f"\n{len(ok)} pass / {len(bad)} fail (of {len(oracle)} oracle queries)")
sys.exit(1 if bad else 0)
