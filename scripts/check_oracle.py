#!/usr/bin/env python3
"""Local simulation of the driver's correctness gate (dev tool only, not
part of the shipped library): run graft.Verify first, then this script
compares each dumped parquet against its DuckDB oracle on the same sfdir,
and fails on every name Verify recorded in `_failures.json` (a query that
threw, or whose run contradicted its declared tier, still dumps a result).

Usage: python3 scripts/check_oracle.py /root/testdata/sf0.01 /tmp/verify_out
"""
import json, os, sys
import duckdb
import pandas as pd

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fails = 0
for name, sql in sorted(oracle.items()):
    try:
        got = con.sql(f"SELECT * FROM '{outdir}/{name}/*.parquet'").df()
        exp = con.sql(sql).df()
        got = got.reindex(sorted(got.columns), axis=1)
        exp = exp.reindex(sorted(exp.columns), axis=1)
        if list(got.columns) != list(exp.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(exp.columns)}")
            fails += 1
            continue
        gs = got.sort_values(by=list(got.columns)).reset_index(drop=True)
        es = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
        if len(gs) != len(es):
            print(f"FAIL {name}: rows {len(gs)} != {len(es)}")
            fails += 1
            continue
        # value compare with float tolerance-free exactness (post-round)
        diff = 0
        for c in gs.columns:
            a, b = gs[c], es[c]
            for i in range(len(a)):
                x, y = a.iloc[i], b.iloc[i]
                # pd.isna covers None, float NaN, and NaT alike
                xn = not isinstance(x, (list, tuple)) and pd.isna(x)
                yn = not isinstance(y, (list, tuple)) and pd.isna(y)
                if xn and yn:
                    continue
                if xn != yn or x != y:
                    if diff < 3:
                        print(f"  {name}.{c}[{i}]: {x!r} != {y!r}")
                    diff += 1
        if diff:
            print(f"FAIL {name}: {diff} differing cells")
            fails += 1
        else:
            print(f"OK   {name} ({len(gs)} rows)")
    except Exception as e:
        print(f"ERROR {name}: {e}")
        fails += 1
failures_path = f"{outdir}/_failures.json"
recorded = json.load(open(failures_path)) if os.path.exists(failures_path) else {}
for name, msg in sorted(recorded.items()):
    print(f"FAILED {name}: {msg}")
fails += len(recorded)
sys.exit(1 if fails else 0)
