#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run Verify output
parquet against DuckDB oracle SQL over the same testdata tables and
compare values (columns sorted by name, rows in result order).

Usage: python3 tools/compare.py <sfDir> <verifyOutDir> [namePrefix,...]
"""
import json
import sys

import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
prefixes = sys.argv[3].split(",") if len(sys.argv) > 3 else None
con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
ok = fail = 0
for name, sql in sorted(oracle.items()):
    if prefixes and not any(name.startswith(p) for p in prefixes):
        continue
    try:
        # pandas path, like the driver harness (it converts DuckDB
        # DECIMAL literals to float64 before hashing)
        exp_df = con.sql(sql).df()
        exp_cols = list(exp_df.columns)
        got_df = con.sql(f"SELECT * FROM '{outdir}/{name}/*.parquet'").df()
        got_cols = list(got_df.columns)
        exp = list(exp_df.itertuples(index=False, name=None))
        got = list(got_df.itertuples(index=False, name=None))
        # driver compare: sort columns by name
        ei = sorted(range(len(exp_cols)), key=lambda i: exp_cols[i])
        gi = sorted(range(len(got_cols)), key=lambda i: got_cols[i])
        if sorted(exp_cols) != sorted(got_cols):
            print(f"FAIL {name}: columns {sorted(got_cols)} != {sorted(exp_cols)}")
            fail += 1
            continue
        e = [tuple(r[i] for i in ei) for r in exp]
        g = [tuple(r[i] for i in gi) for r in got]
        # repr-compare: the driver hashes stringified values, so -0.0
        # vs 0.0 (or 1.0 vs 1) must FAIL here too, although == hides it;
        # the row printer uses the same comparison
        er = [tuple(map(repr, r)) for r in e]
        gr = [tuple(map(repr, r)) for r in g]
        if er == gr:
            print(f"ok   {name} ({len(e)} rows)")
            ok += 1
        else:
            print(f"FAIL {name}: {len(g)} rows vs {len(e)} expected")
            diffs = [i for i, (a, b) in enumerate(zip(er, gr)) if a != b]
            for i in diffs[:5]:
                print(f"  row {i}: oracle={e[i]} got={g[i]}")
            fail += 1
    except Exception as ex:
        print(f"ERR  {name}: {ex}")
        fail += 1
print(f"\n{ok} ok, {fail} fail")
sys.exit(1 if fail else 0)
