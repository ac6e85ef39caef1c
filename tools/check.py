#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each query in
outDir/oracle_sql.json, run the oracle in DuckDB over the sf tables and
compare (schema-sorted, row-sorted, exact) against the Spark parquet dump.
Usage: python3 tools/check.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, math
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
if not oracle:
    # an empty dump checks nothing; it must not read as a pass
    print(f"FAIL: no queries to check in {outdir}/oracle_sql.json")
    sys.exit(1)
fails = 0
for name, sql in sorted(oracle.items()):
    try:
        exp = con.execute(sql).fetchdf()
    except Exception as e:
        print(f"FAIL {name}: oracle error: {e}"); fails += 1; continue
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output"); fails += 1; continue
    got = con.execute(f"SELECT * FROM '{outdir}/{name}/*.parquet'").fetchdf()
    exp = exp[sorted(exp.columns)]
    got = got[sorted(got.columns)]
    if list(exp.columns) != list(got.columns):
        print(f"FAIL {name}: cols exp={list(exp.columns)} got={list(got.columns)}"); fails += 1; continue
    if len(exp) != len(got):
        print(f"FAIL {name}: rows exp={len(exp)} got={len(got)}"); fails += 1; continue
    exp = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    got = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    bad = []
    for c in exp.columns:
        ev, gv = exp[c].tolist(), got[c].tolist()
        for i, (a, b) in enumerate(zip(ev, gv)):
            if a is None and b is None: continue
            if isinstance(a, float) and isinstance(b, float):
                if math.isnan(a) and math.isnan(b): continue
                if a != b:
                    bad.append((c, i, a, b, abs(a-b))); break
            elif str(a) != str(b):
                bad.append((c, i, a, b, None)); break
    if bad:
        print(f"FAIL {name}: {bad[:3]}"); fails += 1
    else:
        print(f"PASS {name} ({len(exp)} rows, {len(exp.columns)} cols)")
print("FAILURES:", fails)
sys.exit(1 if fails else 0)
