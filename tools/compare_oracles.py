#!/usr/bin/env python3
"""Replay SparkEntry oracle SQL in DuckDB and compare against the Verify
dump, mimicking the driver's correctness gate (sorted columns, dtype and
md5-of-csv comparison).

Usage:
  sbt "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_out"
  python3 tools/compare_oracles.py [sf_dir] [verify_out] [only_csv]

only_csv: optional comma-separated query subset (default: the keys Verify
attempted, from verify_out/attempted.json — so a SPARK_GRAFT_VERIFY_ONLY
subset dump compares only itself, not the full registry). A key in the
subset with no result directory (it threw in Verify) is a FAIL, oracle or
not.
"""
import duckdb, json, glob, os, sys, hashlib
import pandas as pd

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
only = (set(sys.argv[3].split(",")) if len(sys.argv) > 3 else
        set(json.load(open(f"{out}/attempted.json"))))

con = duckdb.connect()
for p in glob.glob(f"{sf}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out}/oracle_sql.json"))
fails = []
for name in sorted(only):
    if not os.path.isdir(os.path.join(out, name)):
        print(f"{name:25s} ERROR: no result (the key threw in Verify)")
        fails.append(name)
for name in sorted(set(oracle) & only - set(fails)):
    try:
        spark_df = pd.read_parquet(f"{out}/{name}")
        o = con.sql(oracle[name]).df()
        s, od = spark_df[sorted(spark_df.columns)], o[sorted(o.columns)]
        rows = len(s) == len(od)
        schema = (list(s.dtypes.astype(str)) == list(od.dtypes.astype(str))
                  and list(s.columns) == list(od.columns))
        hs = hashlib.md5(s.to_csv(index=False).encode()).hexdigest()
        ho = hashlib.md5(od.to_csv(index=False).encode()).hexdigest()
        ok = rows and schema and hs == ho
        print(f"{name:25s} rows={len(s)}/{len(od)} schema={schema} "
              f"hash={'OK' if hs == ho else 'MISMATCH'}")
        if not ok:
            fails.append(name)
    except Exception as e:
        print(f"{name:25s} ERROR: {str(e)[:200]}")
        fails.append(name)
print("\nFAILS:", fails)
sys.exit(1 if fails else 0)
