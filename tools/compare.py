#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each query result
parquet under OUT_DIR, run the matching oracle SQL (oracle_sql.json) in
DuckDB over the sf tables, sort columns by name, and compare values
exactly (float bits included). Each line gives the seconds its query
took: reading Spark's result and replaying the oracle in DuckDB. Usage:

    python3 tools/compare.py /root/testdata/sf0.01 /tmp/verify_out
"""
import json, sys, glob, time
import duckdb
import pandas as pd
import numpy as np

sf_dir, out_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
fails = []
for name, sql in sorted(oracle.items()):
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark result parquet")
        fails.append(name)
        continue
    t0 = time.perf_counter()
    try:
        spark_df = pd.read_parquet(files[0])
        duck_df = con.sql(sql).df()
    except Exception as e:
        print(f"FAIL {name} ({time.perf_counter() - t0:.2f} s): {e}")
        fails.append(name)
        continue
    secs = f"{time.perf_counter() - t0:.2f} s"
    spark_df = spark_df[sorted(spark_df.columns)]
    duck_df = duck_df[sorted(duck_df.columns)]
    if list(spark_df.columns) != list(duck_df.columns):
        print(f"FAIL {name} ({secs}): columns {list(spark_df.columns)} vs {list(duck_df.columns)}")
        fails.append(name)
        continue
    if len(spark_df) != len(duck_df):
        print(f"FAIL {name} ({secs}): rows {len(spark_df)} vs {len(duck_df)}")
        fails.append(name)
        continue
    bad = None
    for c in spark_df.columns:
        a, b = spark_df[c].to_numpy(), duck_df[c].to_numpy()
        try:
            b = b.astype(a.dtype)
        except Exception:
            pass
        if a.dtype.kind == "f":
            eq = (a == b) | (np.isnan(a.astype(float)) & np.isnan(b.astype(float)))
        else:
            eq = np.array([x == y for x, y in zip(a, b)])
        if not eq.all():
            i = int(np.argmin(eq))
            bad = (c, i, a[i], b[i], spark_df[c].dtype, duck_df[c].dtype)
            break
    if bad:
        c, i, av, bv, at, bt = bad
        print(f"FAIL {name} ({secs}): col {c} row {i}: spark={av!r}({at}) duck={bv!r}({bt})")
        fails.append(name)
    else:
        print(f"OK   {name} ({len(spark_df)} rows, {secs})")
print(f"\n{len(oracle) - len(fails)}/{len(oracle)} match")
sys.exit(1 if fails else 0)
