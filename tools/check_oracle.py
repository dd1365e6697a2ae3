#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: read each query's parquet
dump from Verify, run its oracle SQL in DuckDB over the sf tables, sort by
all columns, and compare: each column's dtype kind must match, then every value.
Usage: check_oracle.py <outDir> <sfDir> [q1,q2,...]
The optional third arg restricts the sweep (mirrors Verify's filter arg);
DUCKDB_MEM / DUCKDB_THREADS bound the oracle engine so a heavy oracle
degrades to an error instead of swapping the host."""
import sys, os, json, glob
import duckdb
import pyarrow.parquet as pq
import pandas as pd

out_dir, sf_dir = sys.argv[1], sys.argv[2]
only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
con = duckdb.connect()
con.execute(f"SET memory_limit='{os.environ.get('DUCKDB_MEM', '24GB')}'")
con.execute(f"SET threads={os.environ.get('DUCKDB_THREADS', '16')}")
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    p = f"{sf_dir}/{t}.parquet"
    if os.path.isdir(p):  # spark-written table: a directory of part files
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    elif os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
if only is not None:
    unknown = only - set(oracle)
    if unknown:  # a typo'd filter must not read as a green (vacuous) run
        print("[BADFILTER] unknown queries:", sorted(unknown)); sys.exit(2)
fails = 0
for name, sql in sorted(oracle.items()):
    if only is not None and name not in only:
        continue
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        print(f"[MISS] {name}: no spark output"); fails += 1; continue
    spark_df = pd.concat([pq.read_table(f).to_pandas() for f in files])
    try:
        duck_df = con.execute(sql).df()
    except Exception as e:
        print(f"[ORACLE-ERR] {name}: {e}"); fails += 1; continue
    sd = spark_df.reindex(sorted(spark_df.columns), axis=1)
    dd = duck_df.reindex(sorted(duck_df.columns), axis=1)
    if list(sd.columns) != list(dd.columns):
        print(f"[SCHEMA] {name}: spark={list(sd.columns)} duck={list(dd.columns)}"); fails += 1; continue
    if len(sd) != len(dd):
        print(f"[ROWS] {name}: spark={len(sd)} duck={len(dd)}"); fails += 1; continue
    sd = sd.sort_values(list(sd.columns)).reset_index(drop=True)
    dd = dd.sort_values(list(dd.columns)).reset_index(drop=True)
    # exact compare (driver hashes values; emulate strictness): a change of
    # dtype kind is a failure of its own, never cast away (a HUGEINT sum
    # arrives as float64 and renders 5.0 where Spark's long renders 5);
    # integer widths (int32 vs int64) render alike and compare by value
    def kind(dt):
        return "int" if dt.kind in "iu" else dt.kind
    dtypes = [(c, sd[c].dtype, dd[c].dtype) for c in sd.columns
              if kind(sd[c].dtype) != kind(dd[c].dtype)]
    if dtypes:
        print(f"[DTYPE] {name}: " + ", ".join(f"{c}: spark={a} duck={b}" for c, a, b in dtypes))
        fails += 1; continue
    try:
        same = True
        for c in sd.columns:
            a, b = sd[c], dd[c]
            if not (a.equals(b) or (a.astype(str).equals(b.astype(str)))):
                neq = (a.astype(str) != b.astype(str))
                print(f"[VAL] {name}.{c}: {int(neq.sum())} diffs; first: "
                      f"spark={a[neq].iloc[0]!r} duck={b[neq].iloc[0]!r} at idx {neq.idxmax()}")
                same = False
        if not same: fails += 1; continue
    except Exception as e:
        print(f"[CMP-ERR] {name}: {e}"); fails += 1; continue
    print(f"[OK] {name}: {len(sd)} rows")
print("FAILURES:", fails)
sys.exit(1 if fails else 0)
