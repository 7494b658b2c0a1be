#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Reads /tmp/verify_out (written by graft.Verify): <name>/ parquet dirs +
oracle_sql.json. Registers the sf tables as DuckDB views, runs each oracle,
and compares against the Spark result: sorted columns, sorted rows,
exact match on non-floats, tiny-tolerance report on floats (the real
driver hashes, so we flag ANY float difference loudly).
"""
import os, sys, json, glob, math
import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from fixture_preflight import preflight

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
ONLY = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None

con = duckdb.connect()
# refuse to compare on fixture-vintage drift (the round-8 silent-red
# failure mode) — prints every per-table schema diff and exits
preflight(con, SF_DIR)
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), na_position="first",
                        ignore_index=True, kind="mergesort")
    return df

# a typo in the subset must not pass as a vacuous "0/0 match"
unknown = sorted((ONLY or set()) - set(oracle))
if unknown:
    sys.exit(f"unknown queries (not in oracle_sql.json): {','.join(unknown)}")
checked = sorted(n for n in oracle if not ONLY or n in ONLY)
fails = 0
for name in checked:
    files = glob.glob(f"{OUT}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output"); fails += 1; continue
    try:
        spark_df = canon(pd.concat([pd.read_parquet(f) for f in files]))
        duck_df = canon(con.execute(oracle[name]).fetchdf())
    except Exception as e:
        print(f"FAIL {name}: {str(e)[:200]}"); fails += 1; continue
    if list(spark_df.columns) != list(duck_df.columns):
        print(f"FAIL {name}: cols spark={list(spark_df.columns)} duck={list(duck_df.columns)}")
        fails += 1; continue
    if len(spark_df) != len(duck_df):
        print(f"FAIL {name}: rows spark={len(spark_df)} duck={len(duck_df)}")
        fails += 1; continue
    bad = None
    for c in spark_df.columns:
        a, b = spark_df[c], duck_df[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            af, bf = a.astype(float), b.astype(float)
            na_mismatch = (af.isna() != bf.isna())
            diff = (af.fillna(0) - bf.fillna(0)).abs()
            if na_mismatch.any() or (diff > 0).any():
                worst = diff.max()
                exact = (diff == 0).mean()
                bad = f"col {c}: max_abs_diff={worst:.3e} exact_frac={exact:.4f} na_mismatch={int(na_mismatch.sum())}"
                break
        else:
            if not a.astype(object).where(pd.notna(a), None) \
                    .equals(b.astype(object).where(pd.notna(b), None)):
                neq = (a.astype(str) != b.astype(str))
                i = neq.idxmax()
                bad = f"col {c}: first diff row {i}: spark={a[i]!r} duck={b[i]!r}"
                break
    if bad:
        print(f"FAIL {name}: {bad}"); fails += 1
    else:
        print(f"OK   {name} ({len(spark_df)} rows)")
print(f"\n{len(checked) - fails}/{len(checked)} oracle-checked queries match")
sys.exit(1 if fails else 0)
