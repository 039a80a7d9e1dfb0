#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL in
DuckDB over the same parquet tables and compare against the Verify dump.

Every query Verify attempted (its attempted.txt) is counted: one it
reported failed (failed.txt) or left without a dump directory is a FAIL.
Exits 1 if any query fails or none was attempted."""
import sys, os, json, glob
import duckdb
import pandas as pd
import numpy as np

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")

def names(fname):
    with open(f"{outdir}/{fname}") as f:
        return [l.strip() for l in f if l.strip()]

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
failed = set(names("failed.txt")) if os.path.exists(f"{outdir}/failed.txt") else set()


def verdict(name):
    d = os.path.join(outdir, name)
    if name in failed:
        return "VERIFY FAILED (see the Verify run's stderr)"
    if not os.path.isdir(d):
        return "MISSING DUMP"
    spark_df = pd.concat([pd.read_parquet(f) for f in glob.glob(f"{d}/*.parquet")], ignore_index=True) \
        if glob.glob(f"{d}/*.parquet") else pd.DataFrame()
    if name not in oracle:
        return f"rows-only: {len(spark_df)} rows"
    try:
        duck_df = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        return f"ORACLE SQL ERROR: {str(e)[:200]}"
    s = spark_df.reindex(sorted(spark_df.columns), axis=1)
    o = duck_df.reindex(sorted(duck_df.columns), axis=1)
    if list(s.columns) != list(o.columns):
        return f"COLUMN MISMATCH spark={list(s.columns)} duck={list(o.columns)}"
    if len(s) != len(o):
        return f"ROWCOUNT MISMATCH spark={len(s)} duck={len(o)}"
    s = s.sort_values(by=list(s.columns), kind="mergesort").reset_index(drop=True)
    o = o.sort_values(by=list(o.columns), kind="mergesort").reset_index(drop=True)
    for c in s.columns:
        sv, ov = s[c].to_numpy(), o[c].to_numpy()
        if sv.dtype.kind == 'f' or ov.dtype.kind == 'f':
            eq = np.array_equal(sv.astype('float64'), ov.astype('float64'))
        else:
            eq = (sv == ov).all() if len(sv) else True
        if not eq:
            bad = np.where(sv != ov)[0][:3] if len(sv) else []
            return f"VALUE MISMATCH col={c} rows={list(bad)} spark={sv[bad][:3] if len(bad) else ''} duck={ov[bad][:3] if len(bad) else ''}"
    return f"OK ({len(s)} rows)"


# one line per query as it is compared, so a run cut short still shows
# every verdict it reached
results = {}
for name in sorted(names("attempted.txt")):
    v = results[name] = verdict(name)
    flag = "PASS" if (v.startswith("OK") or v.startswith("rows-only")) else "FAIL"
    print(f"{flag} {name}: {v}", flush=True)
n_ok = sum(1 for v in results.values() if v.startswith("OK") or v.startswith("rows-only"))
print(f"== {n_ok}/{len(results)} pass")
sys.exit(0 if results and n_ok == len(results) else 1)
