#!/usr/bin/env python3
"""Local pre-flight for the driver's correctness gate: run each oracle
SQL in DuckDB against the sf tables and compare (sorted columns, sorted
rows, exact values) with the parquet the Spark Verify main wrote.

Per-oracle DuckDB wall time is printed alongside the verdicts plus a
top-10 table at the end (r14 VERDICT #6): an oracle whose CTE chain
DuckDB re-inlines per reference can silently go from seconds to
unbounded (the r14 lesson — a shared unrolled-Lloyd chain composed
with a rotation CTE ran >45 min until AS MATERIALIZED pinned it), and
a gate that can't finish zeroes the round. Oracle wall time is a
first-class property; watch the top-10 after touching any shared CTE."""
import sys, json, glob, os, time
import duckdb
import pyarrow.parquet as pq
import pandas as pd
import numpy as np

outdir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/verify_out"
sfdir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

con = duckdb.connect()
# Explicit bounds: DuckDB's defaults (80% of RAM, every core) let this
# check crowd out a Spark JVM running on the same machine. 4 GB is what
# the ann_* oracles need at 2 threads (3 GB runs out of memory).
con.execute("SET memory_limit = '4GB'")
con.execute("SET threads = 2")
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fail, ok, walls = [], [], {}
for name, sql in sorted(oracle.items()):
    pdir = f"{outdir}/{name}"
    if not os.path.isdir(pdir):
        fail.append((name, "spark output missing")); continue
    try:
        spark_df = pd.concat([pq.read_table(f).to_pandas()
                              for f in sorted(glob.glob(f"{pdir}/*.parquet"))])
    except Exception as e:
        fail.append((name, f"read spark: {e}")); continue
    t0 = time.monotonic()
    try:
        duck_df = con.sql(sql).df()
    except Exception as e:
        walls[name] = time.monotonic() - t0
        fail.append((name, f"duckdb: {e}")); continue
    walls[name] = time.monotonic() - t0
    print(f"[oracle] {name} {walls[name]:.2f}s", file=sys.stderr)
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        fail.append((name, f"cols spark={sc} duck={dc}")); continue
    if len(spark_df) != len(duck_df):
        fail.append((name, f"rows spark={len(spark_df)} duck={len(duck_df)}")); continue
    s = spark_df[sc].sort_values(sc, kind="mergesort").reset_index(drop=True)
    d = duck_df[sc].sort_values(sc, kind="mergesort").reset_index(drop=True)
    diffs = []
    for c in sc:
        sv, dv = s[c], d[c]
        if sv.dtype.kind == 'f' or dv.dtype.kind == 'f':
            sa, da = sv.astype(float).values, dv.astype(float).values
            neq = ~((sa == da) | (np.isnan(sa) & np.isnan(da)))
            if neq.any():
                i = int(np.argmax(neq))
                diffs.append(f"{c}[{i}]: {sa[i]!r} vs {da[i]!r} (maxabs={np.nanmax(np.abs(sa-da))})")
        else:
            sv2 = sv.astype(str).where(~sv.isna(), "<NULL>")
            dv2 = dv.astype(str).where(~dv.isna(), "<NULL>")
            neq = (sv2 != dv2).values
            if neq.any():
                i = int(np.argmax(neq))
                diffs.append(f"{c}[{i}]: {sv2.iloc[i]!r} vs {dv2.iloc[i]!r}")
    if diffs:
        fail.append((name, "; ".join(diffs[:3])))
    else:
        ok.append(name)

if walls:
    top = sorted(walls.items(), key=lambda kv: -kv[1])[:10]
    print(f"top-10 oracle wall times (of {len(walls)}, "
          f"total {sum(walls.values()):.1f}s):")
    for n, w in top:
        print(f"  {w:7.2f}s  {n}")
print(f"OK ({len(ok)}):", " ".join(ok))
print(f"FAIL ({len(fail)}):")
for n, msg in fail:
    print(f"  {n}: {msg}")
sys.exit(1 if fail else 0)
