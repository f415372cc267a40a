#!/usr/bin/env python3
"""Local oracle check mimicking the driver: for each query output in
OUTDIR, run the oracle SQL from oracle_sql.json in DuckDB over the
same sf tables and compare values (columns sorted by name, rows
sorted). Exact equality required, mirroring a hash compare. A query
named in oracle_sql.json with no output directory (its write failed)
is a FAIL, not a skip."""
import sys, json, glob, os
import duckdb, pandas as pd

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
con.sql("SET threads=16")
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fails, okc, rowsonly = [], 0, []
for name in sorted(os.listdir(outdir)):
    d = os.path.join(outdir, name)
    if not os.path.isdir(d): continue
    got = pd.read_parquet(d)
    if name not in oracle:
        rowsonly.append((name, len(got)))
        continue
    try:
        exp = con.sql(oracle[name]).df()
    except Exception as e:
        fails.append((name, f"ORACLE SQL ERROR: {e}")); continue
    g = got.reindex(sorted(got.columns), axis=1)
    e_ = exp.reindex(sorted(exp.columns), axis=1)
    if list(g.columns) != list(e_.columns):
        fails.append((name, f"columns: got {list(g.columns)} exp {list(e_.columns)}")); continue
    if len(g) != len(e_):
        fails.append((name, f"rows: got {len(g)} exp {len(e_)}")); continue
    g = g.sort_values(list(g.columns)).reset_index(drop=True)
    e_ = e_.sort_values(list(e_.columns)).reset_index(drop=True)
    bad = []
    for c in g.columns:
        gv, ev = g[c], e_[c]
        try:
            if gv.dtype != ev.dtype:
                # The driver hashes value REPRESENTATIONS: int64 2 vs
                # float64 2.0 hash differently even though == holds, and
                # an int32-vs-int64 width skew hashes differently too.
                # DuckDB HUGEINT (uncast sum-derived ints) lands in
                # pandas as float64/object. Flag ANY dtype mismatch,
                # except object-vs-object shapes pandas can't distinguish.
                gk, ek = gv.dtype.kind, ev.dtype.kind
                if not (gk == 'O' and ek == 'O'):
                    bad.append((c, f"dtype skew (driver hash would differ): got {gv.dtype} exp {ev.dtype}")); continue
                gv = gv.astype(object); ev = ev.astype(object)
            neq = ~(gv.eq(ev) | (gv.isna() & ev.isna()))
        except Exception as ex:
            bad.append((c, f"cmp error {ex}")); continue
        if neq.any():
            i = neq.idxmax()
            bad.append((c, f"{int(neq.sum())} diffs, first@{i}: got={gv[i]!r} exp={ev[i]!r}"))
    if bad: fails.append((name, "; ".join(f"{c}: {m}" for c, m in bad)))
    else: okc += 1
for name in sorted(oracle):
    if not os.path.isdir(os.path.join(outdir, name)):
        fails.append((name, "no output directory"))
for n, r in rowsonly: print(f"ROWS-ONLY {n}: {r} rows")
print(f"\nPASS {okc}  FAIL {len(fails)}")
for n, m in fails: print(f"FAIL {n}: {m[:500]}")
sys.exit(1 if fails else 0)
