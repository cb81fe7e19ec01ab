#!/usr/bin/env python3
"""Local approximation of the driver's correctness gate: run each oracle SQL
in DuckDB over the same sf parquet tables, compare against graft.Verify's
parquet dumps (column names sorted, values compared exactly / with float
tolerance reporting so we can see HOW far off a mismatch is). Each oracle
query is timed; the ten slowest are listed after the per-query lines."""
import json, sys, glob, os, time
import duckdb
import pandas as pd

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for t in ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split():
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
fail = 0
oracle_s = {}
for name in sorted(os.listdir(out_dir)):
    d = f"{out_dir}/{name}"
    if not os.path.isdir(d):
        continue
    files = glob.glob(f"{d}/*.parquet")
    got = pd.concat([pd.read_parquet(f) for f in files]) if files else None
    if name not in oracle:
        print(f"[rows-only] {name}: rows={len(got) if got is not None else 0}")
        continue
    t0 = time.perf_counter()
    want = con.execute(oracle[name]).df()
    oracle_s[name] = time.perf_counter() - t0
    got = got[sorted(got.columns)].reset_index(drop=True)
    want = want[sorted(want.columns)].reset_index(drop=True)
    status = []
    if list(got.columns) != list(want.columns):
        status.append(f"COLS got={list(got.columns)} want={list(want.columns)}")
    elif len(got) != len(want):
        status.append(f"ROWS got={len(got)} want={len(want)}")
    else:
        for c in got.columns:
            g, w = got[c], want[c]
            try:
                gs, ws = g.astype(str), w.astype(str)
            except Exception as e:
                status.append(f"{c}: CAST {e}")
                continue
            if not gs.equals(ws):
                n = (gs != ws).sum()
                ex = next(i for i in range(len(gs)) if gs[i] != ws[i])
                status.append(
                    f"{c}: {n} diffs e.g. row {ex}: {g[ex]!r} vs {w[ex]!r} "
                    f"(dtype {g.dtype}/{w.dtype})")
            elif str(g.dtype) != str(w.dtype):
                # values match as strings but physical types differ — a
                # stricter driver compare could still flag this
                status.append(f"{c}: DTYPE {g.dtype} vs {w.dtype}")
    if status:
        fail += 1
        print(f"[FAIL] {name}: " + "; ".join(status))
    else:
        print(f"[ok]   {name}: {len(got)} rows")
print(f"slowest oracle queries (of {len(oracle_s)}, "
      f"{sum(oracle_s.values()):.1f} s in all):")
for name, secs in sorted(oracle_s.items(), key=lambda kv: -kv[1])[:10]:
    print(f"  {secs:8.2f} s  {name}")
print("FAILURES:", fail)
sys.exit(1 if fail else 0)
