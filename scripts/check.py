#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB against the sf parquet tables, load the Verify parquet output, and
compare schema/rows exactly (columns sorted by name, rows in result order).
Usage: check.py <sfdir> <verify_outdir> [name-prefix ...]
With prefixes, only the queries whose names start with one of them are
compared, so a long run can be split by name range (e.g. `a b c`, then
`d e`, ...). Each result line is flushed as it is printed.
"""
import sys, json, glob, os
import duckdb
import pandas as pd

sfdir, outdir, prefixes = sys.argv[1], sys.argv[2], tuple(sys.argv[3:])
con = duckdb.connect()
for t in ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
ok = fail = 0
for name in sorted(os.listdir(outdir)):
    p = f"{outdir}/{name}"
    if not os.path.isdir(p) or (prefixes and not name.startswith(prefixes)):
        continue
    files = glob.glob(f"{p}/*.parquet")
    got = pd.concat([pd.read_parquet(f) for f in sorted(files)], ignore_index=True)
    if name not in oracle:
        print(f"{name:28s} rows-only: {len(got)} rows", flush=True)
        continue
    exp = con.execute(oracle[name]).fetchdf()
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    status = []
    if list(got.columns) != list(exp.columns):
        status.append(f"SCHEMA got={list(got.columns)} exp={list(exp.columns)}")
    elif len(got) != len(exp):
        status.append(f"ROWS got={len(got)} exp={len(exp)}")
    else:
        # Driver's hash gate is dtype-KIND-sensitive: int64-vs-float64
        # hash-differs even when values compare equal (round-1 a1/a3/ta/st
        # failures), but int32-vs-int64 passed (w1/w3/c4/c8/ann all green).
        # Mirror that: flag kind mismatches (i/u vs f vs O), not widths.
        def kind(s):
            k = s.dtype.kind
            return "i" if k in "iu" else k
        for c in got.columns:
            if kind(got[c]) != kind(exp[c]):
                status.append(f"DTYPE col={c} got={got[c].dtype} exp={exp[c].dtype}")
    if not status:
        for c in got.columns:
            g, e = got[c], exp[c]
            try:
                same = (g.values == e.values) | (g.isna().values & e.isna().values)
            except Exception:
                same = g.astype(str).values == e.astype(str).values
            if not same.all():
                i = int((~same).argmax())
                status.append(f"VAL col={c} row={i} got={g.iloc[i]!r} exp={e.iloc[i]!r}")
    if status:
        fail += 1
        print(f"{name:28s} FAIL  {'; '.join(status)}", flush=True)
    else:
        ok += 1
        print(f"{name:28s} OK    ({len(got)} rows)", flush=True)
print(f"\n{ok} ok, {fail} fail", flush=True)
sys.exit(1 if fail else 0)
