#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL
in DuckDB against the fixture tables and compare (column-name-sorted,
row-sorted, exact) with the parquet the Verify main dumped.

Usage: python3 tools/check.py [sfDir] [verifyOutDir]
       python3 tools/check.py [sfDir] verifyOutDir --against parentOutDir

With --against, no oracle runs: every dump of verifyOutDir, the
no-oracle ones included, is compared the same way with the dump of the
same name in parentOutDir (a Verify run of the parent commit at the
same scale). Each query whose rows differ, or that only one side
dumped, is printed; the exit code is non-zero if any differs.
"""
import argparse, os, glob, json
import duckdb
import pandas as pd
import numpy as np

ap = argparse.ArgumentParser()
ap.add_argument("sf", nargs="?", default="/root/testdata/sf0.01")
ap.add_argument("out", nargs="?", default="/tmp/verify_out")
ap.add_argument("--against", metavar="parentOutDir")
args = ap.parse_args()
sf, out = args.sf, args.out

con = duckdb.connect()


def dumps(d):
    """Query name -> result dir, for every dir of `d` holding parquet."""
    return {n: os.path.join(d, n) for n in sorted(os.listdir(d))
            if glob.glob(os.path.join(d, n, "*.parquet"))}


def read(resdir):
    return con.sql(f"SELECT * FROM '{resdir}/*.parquet'").df()


def mismatch(got, want):
    """Why `got` and `want` differ as row multisets, or None if they do
    not: column names sorted, rows sorted, values exact (NaN = NaN)."""
    # array-typed cells (numpy arrays / lists) are unhashable — canonicalize
    for df in (got, want):
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].map(
                    lambda v: tuple(v.tolist()) if isinstance(v, np.ndarray)
                    else tuple(v) if isinstance(v, list) else v)
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return f"columns {gc} vs {wc}"
    g = got[gc].sort_values(gc, kind="mergesort").reset_index(drop=True)
    w = want[wc].sort_values(wc, kind="mergesort").reset_index(drop=True)
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    bad = []
    for c in gc:
        a, b = g[c], w[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            eq = np.isclose(a.astype(float), b.astype(float),
                            rtol=0, atol=0, equal_nan=True)
            exact = eq.all()
        else:
            try:
                exact = (a.astype(object).where(pd.notna(a), None)
                         == b.astype(object).where(pd.notna(b), None)).all()
            except Exception:
                exact = False
        if not exact:
            bad.append(c)
    if not bad:
        return None
    lines = [f"value mismatch in {bad}"]
    for c in bad[:2]:
        diff = g[c] != w[c]
        for i in diff[diff].index[:3]:
            lines.append(f"   row{i} {c}: got={g[c][i]!r} want={w[c][i]!r}")
    return "\n".join(lines)


if args.against:
    mine, theirs = dumps(out), dumps(args.against)
    n_same = n_diff = 0
    for name in sorted(set(mine) | set(theirs)):
        if name not in mine or name not in theirs:
            side = out if name not in mine else args.against
            print(f"DIFF {name}: no dump in {side}")
            n_diff += 1
            continue
        why = mismatch(read(mine[name]), read(theirs[name]))
        if why:
            print(f"DIFF {name}: {why}")
            n_diff += 1
        else:
            n_same += 1
    print(f"\n{n_same} identical, {n_diff} differ")
    raise SystemExit(1 if n_diff else 0)

for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

oracle = json.load(open(f"{out}/oracle_sql.json"))
n_pass = n_fail = 0
# Verify writes per-query exceptions here; a failed query dumps no
# parquet dir, so without this it would vanish from the report
fail_path = f"{out}/_failures.json"
failed = set()
if os.path.exists(fail_path):
    for name, msg in sorted(json.load(open(fail_path)).items()):
        print(f"FAIL {name}: query threw: {msg}")
        n_fail += 1
        failed.add(name)
for name in sorted(os.listdir(out)):
    if name in failed:
        # already counted above; any dir of that name is a partial
        # write (or stale from a prior Verify into the same outDir) —
        # comparing it would double-count and muddy the report
        continue
    resdir = os.path.join(out, name)
    if not os.path.isdir(resdir):
        continue
    files = glob.glob(f"{resdir}/*.parquet")
    if not files:
        print(f"FAIL {name}: no result parquet")
        n_fail += 1
        continue
    got = read(resdir)
    if name not in oracle:
        print(f"----  {name}: no oracle ({len(got)} rows)")
        continue
    try:
        want = con.sql(oracle[name]).df()
    except Exception as e:
        print(f"FAIL {name}: oracle SQL error: {e}")
        n_fail += 1
        continue
    why = mismatch(got, want)
    if why:
        print(f"FAIL {name}: {why}")
        n_fail += 1
    else:
        print(f"PASS  {name} ({len(got)} rows)")
        n_pass += 1
print(f"\n{n_pass} pass, {n_fail} fail, {len(oracle)} oracles")
raise SystemExit(1 if n_fail else 0)
