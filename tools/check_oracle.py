#!/usr/bin/env python3
"""Dev-side replica of the driver's DuckDB correctness gate.

Usage: python3 tools/check_oracle.py <sf_dir> <verify_out_dir> [--only a,b]
Compares each <outDir>/<name> parquet against the oracle SQL run in
DuckDB over views named after the test tables. An oracle query with no
output directory (it threw in Verify) fails. Columns sorted by name,
rows sorted by all columns, exact value compare (floats: exact, since
the engine is designed for bit-parity; reports max delta if not).

--only restricts the compare to the named queries (pair it with the same
list as `graft.Verify`'s third argument): a quick row check for one
operator. A named query with no output directory still fails; the full
run, without --only, is the gate.
"""
import argparse, sys, json, glob, os
import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

def main(sf_dir, out_dir, only=None):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    names = sorted(d for d in os.listdir(out_dir) if os.path.isdir(f"{out_dir}/{d}"))
    if only is not None:
        unknown = only - set(oracle) - set(names)
        if unknown:
            print(f"unknown --only names (no oracle SQL, no output): {','.join(sorted(unknown))}")
            return 2
        oracle = {k: v for k, v in oracle.items() if k in only}
        names = [n for n in names if n in only]
    n_pass = n_fail = n_rowsonly = 0
    # a query that threw in Verify leaves no output directory: it fails
    for name in sorted(set(oracle) - set(names)):
        print(f"FAIL {name}: no output directory")
        n_fail += 1
    for name in names:
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        if name not in oracle:
            print(f"ROWS-ONLY {name}: rows={len(got)}")
            n_rowsonly += 1
            continue
        try:
            exp = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error {str(e)[:200]}")
            n_fail += 1
            continue
        g, e = norm(got), norm(exp)
        if list(g.columns) != list(e.columns):
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(e.columns)}")
            n_fail += 1
            continue
        if len(g) != len(e):
            print(f"FAIL {name}: rows {len(g)} vs {len(e)}")
            n_fail += 1
            continue
        ok = True
        for c in g.columns:
            a, b = g[c], e[c]
            # The real driver hash-compares stringified values, so an
            # int64 Spark column vs a float64 oracle column ("56" vs
            # "56.0") is a mismatch even when values are equal. DuckDB
            # sum(INT) returns HUGEINT -> float64 in fetchdf; oracle SQL
            # must CAST such sums to BIGINT.
            if a.dtype.kind != b.dtype.kind and 'f' in (a.dtype.kind, b.dtype.kind):
                print(f"  col {c}: dtype kind mismatch spark={a.dtype} oracle={b.dtype} (driver hash would fail)")
                ok = False
                continue
            try:
                if a.dtype.kind == 'f' or b.dtype.kind == 'f':
                    import numpy as np
                    aa, bb = a.astype(float).values, b.astype(float).values
                    nn = ~(pd.isna(aa) & pd.isna(bb))
                    if not (aa[nn] == bb[nn]).all():
                        d = abs(aa[nn] - bb[nn]).max()
                        print(f"  col {c}: max |delta| = {d}")
                        ok = False
                else:
                    if not (a.astype(str).values == b.astype(str).values).all():
                        bad = (a.astype(str).values != b.astype(str).values)
                        i = bad.argmax()
                        print(f"  col {c}: first mismatch row {i}: {a.iloc[i]!r} vs {b.iloc[i]!r}")
                        ok = False
            except Exception as ex:
                print(f"  col {c}: compare error {ex}")
                ok = False
        if ok:
            print(f"PASS {name}: {len(g)} rows")
            n_pass += 1
        else:
            print(f"FAIL {name}")
            n_fail += 1
    print(f"\n== {n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if n_fail else 0

if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="Compare graft.Verify output with the DuckDB oracle.")
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--only", help="comma-separated query names to compare (default: all)")
    a = ap.parse_args()
    only = None if a.only is None else {n.strip() for n in a.only.split(",") if n.strip()}
    sys.exit(main(a.sf_dir, a.out_dir, only))
