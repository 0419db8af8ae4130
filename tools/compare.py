#!/usr/bin/env python3
"""Dev harness replicating the driver's t2 correctness gate:
run each oracle SQL in DuckDB against the sf parquet tables, load the
Verify-dumped parquet, and compare (columns sorted by name, rows sorted,
exact values). Usage: compare.py <sfDir> <verifyOutDir>"""
import sys, os, json, glob
import duckdb
import pandas as pd
import numpy as np

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def load_result(outdir, name):
    path = os.path.join(outdir, name)
    files = glob.glob(os.path.join(path, "*.parquet"))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes for sorting/compare
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def main(sfdir, outdir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    # oracle keys as well as output dirs: a query that threw before its
    # write leaves no directory, and must count as a failure, not vanish
    dirs = {n for n in os.listdir(outdir)
            if os.path.isdir(os.path.join(outdir, n))}
    n_pass = n_fail = 0
    for name in sorted(dirs | set(oracle)):
        if name not in dirs:
            print(f"[FAIL] {name}: no output"); n_fail += 1; continue
        got = load_result(outdir, name)
        if got is None:
            print(f"[FAIL] {name}: no parquet output"); n_fail += 1; continue
        if name not in oracle:
            print(f"[rows] {name}: {len(got)} rows (no oracle)"); continue
        try:
            # Arrow path, NOT .df(): the pandas bridge returns DECIMAL(38,0)
            # as float64, so digests beyond 2^53 collapse to the same lossy
            # double on both sides and the gate passes what the driver's
            # exact-hash gate rejects (round-6 q124/q152/q157). Arrow
            # preserves decimal128 as exact Decimal objects.
            exp_arrow = con.sql(oracle[name]).fetch_arrow_table()
            exp = exp_arrow.to_pandas()
        except Exception as e:
            print(f"[FAIL] {name}: oracle SQL error: {e}"); n_fail += 1; continue
        # Policy (round-6 postmortem): no oracle may SURFACE a decimal —
        # the driver's pandas bridge collapses it to float64, which is
        # lossy beyond 2^53 and only coincidentally exact below. Cast to
        # DOUBLE or fold to BIGINT in the SQL.
        deccols = [f.name for f in exp_arrow.schema if "decimal" in str(f.type)]
        if deccols:
            print(f"[FAIL] {name}: oracle emits DECIMAL {deccols} — cast to DOUBLE/BIGINT")
            n_fail += 1; continue
        g, e = canon(got), canon(exp)
        if list(g.columns) != list(e.columns):
            print(f"[FAIL] {name}: columns {list(g.columns)} vs {list(e.columns)}"); n_fail += 1; continue
        if len(g) != len(e):
            print(f"[FAIL] {name}: rows {len(g)} vs {len(e)}"); n_fail += 1; continue
        bad = []
        for c in g.columns:
            gv, ev = g[c].values, e[c].values
            # Float branch ONLY when both sides are true numeric dtypes:
            # an object column (Decimal, str) against a float must go to
            # the exact string branch, or astype(float) collapses both to
            # the same lossy double and masks exactly what the driver's
            # hash gate detects.
            both_num = (np.issubdtype(g[c].dtype, np.number)
                        and np.issubdtype(e[c].dtype, np.number))
            if both_num and (np.issubdtype(g[c].dtype, np.floating)
                             or np.issubdtype(e[c].dtype, np.floating)):
                eq = np.allclose(gv.astype(float), ev.astype(float), rtol=0, atol=0, equal_nan=True)
                close = np.allclose(gv.astype(float), ev.astype(float), rtol=1e-9, atol=1e-12, equal_nan=True)
                if not eq:
                    bad.append((c, "exact" if close else "VALUE", None))
            else:
                try:
                    neq = ~(pd.Series(gv).astype(str) == pd.Series(ev).astype(str))
                except Exception:
                    neq = pd.Series([True])
                if neq.any():
                    i = int(np.argmax(neq.values))
                    bad.append((c, "VALUE", (g[c].iloc[i], e[c].iloc[i])))
        if bad:
            print(f"[FAIL] {name}: {len(g)} rows; mismatched cols: {bad[:4]}")
            n_fail += 1
        else:
            print(f"[PASS] {name}: {len(g)} rows x {len(g.columns)} cols")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
