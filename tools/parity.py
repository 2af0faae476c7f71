#!/usr/bin/env python3
"""Local oracle-parity harness (driver-side tooling, not part of the
Spark library). Emulates the driver's t2 gate: run Verify's parquet
outputs against the DuckDB oracle SQL on the same testdata tables and
compare values exactly (columns sorted by name, rows sorted).

Usage: python3 tools/parity.py <sfdir> <verify_outdir>
"""
import sys, json, glob, os
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

def main(sfdir, outdir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    ok, bad = [], []
    for name, sql in sorted(oracle.items()):
        pq = glob.glob(os.path.join(outdir, name, "*.parquet"))
        if not pq:
            bad.append((name, "NO SPARK OUTPUT"))
            continue
        got = pd.concat([pd.read_parquet(p) for p in sorted(pq)])
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:
            bad.append((name, f"ORACLE SQL ERROR: {e}"))
            continue
        g, e = norm(got), norm(exp)
        if list(g.columns) != list(e.columns):
            bad.append((name, f"COLUMNS spark={list(g.columns)} oracle={list(e.columns)}"))
            continue
        if len(g) != len(e):
            bad.append((name, f"ROWS spark={len(g)} oracle={len(e)}"))
            continue
        diff_cols, dtype_cols = [], []
        for c in g.columns:
            a, b = g[c], e[c]
            # Driver hashes canonical STRING values, so an int64 column on
            # one side vs float64 on the other ("25" vs "25.0") is a hash
            # mismatch even when numerically equal (DuckDB HUGEINT sums
            # surface as float64/object). Flag the dtype skew explicitly.
            if {a.dtype.kind, b.dtype.kind} == {"i", "f"}:
                dtype_cols.append(f"{c} (spark={a.dtype} oracle={b.dtype})")
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                same = ((a.isna() & b.isna()) | (a == b)).all()
            else:
                same = a.astype(str).equals(b.astype(str))
            if not same:
                diff_cols.append(c)
        if dtype_cols and not diff_cols:
            bad.append((name, f"DTYPE int-vs-float (driver hash mismatch): {dtype_cols}"))
            continue
        if diff_cols:
            c = diff_cols[0]
            mism = (g[c].astype(str) != e[c].astype(str))
            i = mism.idxmax()
            bad.append((name, f"VALUES differ in {diff_cols}; e.g. row {i} col {c}: "
                              f"spark={g[c][i]!r} oracle={e[c][i]!r}"))
        else:
            ok.append((name, len(g)))
    # every row carries an oracle, so an output without one is a failure
    for name in sorted(os.listdir(outdir)):
        if os.path.isdir(os.path.join(outdir, name)) and name not in oracle:
            bad.append((name, "NO ORACLE"))
    for name, n in ok:
        print(f"  OK   {name}: {n} rows")
    for name, msg in bad:
        print(f"  FAIL {name}: {msg}")
    print(f"\n{len(ok)} ok, {len(bad)} fail")
    return 1 if bad else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
