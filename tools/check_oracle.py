#!/usr/bin/env python3
"""Local pre-check mimicking the driver's correctness gate:
run Verify's oracle_sql.json in DuckDB over the same sf dir and compare
each result to the Spark parquet dump (columns sorted by name, rows
sorted, values hashed).

    check_oracle.py <sf_dir> <verify_out> [q1,q2,...]

With the optional comma list (the same list given to Verify), only the
named queries are checked; a named query with no Spark output still
counts as bad. A table may be one parquet file or a directory of part
files (as `graft.Scale.writeTables` writes them)."""
import sys, json, glob, os
import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    return df.reset_index(drop=True)

def main(sf_dir: str, out_dir: str, only=None) -> None:
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p += "/*.parquet"
        if glob.glob(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    if only is not None:
        unknown = sorted(only - oracle.keys())
        if unknown:
            sys.exit(f"no oracle for: {', '.join(unknown)}")
        oracle = {k: v for k, v in oracle.items() if k in only}
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        spark_files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not spark_files:
            print(f"MISSING  {name}: no spark output"); n_bad += 1; continue
        try:
            duck = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"SQLERR   {name}: {e}"); n_bad += 1; continue
        spark = pd.concat([pd.read_parquet(f) for f in spark_files])
        a, b = canon(spark), canon(duck)
        if list(a.columns) != list(b.columns):
            print(f"SCHEMA   {name}: spark={list(a.columns)} duck={list(b.columns)}"); n_bad += 1; continue
        if len(a) != len(b):
            print(f"ROWS     {name}: spark={len(a)} duck={len(b)}"); n_bad += 1; continue
        # The driver hashes SERIALIZED values, so an int column on one
        # side vs float on the other ("3" vs "3.0") is red even when the
        # numbers match — e.g. DuckDB window sum(BIGINT) -> HUGEINT
        # round-trips to float64 in fetchdf(). Flag it before the
        # bit-level compare below (which would cast both and pass).
        dtype_bad = [
            c for c in a.columns
            if {a[c].dtype.kind, b[c].dtype.kind} == {'i', 'f'}
            or {a[c].dtype.kind, b[c].dtype.kind} == {'u', 'f'}
        ]
        if dtype_bad:
            print(f"DTYPE    {name}: int-vs-float columns "
                  f"{[(c, str(a[c].dtype), str(b[c].dtype)) for c in dtype_bad]}"
                  " (driver hash compares serialized text; cast the oracle)")
            n_bad += 1
            continue
        mismatch = None
        for c in a.columns:
            av, bv = a[c], b[c]
            if av.dtype.kind == 'f' or bv.dtype.kind == 'f':
                # Bit-exact, like the driver's value hash: -0.0 != +0.0.
                ab = av.astype('float64').to_numpy().view('int64')
                bb = bv.astype('float64').to_numpy().view('int64')
                eq = pd.Series((av.isna() & bv.isna()).to_numpy() | (ab == bb),
                               index=av.index)
            else:
                eq = (av.isna() & bv.isna()) | (av.astype(object) == bv.astype(object))
            if not eq.all():
                i = int((~eq).idxmax())
                mismatch = (c, i, av[i], bv[i], int((~eq).sum()))
                break
        if mismatch:
            c, i, x, y, k = mismatch
            print(f"VALUE    {name}: col={c} row={i} spark={x!r} duck={y!r} ({k} diffs)")
            n_bad += 1
        else:
            print(f"OK       {name} ({len(a)} rows)"); n_ok += 1
    print(f"\n{n_ok} ok / {n_bad} bad")
    sys.exit(1 if n_bad else 0)

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2],
         set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None)
