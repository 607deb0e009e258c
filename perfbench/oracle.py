"""DuckDB oracle check for the benchmark's query dumps.

Same rules as tools/check_oracle.py: columns sorted by name, rows sorted
into canonical order, an int column on one side against a float column
on the other is a mismatch, and floats must be bit-identical (-0.0 is
not +0.0).
"""
import glob
import os

import duckdb
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    return df.reset_index(drop=True)


def compare(spark, duck):
    """None when equal, else a one-line reason."""
    a, b = canon(spark), canon(duck)
    if list(a.columns) != list(b.columns):
        return f"SCHEMA spark={list(a.columns)} duck={list(b.columns)}"
    if len(a) != len(b):
        return f"ROWS spark={len(a)} duck={len(b)}"
    for c in a.columns:
        kinds = {a[c].dtype.kind, b[c].dtype.kind}
        if kinds in ({"i", "f"}, {"u", "f"}):
            return f"DTYPE {c}: spark={a[c].dtype} duck={b[c].dtype}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            ab = av.astype("float64").to_numpy().view("int64")
            bb = bv.astype("float64").to_numpy().view("int64")
            eq = pd.Series((av.isna() & bv.isna()).to_numpy() | (ab == bb), index=av.index)
        else:
            eq = (av.isna() & bv.isna()) | (av.astype(object) == bv.astype(object))
        if not eq.all():
            i = int((~eq).idxmax())
            return (f"VALUE {c} row={i} spark={av[i]!r} duck={bv[i]!r} "
                    f"({int((~eq).sum())} diffs)")
    return None


def check(data_dir, dump_dir, oracle_sql):
    """Maps each query in `oracle_sql` to None (equal) or a reason."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        files = glob.glob(os.path.join(dump_dir, name, "*.parquet"))
        if not files:
            out[name] = "MISSING no spark output"
            continue
        try:
            duck = con.execute(sql).fetchdf()
        except Exception as e:  # noqa: BLE001 - any oracle failure is a failed check
            out[name] = "SQLERR " + " ".join(str(e).split())[:200]
            continue
        out[name] = compare(pd.concat([pd.read_parquet(f) for f in files]), duck)
    con.close()
    return out
