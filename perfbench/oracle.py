"""DuckDB oracle for the benchmark's checked outputs.

Each checked output is a parquet directory the harness wrote, plus the
oracle SQL graft ships for it (`SparkEntry.oracleSql`). DuckDB runs the SQL
over the same generated tables; rows are compared after sorting columns by
name and rows by value. Floats must match bit for bit, sign of zero
included; dtype kinds must agree.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd


def connect(table_dir):
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for d in sorted(glob.glob(os.path.join(table_dir, "*.parquet"))):
        name = os.path.basename(d)[: -len(".parquet")]
        src = f"read_parquet('{d}/*.parquet')"
        cols = con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall()
        # graft reads these columns as session-UTC TIMESTAMP; DuckDB's
        # naive TIMESTAMP is the same instant in a UTC session
        sel = ", ".join(
            f'CAST("{c}" AS TIMESTAMP) AS "{c}"' if t == "TIMESTAMP WITH TIME ZONE" else f'"{c}"'
            for c, t, *_ in cols)
        con.sql(f"CREATE VIEW {name} AS SELECT {sel} FROM {src}")
    return con


def float_neq(a, b):
    """Elementwise inequality that tells -0.0 from 0.0 and lets NaN match NaN."""
    x = a.to_numpy(dtype="float64")
    y = b.to_numpy(dtype="float64")
    both_nan = np.isnan(x) & np.isnan(y)
    same = ((x == y) & (np.signbit(x) == np.signbit(y))) | both_nan
    return pd.Series(~same, index=a.index)


def naive_utc(df):
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
        if df[c].dtype.kind == "M":
            df[c] = df[c].astype("datetime64[us]")
    return df


def compare(got, exp):
    """Returns None when equal, else a one-line reason."""
    gc, ec = sorted(got.columns), sorted(exp.columns)
    if gc != ec:
        return f"columns {gc} != {ec}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    g = naive_utc(got[gc]).sort_values(gc, ignore_index=True)
    e = naive_utc(exp[ec]).sort_values(ec, ignore_index=True)
    for c in gc:
        gk = "i" if g[c].dtype.kind == "u" else g[c].dtype.kind
        ek = "i" if e[c].dtype.kind == "u" else e[c].dtype.kind
        if (gk in "if" or ek in "if") and gk != ek:
            return f"col {c} dtype {g[c].dtype} != {e[c].dtype}"
        if gk == "f" or ek == "f":
            neq = float_neq(g[c], e[c])
        else:
            try:
                neq = ~((g[c] == e[c]) | (g[c].isna() & e[c].isna()))
            except (TypeError, ValueError):
                neq = g[c].astype(str) != e[c].astype(str)
        if neq.any():
            i = int(neq.to_numpy().argmax())
            return f"col {c} row {i}: graft={g[c][i]!r} duckdb={e[c][i]!r}"
    return None


def check(table_dir, outputs):
    """outputs: [{"name", "path", "sql", "dependents"}]. Returns
    [(name, reason or None, dependents)]."""
    con = connect(table_dir)
    results = []
    for o in outputs:
        files = sorted(glob.glob(os.path.join(o["path"], "*.parquet")))
        try:
            got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) if files else None
            exp = con.sql(o["sql"]).df()
            reason = "no output written" if got is None else compare(got, exp)
        except Exception as e:  # an oracle that cannot run is a failed check
            reason = f"{type(e).__name__}: {e}"
        results.append((o["name"], reason, o["dependents"]))
    return results
