"""DuckDB oracle comparison for one query's check output.

The rules are those of the repository's scripts/check.py: run the oracle SQL
in DuckDB over the same parquet tables, sort columns by name and rows by all
columns, then compare cell by cell; floats must match exactly (a difference
within 1e-9 is still a failure, as it is there).
"""
import math
import threading

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

_connections = {}


def _connection(data):
    # one connection per thread: a DuckDB connection must not be shared by
    # threads running queries at the same time (the self-check runs
    # workloads side by side)
    key = (data, threading.get_ident())
    con = _connections.get(key)
    if con is None:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        _connections[key] = con
    return con


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def cell_eq(a, b):
    if a is None and b is None:
        return True, True
    if (a is None) != (b is None):
        return False, False
    try:
        if isinstance(a, float) or isinstance(b, float):
            fa, fb = float(a), float(b)
            if math.isnan(fa) and math.isnan(fb):
                return True, True
            exact = fa == fb
            tol = exact or abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
            return exact, tol
    except (TypeError, ValueError):
        pass
    eq = str(a) == str(b)
    return eq, eq


def _none(v):
    return None if (v is None or (isinstance(v, float) and math.isnan(v))) else v


def compare(spark_out, sql, data):
    """None if the Spark output at `spark_out` equals the oracle's answer,
    else the reason it does not."""
    try:
        got = canon(pd.read_parquet(spark_out))
    except Exception as e:  # noqa: BLE001 - any unreadable output is a failure
        return f"spark output unreadable: {e}"
    try:
        exp = canon(_connection(data).execute(sql).fetchdf())
    except Exception as e:  # noqa: BLE001
        return f"oracle error: {e}"
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs oracle {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs oracle {len(exp)}"
    for col in got.columns:
        for i, (a, b) in enumerate(zip(got[col], exp[col])):
            exact, tol = cell_eq(_none(a), _none(b))
            if not exact:
                kind = "float-only diff within 1e-9" if tol else "diff"
                return f"{kind} at col={col} row={i}: spark={_none(a)!r} oracle={_none(b)!r}"
    return None
