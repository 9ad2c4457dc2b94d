"""Oracle gate: each query's result against DuckDB running the query's
`SparkEntry.oracleSql` over the same generated tables.

Comparison rules are those of scripts/localcheck.py: same column names,
same row count, and equal values once columns are sorted by name and rows by
all columns, floats compared exactly and timestamps at microsecond
precision.
"""
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _compare(got, exp):
    gc, ec = sorted(got.columns), sorted(exp.columns)
    if gc != ec:
        return f"columns {gc} != {ec}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    g = got[gc].sort_values(gc).reset_index(drop=True)
    e = exp[ec].sort_values(ec).reset_index(drop=True)
    for c in gc:
        if str(g[c].dtype).startswith("datetime") or str(e[c].dtype).startswith("datetime"):
            g[c] = pd.to_datetime(g[c]).astype("datetime64[us]")
            e[c] = pd.to_datetime(e[c]).astype("datetime64[us]")
    if g.equals(e):
        return None
    for c in gc:
        neq = (g[c] != e[c]) & ~(g[c].isna() & e[c].isna())
        if neq.any():
            i = neq.idxmax()
            return f"value mismatch at column {c} row {i}: {g[c][i]!r} != {e[c][i]!r}"
    dt = {c: (str(g[c].dtype), str(e[c].dtype)) for c in gc if str(g[c].dtype) != str(e[c].dtype)}
    return f"dtype mismatch (got, expected): {dt}"


def gate(data_dir, results_dir, verify, oracle_sql):
    """Returns {query: None if it passes, else the reason}. `verify` is the
    harness's per-query status: "written" (parquet to compare), "digest_ok"
    (no oracle; two runs agreed on row count and digest), or an error."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for name, status in sorted(verify.items()):
        if status == "digest_ok":
            out[name] = None
            continue
        if status != "written":
            out[name] = status
            continue
        try:
            got = pd.read_parquet(os.path.join(results_dir, name))
            exp = con.execute(oracle_sql[name]).fetchdf()
            out[name] = _compare(got, exp)
        except Exception as e:  # an oracle or read error fails the query, never the run
            out[name] = f"compare error: {type(e).__name__}: {str(e)[:200]}"
    con.close()
    return out
