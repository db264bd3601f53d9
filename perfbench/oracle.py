"""Compare the harness's query outputs with their DuckDB twins
(graft.SparkEntry.oracleSql), the same way the repository's correctness
gate does: row order ignored, values exact, integer widths normalized."""
import os
import time

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _connect(data_dir, tmp_dir):
    con = duckdb.connect()
    con.sql("SET threads=4")
    con.sql(f"SET temp_directory='{tmp_dir}'")
    for t in TABLES:
        p = f"{data_dir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def _norm(df):
    df = df.copy()
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    cols = sorted(df.columns)
    return df[cols].sort_values(cols).reset_index(drop=True)


def compare(entries, tmp_dir):
    """entries: dicts with name, out (parquet dir), data (table dir) and
    sql (None when the query has no twin: then non-empty output is the
    check). Returns [(name, ok, detail, rows)]."""
    results = []
    cons = {}
    try:
        for e in entries:
            name, data = e["name"], e["data"]
            t0 = time.time()
            if data not in cons:
                cons[data] = _connect(data, tmp_dir)
            con = cons[data]
            try:
                got = con.sql(f"SELECT * FROM read_parquet('{e['out']}/*.parquet')").fetchdf()
            except Exception as ex:  # noqa: BLE001 - reported as a failure
                results.append((name, False, f"output unreadable: {ex}", 0))
                continue
            if e.get("sql") is None:
                results.append((name, len(got) > 0, f"{len(got)} rows, no twin",
                                len(got)))
                continue
            try:
                want = con.sql(e["sql"]).fetchdf()
            except Exception as ex:  # noqa: BLE001
                results.append((name, False, f"oracle error: {ex}", len(got)))
                continue
            if sorted(got.columns) != sorted(want.columns):
                results.append((name, False, "columns differ", len(got)))
                continue
            g, w = _norm(got), _norm(want)
            if len(g) != len(w):
                results.append((name, False,
                                f"rows differ: {len(g)} vs {len(w)}", len(got)))
                continue
            try:
                pd.testing.assert_frame_equal(g, w, check_dtype=True,
                                              check_exact=True)
                results.append((name, True, f"{len(g)} rows match "
                                f"({time.time() - t0:.1f} s)", len(got)))
            except AssertionError as ex:
                results.append((name, False, f"values differ: {str(ex)[:300]}",
                                len(got)))
    finally:
        for c in cons.values():
            c.close()
    return results
