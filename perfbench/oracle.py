"""DuckDB oracle check for the batch workloads.

Each `SparkEntry` op's check-pass output (parquet, written in the op's
total order) is compared with its `oracleSql` run by DuckDB over the same
generated tables: columns sorted by name, rows in order, numbers equal
as numbers and everything else equal as text.
"""
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ("documents", "embeddings")


def _same_column(a, b):
    if pd.api.types.is_numeric_dtype(a) and pd.api.types.is_numeric_dtype(b) \
            and not pd.api.types.is_bool_dtype(a) and not pd.api.types.is_bool_dtype(b):
        x, y = a.to_numpy(np.float64), b.to_numpy(np.float64)
        return np.array_equal(x, y, equal_nan=True)
    return (a.astype(str).to_numpy() == b.astype(str).to_numpy()).all()


def compare(data_dir, check_dir, sql_by_op):
    """Returns [(op, reason)] for every op whose output differs. DuckDB
    spills, if ever, next to the check outputs."""
    con = duckdb.connect(config={"threads": 4, "memory_limit": "2GB",
                                 "temp_directory": os.path.join(check_dir, "duckdb")})
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = []
    for op, sql in sql_by_op.items():
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{check_dir}/{op}/*.parquet')").fetchdf()
            want = con.execute(sql).fetchdf()
        except Exception as e:  # a failing oracle or unreadable output is a mismatch
            bad.append((op, f"oracle run failed: {str(e).splitlines()[0][:200]}"))
            continue
        got, want = got[sorted(got.columns)], want[sorted(want.columns)]
        if list(got.columns) != list(want.columns):
            bad.append((op, f"columns {list(got.columns)} != {list(want.columns)}"))
        elif len(got) != len(want):
            bad.append((op, f"{len(got)} rows != oracle {len(want)} rows"))
        else:
            cols = [c for c in got.columns if not _same_column(
                got[c].reset_index(drop=True), want[c].reset_index(drop=True))]
            if cols:
                bad.append((op, f"values differ in columns {cols} over {len(got)} rows"))
    con.close()
    return bad
