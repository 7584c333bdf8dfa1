"""Checks each query's result against its DuckDB oracle SQL.

The comparison is the one `tools/check.py` makes: columns sorted by name,
rows sorted by every value, ints and strings compared as text, and any
float difference (a flipped sign bit included) flagged. An int column
against a float column is a mismatch, because the two render differently.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from datagen import TABLES


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns),
                            kind="mergesort").reset_index(drop=True)
    return df


def _compare(spark_df, ora_df):
    """None when the frames match, else the first difference found."""
    if list(spark_df.columns) != list(ora_df.columns):
        return (f"columns spark={list(spark_df.columns)} "
                f"oracle={list(ora_df.columns)}")
    if len(spark_df) != len(ora_df):
        return f"rows spark={len(spark_df)} oracle={len(ora_df)}"
    for c in spark_df.columns:
        a, b = spark_df[c].values, ora_df[c].values
        a_float = np.issubdtype(spark_df[c].dtype, np.floating)
        b_float = np.issubdtype(ora_df[c].dtype, np.floating)
        a_int = np.issubdtype(spark_df[c].dtype, np.integer)
        b_int = np.issubdtype(ora_df[c].dtype, np.integer)
        if (a_float and b_int) or (a_int and b_float):
            return (f"col {c} dtype spark={spark_df[c].dtype} "
                    f"oracle={ora_df[c].dtype}")
        if a_float or b_float:
            af, bf = a.astype(float), b.astype(float)
            bad = ~(((af == bf) & (np.signbit(af) == np.signbit(bf)))
                    | (np.isnan(af) & np.isnan(bf)))
        else:
            bad = (pd.Series(a).astype(str).values
                   != pd.Series(b).astype(str).values)
        if bad.any():
            i = int(np.argmax(bad))
            return (f"col {c} row {i}: spark={a[i]!r} oracle={b[i]!r} "
                    f"(n_bad={int(bad.sum())})")
    return None


def check(verify_dir, data_dir, oracle_sql, queries):
    """Map each query to None (matches its oracle) or a failure reason."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {max(1, len(os.sched_getaffinity(0)))}")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    try:
        for q in queries:
            sql = oracle_sql.get(q)
            files = glob.glob(os.path.join(verify_dir, q, "*.parquet"))
            if not files:
                out[q] = "no result written"
            elif sql is None:
                # no SQL-expressible oracle: the suite's weaker rows-only check
                n = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
                out[q] = None if n > 0 else "no oracle SQL and no rows"
            else:
                try:
                    spark_df = _norm(pd.concat(
                        [pd.read_parquet(f) for f in files]))
                    out[q] = _compare(spark_df, _norm(con.execute(sql).df()))
                except Exception as e:  # a failing oracle is a failed check
                    out[q] = f"{type(e).__name__}: {e}"
    finally:
        con.close()
    return out
