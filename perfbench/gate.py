"""Correctness gate, run after timing with no timer.

Batch queries are compared with their DuckDB oracle under the rules of
``tools/oracle_check.py``: same column names, same row count, and the same
order-insensitive canonical rows, with floats equal to a relative and
absolute tolerance of 1e-7. The stream store is compared exactly with the
last-write-wins state computed from the generated feed.
"""

from __future__ import annotations

import os

import duckdb

from tools.oracle_check import canon_rows, near


def oracle_connection(data_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_query(spark_cols, spark_rows, con, sql: str) -> str | None:
    """``None`` when the Spark output matches the oracle, else the reason."""
    res = con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    if sorted(spark_cols) != sorted(d_cols):
        return f"columns differ: spark={sorted(spark_cols)} oracle={sorted(d_cols)}"
    if len(spark_rows) != len(d_rows):
        return f"row count differs: spark={len(spark_rows)} oracle={len(d_rows)}"
    _, cs = canon_rows(spark_cols, spark_rows)
    _, cd = canon_rows(d_cols, d_rows)
    bad = [
        (a, b)
        for a, b in zip(cs, cd)
        if a != b and not all(x == y or near(x, y) for x, y in zip(a, b))
    ]
    if bad:
        return f"{len(bad)} rows differ; first: spark={bad[0][0]} oracle={bad[0][1]}"
    return None


def check_store(store_df, expected: set[tuple]) -> str | None:
    """``None`` when the store holds exactly ``expected``."""
    got = [
        tuple(r)
        for r in store_df.select("pk", "event_type", "value", "props", "ts_ms", "seq").collect()
    ]
    if len(got) != len(set(got)):
        return "store holds duplicate rows"
    missing, extra = len(expected - set(got)), len(set(got) - expected)
    if missing or extra:
        return f"store differs from last-write-wins: {missing} missing, {extra} extra"
    return None
