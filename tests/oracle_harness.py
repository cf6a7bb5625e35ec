"""Local replica of the driver's Spark-vs-DuckDB comparison: row count,
column names (sorted), and order-insensitive exact value equality — plus
the DuckDB views and scratch parquet tables the property tests build."""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duck_views(sf_dir: str, tables=TABLES) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def duck_run(sf_dir: str, sql: str) -> pd.DataFrame:
    con = duck_views(sf_dir)  # a relation does not keep its connection open
    return con.sql(sql).df()


def write_table(sf_dir: str, name: str, df) -> None:
    """Write a Spark frame as table ``name`` of a scratch sf_dir."""
    df.write.mode("overwrite").parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _canon(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        canon_row = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                canon_row.append(None)
            elif isinstance(v, float):
                canon_row.append(round(v, 9))
            elif hasattr(v, "item"):
                canon_row.append(v.item() if not isinstance(v, bytes) else v)
            else:
                canon_row.append(v)
        rows.append(tuple(canon_row))
    return sorted(rows, key=repr)


def compare(spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    """Return a list of mismatch descriptions; empty == match."""
    problems = []
    if len(spark_df) != len(duck_df):
        problems.append(f"rowcount spark={len(spark_df)} duck={len(duck_df)}")
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        problems.append(f"columns spark={sc} duck={dc}")
        return problems
    a, b = _canon(spark_df), _canon(duck_df)
    if a != b:
        diff_at = next(
            (i for i, (x, y) in enumerate(zip(a, b)) if x != y), min(len(a), len(b))
        )
        problems.append(
            f"values differ at sorted-row {diff_at}: "
            f"spark={a[diff_at] if diff_at < len(a) else '<none>'} "
            f"duck={b[diff_at] if diff_at < len(b) else '<none>'}"
        )
    return problems
