"""Reusable replica of the driver's correctness gate: Spark query vs DuckDB
oracle — row count, column names, order-insensitive value hash (columns
sorted by name, floats rounded to 6dp, rows sorted)."""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def value_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    if len(df) == 0:
        return "EMPTY"
    for c in df.columns:
        if str(df[c].dtype) in ("float64", "float32"):
            df[c] = df[c].round(6)
        df[c] = df[c].astype(str)
    rows = sorted(df.apply("|".join, axis=1).tolist())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def duck_connection(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def compare_one_counted(
    spark, con, name: str, fn, sql: str | None, sf_dir: str
) -> tuple[list[str], int]:
    """(problems, spark_row_count) — runs the Spark query exactly ONCE, so
    callers that also want the row count (check_oracles' PASS line) don't
    re-execute iterative queries like template_induction a second time."""
    sdf = fn(spark, sf_dir).toPandas()
    if sql is None:
        return [], len(sdf)
    odf = con.execute(sql).df()
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rows {len(sdf)} vs {len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
    elif value_hash(sdf) != value_hash(odf):
        problems.append("value-hash mismatch")
    return problems, len(sdf)
