"""Local mirror of the driver's correctness gate (SURVEY.md §3.3):
run queries()[name] in Spark and oracle_sql()[name] in DuckDB over the same
parquet tables; compare row count + column names + order-insensitive
canonicalized values. Stricter than the driver (exact values, not hashes)
so mismatches are debuggable."""

from __future__ import annotations

import datetime
import math
from decimal import Decimal

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_run(sf_dir: str, sql: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con.execute(sql).df()


def _cell(x) -> str:
    if x is None:
        return "∅"
    if isinstance(x, float):
        if math.isnan(x):
            return "∅"
        if x == int(x) and abs(x) < 1e15:
            return repr(round(x, 10))
        return repr(x)
    if isinstance(x, Decimal):
        return repr(float(x))
    if isinstance(x, (datetime.datetime,)):
        return x.isoformat()
    if isinstance(x, (datetime.date,)):
        return x.isoformat()
    if hasattr(x, "isoformat"):
        return x.isoformat()
    if isinstance(x, (int,)):
        return repr(int(x))
    return str(x)


def canon(df) -> tuple[list[str], list[tuple]]:
    import pandas as pd

    cols = sorted(df.columns)
    pdf = df[cols]
    rows = []
    for row in pdf.itertuples(index=False, name=None):
        rows.append(tuple(_cell(None if (isinstance(v, float) and pd.isna(v)) or v is pd.NaT or (v is None) else v) for v in row))
    return cols, sorted(rows)


def compare(spark_df, duck_df) -> list[str]:
    """Returns a list of problems; empty = parity."""
    problems: list[str] = []
    s_pdf = spark_df.toPandas()
    s_cols, s_rows = canon(s_pdf)
    d_cols, d_rows = canon(duck_df)
    if s_cols != d_cols:
        problems.append(f"columns differ: spark={s_cols} duck={d_cols}")
        return problems
    if len(s_rows) != len(d_rows):
        problems.append(f"row count differs: spark={len(s_rows)} duck={len(d_rows)}")
    for i, (a, b) in enumerate(zip(s_rows, d_rows)):
        if a != b:
            problems.append(f"first diff at sorted row {i}: spark={a} duck={b}")
            break
    return problems
