"""Output checks read with DuckDB, outside Spark: the registry queries'
DuckDB oracles (their ``sql``) and the parquet the benchmark publishes are
both reduced to one canonical, order-insensitive row list."""

from __future__ import annotations

import datetime as dt
import decimal
import os

import duckdb

def _canon(v):
    if isinstance(v, (float, decimal.Decimal)):
        return round(float(v), 6) + 0.0
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def canon(rel) -> list:
    """Rows of a DuckDB result as sorted tuples of ``repr`` strings, columns
    in name order, floats rounded to 6 places."""
    cols = [d[0] for d in rel.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(repr(_canon(r[i])) for i in order)
                  for r in rel.fetchall())


def scan(path: str) -> str:
    """DuckDB table expression for a Spark parquet output directory."""
    return (f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)")


def oracle_rows(sf_dir: str, sql: str) -> list:
    """Run a registry query's oracle ``sql`` over the ``<table>.parquet``
    files under ``sf_dir``."""
    with duckdb.connect() as con:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(sf_dir, f)
                con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                            f"SELECT * FROM read_parquet('{path}')")
        return canon(con.execute(sql))


def published_rows(path: str) -> list:
    with duckdb.connect() as con:
        return canon(con.execute(f"SELECT * FROM {scan(path)}"))


def query(sql: str) -> list[tuple]:
    with duckdb.connect() as con:
        return con.execute(sql).fetchall()
