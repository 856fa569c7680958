"""DuckDB oracle comparison with the benchmark's own connection.

Same verdict as ``lakehouse_workshop_spark.oracle.compare_query``: equal
column names, equal dtype kinds, equal row counts and equal
order-insensitive canonical rows (floats bit-exact). The difference is
the connection: it carries an explicit ``memory_limit`` so DuckDB fits
beside the JVM heap on a small host, and it spills to the run's own
scratch directory.
"""

from __future__ import annotations

import os

import duckdb

from lakehouse_workshop_spark.catalog import TESTDATA_TABLES
from lakehouse_workshop_spark.oracle import canon_rows

MEMORY_LIMIT = "1GB"


def connect(data_dir: str, temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(
        config={"memory_limit": MEMORY_LIMIT, "threads": 2, "temp_directory": temp_dir}
    )
    for name in TESTDATA_TABLES:
        path = f"{data_dir}/{name}.parquet"
        if os.path.isdir(path):
            con.sql(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')"
            )
    return con


def _kind(dtype) -> str:
    return "i" if dtype.kind == "u" else dtype.kind


def compare(spark_df, oracle_sql: str, con: duckdb.DuckDBPyConnection) -> list[str]:
    """Mismatch descriptions; empty when Spark and DuckDB agree."""
    got = spark_df.toPandas()
    want = con.sql(oracle_sql).df()
    want.columns = [c.lower() for c in want.columns]
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns: spark={sorted(got.columns)} oracle={sorted(want.columns)}"]
    bad = [
        f"dtype-kind[{c}]: spark={got[c].dtype} oracle={want[c].dtype}"
        for c in got.columns
        if _kind(got[c].dtype) != _kind(want[c].dtype)
    ]
    if len(got) != len(want):
        bad.append(f"rows: spark={len(got)} oracle={len(want)}")
    if bad:
        return bad
    for i, (a, b) in enumerate(zip(canon_rows(got), canon_rows(want))):
        if a != b:
            bad.append(f"row {i}: spark={a!r} oracle={b!r}")
            if len(bad) >= 3:
                break
    return bad
