"""Result checks for benchmark calls.

A key with a DuckDB oracle must match it exactly on the generated dir, by
the test suite's own compare, `tests/conftest.py:assert_df_matches_oracle`:
same row count, column names and pandas dtypes, and equal values after
sorting columns by name and rows by their string form (NaN equals NaN,
NULL equals NULL, NaN never equals NULL).

A key without an oracle is checked for stability: re-running the returned
plan must give the row count the timed write observed, and every later call
on the same dir must give the same schema and row count.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb

from gen import TABLES

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tests"))
from conftest import assert_df_matches_oracle  # noqa: E402


def duckdb_for(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def first_call(spark_df, oracle: str | None, con, observed_rows: int) -> tuple[str | None, int]:
    """Full check of the first call of a key on a dir: (problem or None,
    number of distinct query_id values served, 1 without that column)."""
    from pyspark.sql import functions as F

    has_queries = "query_id" in spark_df.columns
    if oracle is not None:
        try:
            assert_df_matches_oracle(spark_df, con, oracle)
        except AssertionError as e:
            return str(e), 1
        n, queries = con.execute(
            "SELECT COUNT(*), " + ("COUNT(DISTINCT query_id)" if has_queries else "1") + " FROM _oracle_result"
        ).fetchone()
    else:
        aggs = [F.count(F.lit(1))] + ([F.countDistinct("query_id")] if has_queries else [])
        got = spark_df.agg(*aggs).first()
        n, queries = got[0], (got[1] if has_queries else 1)
    if n != observed_rows:
        return f"checked result has {n} rows, the noop write saw {observed_rows}", queries
    return None, queries


def repeat_mismatch(ref_schema: str, ref_rows: int, schema: str, rows: int) -> str | None:
    """Check of a later call against the first call on the same dir."""
    if schema != ref_schema:
        return f"schema changed: {ref_schema} -> {schema}"
    if rows != ref_rows:
        return f"row count changed: {ref_rows} -> {rows}"
    return None
