"""Shared Spark fixture (one local session for the whole suite) and
the DuckDB oracle comparison helpers."""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

from activity_classifier_spark_cassandra_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="actitracker-tests", master="local[4]", shuffle_partitions=4
    )
    yield s
    s.stop()


_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def duckdb_frame(sql: str, sf_dir: str) -> pd.DataFrame:
    """DuckDB's result of ``sql`` over one view per table found in
    ``sf_dir`` as ``<table>.parquet`` (a file, or a directory of part
    files)."""
    con = duckdb.connect()
    try:
        for t in _TABLES:
            src = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.isdir(src):
                src = os.path.join(src, "*.parquet")
            elif not os.path.exists(src):
                continue
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')"
            )
        return con.execute(sql).df()
    finally:
        con.close()


def assert_same_rows(got: pd.DataFrame, want: pd.DataFrame, **tol) -> None:
    """Same column names and the same rows in any order; ``tol`` is
    passed on (rtol/atol)."""
    cols = sorted(got.columns)
    assert cols == sorted(want.columns)
    pd.testing.assert_frame_equal(
        got[cols].sort_values(cols).reset_index(drop=True),
        want[cols].sort_values(cols).reset_index(drop=True),
        check_dtype=False,
        **tol,
    )
