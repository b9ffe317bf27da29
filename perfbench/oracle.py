"""Output check against the DuckDB oracles, with the test suite's comparison
(``tests/conftest.py``): columns sorted by name, the same dtype class on both
sides, rows sorted, exact values."""

from __future__ import annotations

import duckdb
import pandas as pd

from profitscout_engine_spark.catalog import TABLES
from tests.conftest import assert_frames_match


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{data_dir}/{name}.parquet'")
    return con


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` equals ``want``, else a one-line reason."""
    try:
        assert_frames_match(got, want)
    except AssertionError as e:
        return " ".join(str(e).split())[:300]
    return None
