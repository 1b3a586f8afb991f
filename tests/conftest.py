"""Shared pytest fixtures: one SparkSession per test session, DuckDB oracle
helpers mirroring the driver's correctness gate (row-count + schema-shape +
order-insensitive value comparison)."""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

from score_spark.io import TABLES
from score_spark.session import get_session

SF_DIR = os.environ.get("SCORE_SPARK_TEST_SF_DIR", "/root/testdata/sf0.001")

# xcheck channels are sf-tagged (r9); ORACLE strings freeze at operator-module
# import and default to the driver's sf0.01 gate contract — point them at the
# test sf BEFORE any test module imports an operator module, so in-suite
# oracle runs read the channel the in-suite queries wrote
os.environ.setdefault("SCORE_SPARK_ORACLE_SF_DIR", SF_DIR)

# an analyzer failure raises instead of falling back to full schemas, so a
# walker bug cannot pass a test (or a fuzz example) behind the fallback;
# tests of the fallback itself delete it with monkeypatch
os.environ.setdefault("SCORE_SPARK_SOR_RAISE", "1")


@pytest.fixture(scope="session")
def spark():
    s = get_session(
        app_name="score-spark-tests",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=8,
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_con(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


def canonicalize(df: pd.DataFrame, float_decimals: int = 6) -> pd.DataFrame:
    """Sort columns by name, normalize dtypes, sort rows — order-insensitive
    comparable form (mirrors the driver's sort-columns-then-hash contract)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(float_decimals)
        elif s.dtype == object:
            df[c] = s.astype(str)
    df = df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)
    return df


def assert_matches_oracle(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> None:
    actual = canonicalize(spark_df.toPandas())
    expected = canonicalize(con.execute(sql).fetchdf())
    assert list(actual.columns) == list(expected.columns), (
        f"column mismatch: spark={list(actual.columns)} oracle={list(expected.columns)}"
    )
    assert len(actual) == len(expected), f"row count {len(actual)} != oracle {len(expected)}"
    pd.testing.assert_frame_equal(actual, expected, check_dtype=False, check_exact=False, rtol=1e-6, atol=1e-6)
