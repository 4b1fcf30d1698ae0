"""Shared fixtures: one SparkSession per test session, a DuckDB connection
with the ten tables registered as views, and the parity assertion over the
driver's strict representation hash (flink_realtime_spark.strict_hash —
the same hash tools/drive_driver.py and perfbench compare, so int vs
float, "61" vs "61.0" and -0.0 vs 0.0 fail here too)."""

from __future__ import annotations

import os

import duckdb
import pytest

from flink_realtime_spark.session import get_spark
from flink_realtime_spark.strict_hash import first_difference, frame_hash
from flink_realtime_spark.tables import TABLE_NAMES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SMOKE_SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("flink-realtime-spark-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


def assert_strict_parity(key: str, scols, srows, ocols, orows) -> None:
    """Spark's (columns, rows) and the oracle's hash equal; a failure shows
    the first differing canonical line."""
    assert frame_hash(scols, srows) == frame_hash(ocols, orows), (
        f"{key}: strict hash differs\n"
        + first_difference(scols, srows, ocols, orows)
    )
