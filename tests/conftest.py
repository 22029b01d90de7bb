from __future__ import annotations

import os

import duckdb
import pytest

from recommendation_translation_spark.session import (
    ensure_python_protobuf,
    get_spark,
)
from recommendation_translation_spark.sources.readers import TESTDATA_TABLES

# Import time, BEFORE any fixture builds a JVM: transformWithState's
# python runner inherits the JVM's env, so the vendored-protobuf
# PYTHONPATH extension must exist first (session.ensure_python_protobuf)
ensure_python_protobuf()

# The suite's driver heap, unless the caller sets one.  Under get_spark's
# 48g default the driver JVM grows its heap toward the cap before it
# collects; on a 15 GiB, 4-core host the suite's driver reached
# 12-15 GiB resident that way and was OOM-killed.  At 8g the whole
# suite passes with the driver peaking near 8 GiB.
os.environ.setdefault("SPARK_DRIVER_MEMORY", "8g")

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the testdata views registered the way the
    driver registers them (one view per table name) at sf0.01."""
    con = duckdb.connect()
    for name in TESTDATA_TABLES:
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_ORACLE}/{name}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def duck_small():
    con = duckdb.connect()
    for name in TESTDATA_TABLES:
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_SMALL}/{name}.parquet')"
        )
    yield con
    con.close()
