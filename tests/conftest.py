from __future__ import annotations

import os

import duckdb
import pytest

from dirty_js_etl_spark.catalog import FIXTURE_TABLES, fixture_catalog
from dirty_js_etl_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    return get_spark("tests")


@pytest.fixture(scope="session")
def catalog(spark):
    return fixture_catalog(spark, SF_DIR)


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    # keep DuckDB spill outside the worktree (default is cwd-relative .tmp/)
    # per-process spill dir: DuckDB's spill file names are not
    # process-unique, so concurrent sweeps/test runs would clobber
    # each other's files under a shared path
    con.execute(
        f"SET temp_directory='/tmp/duckdb_oracle_tmp_{os.getpid()}'"
    )
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con
