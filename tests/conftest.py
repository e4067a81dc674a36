from __future__ import annotations

import pytest

from dirty_js_etl_spark.catalog import fixture_catalog
from dirty_js_etl_spark.session import get_spark
from dirty_js_etl_spark.testing import oracle_db

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    return get_spark("tests")


@pytest.fixture(scope="session")
def catalog(spark):
    return fixture_catalog(spark, SF_DIR)


@pytest.fixture(scope="session")
def duck():
    return oracle_db(SF_DIR)
