from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from facebook_ads_bigquery_etl_spark.session import get_spark
from tests.oracle_check import SF_SMOKE  # noqa: F401  (tests import it from here)

SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s
