from __future__ import annotations

import os
import sys

import duckdb
import pytest

# the checkout these tests live in, first on the path: a copy of the
# tree tests its own engine
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from binancedatapipelineinaws_spark.session import get_spark  # noqa: E402
from tools.check_oracle import duck_views  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duck_views(duckdb.connect(), SF_ORACLE)
    yield con
    con.close()
