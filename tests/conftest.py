from __future__ import annotations

import pytest

from textcleaning_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("textcleaning-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()
