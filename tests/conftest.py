from __future__ import annotations

import os
import sys

import pytest

from e_commerce_data_lakehouse_spark.session import get_spark

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
)

from driver_sim import duck_views  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    with duck_views(SF_SMALL) as con:
        yield con

