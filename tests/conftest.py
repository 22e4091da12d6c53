from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from kafka_map_reduce_spark import get_session

    s = get_session("kmr-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    from tools.parity import duck_connection

    con = duck_connection(SF_SMOKE)
    yield con
    con.close()
