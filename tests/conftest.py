from __future__ import annotations

import os

import pytest

from ozone_spark.session import get_spark
from tests.util import SF_DIR, duck_con


@pytest.fixture(scope="session")
def spark():
    # the suite reads sf0.001 fixtures: get_spark's 8g serving heap
    # would hold ~9 GB of RSS for them; an explicit setting still wins
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    s = get_spark("ozone-spark-tests", cpus=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def con():
    c = duck_con(SF_DIR)
    yield c
    c.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
