from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from k_means_hadoop_spark.session import get_spark
from tests.helpers import SF_DIR


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: full-registry sweep, opt-in via SPARK_GRAFT_SLOW=1")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("k_means_hadoop_spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
