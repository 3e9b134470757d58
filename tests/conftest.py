from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from gov_procurement_spider_spark.session import get_spark  # noqa: E402

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF01


@pytest.fixture(scope="session")
def sf_small():
    return SF001


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "submit: spawns fresh spark-submit JVMs (slow; ship-mode contract)"
    )
