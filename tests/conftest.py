from __future__ import annotations

import pytest

from switchback_test_dag_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # small core/partition counts: test-suite latency, not throughput
    s = get_spark(app_name="switchback-tests", cpus=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf_dir_med():
    return SF_DIR_MED

