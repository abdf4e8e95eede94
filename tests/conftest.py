import pytest

from timberjack_spark.session import get_spark


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: property-based fuzz tests that run many Spark jobs")


@pytest.fixture(scope="session")
def spark():
    return get_spark(cores=4, shuffle_partitions=8, app_name="timberjack_tests")
