import pytest


@pytest.fixture(scope="session")
def spark():
    from nerpii_spark.session import get_spark

    s = get_spark(app_name="perfbench_tests", cores=2, shuffle_partitions=4)
    yield s
    s.stop()
