import pytest

from marginaliasearch_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()

