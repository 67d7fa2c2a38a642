import pytest

from imageduplicatefinder_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="idf_tests")
    yield s
