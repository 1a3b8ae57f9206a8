import pytest

from adding_datasets_to_kg_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
