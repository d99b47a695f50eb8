import pytest

from pcornet_data_curation_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pdcs-tests")
    yield s
    s.stop()
