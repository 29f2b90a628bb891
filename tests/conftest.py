import pytest

from xidel_spark.queries_goldens import REF
from xidel_spark.session import get_spark


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "needs_reference: reads the xidel reference checkout; skipped without it"
    )


def pytest_collection_modifyitems(items):
    if REF.exists():
        return
    skip = pytest.mark.skip(reason="reference checkout absent")
    for item in items:
        if item.get_closest_marker("needs_reference"):
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    # small local session: crawl tests run many tiny iterative jobs, so keep
    # shuffle partitions low; production sizing is submit-time config.
    s = get_spark("xidel_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()
