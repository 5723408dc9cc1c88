import os

import pytest

from fraudcrawler_spark.datagen import write_corpus
from fraudcrawler_spark.session import get_spark


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "session_end: run after every other test (reads JVM-wide "
        "peaks of the shared session)")


def pytest_collection_modifyitems(items):
    items.sort(key=lambda item: item.get_closest_marker("session_end") is not None)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="fc_tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def corpus_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("corpus"))
    write_corpus(d, n_pages=2000)
    return d


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
