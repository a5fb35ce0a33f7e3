import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from atra_spark.session import get_spark

    # cores from $SPARK_GRAFT_CPUS (else all local cores); 8 shuffle
    # partitions stay fixed so they line up with the tests' num_buckets=8
    s = get_spark("atra-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_set():
    from atra_spark.sources.fixtures import generate_fixtures

    return generate_fixtures(n_pages=200, n_hosts=6)


@pytest.fixture(scope="session")
def fixture_paths(fixture_set, tmp_path_factory):
    from atra_spark.sources.fixtures import write_fixtures

    out = tmp_path_factory.mktemp("fx")
    return write_fixtures(fixture_set, str(out))
