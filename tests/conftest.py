import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from hex2vec_spark.plans.session import get_spark

    s = get_spark("pytest", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()
