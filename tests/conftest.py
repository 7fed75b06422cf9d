import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The image and audio tests run the decode routing that ships
# (codec/native.py): each native leg where its library or shim loaded
# and its gate accepts the input, the pure decoder otherwise. Tests that
# pin pure-decoder semantics call the pure functions directly.

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from go_triton_spark.session import get_spark

    s = get_spark("go-triton-spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
