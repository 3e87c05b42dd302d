from __future__ import annotations

import pathlib
import sys

import pytest

# the checkout under test, wherever it lives
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from data_integration_openfoodfacts_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
