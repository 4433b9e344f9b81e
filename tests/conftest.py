from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flinkrunner_spark import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("flinkrunner-spark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
