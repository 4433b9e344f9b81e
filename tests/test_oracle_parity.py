"""The oracle-parity gate on every queries() key at sf0.001:
``parity.check`` against the key's DuckDB oracle, or a non-empty result
for the rows-only keys. integration/driver_mirror.py runs the same check
at sf0.01."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from conftest import SF_SMOKE as SF_DIR  # noqa: E402
from flinkrunner_spark import parity  # noqa: E402

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def con():
    c = parity.duck(SF_DIR)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, con, name):
    assert name in QUERIES, f"oracle {name} has no queries() entry"
    rec = parity.check(spark, con, QUERIES[name], ORACLES[name], SF_DIR)
    assert parity.passed(rec), f"{name}: {rec}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only(spark, con, name):
    rec = parity.check(spark, con, QUERIES[name], None, SF_DIR)
    assert parity.passed(rec), f"{name}: {rec}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
