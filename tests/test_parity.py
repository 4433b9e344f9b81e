"""The oracle-parity runner itself: the canonical hash, a mismatch naming
its rows, and a failing plan recorded instead of raised."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from flinkrunner_spark import parity

ROWS = [(1, "a", 0.5), (2, "b", 1.5), (3, "c", 2.5)]
ORACLE = "SELECT * FROM (VALUES {}) t(id, s, x)"


def _values(rows):
    return ", ".join(f"({i}, '{s}', {x})" for i, s, x in rows)


def test_canon_hash_ignores_column_and_row_order():
    df = pd.DataFrame(ROWS, columns=["id", "s", "x"])
    shuffled = df[["x", "id", "s"]].iloc[[2, 0, 1]]
    assert parity.canon_hash(df) == parity.canon_hash(shuffled)
    changed = df.copy()
    changed.loc[1, "x"] = 1.25
    assert parity.canon_hash(df) != parity.canon_hash(changed)


@pytest.fixture
def con():
    c = duckdb.connect()
    yield c
    c.close()


def _frame(spark, sf_dir):
    return spark.createDataFrame(ROWS, "id int, s string, x double")


def test_check_green_on_equal_result(spark, con):
    rec = parity.check(spark, con, _frame, ORACLE.format(_values(ROWS)), "")
    assert parity.passed(rec)
    assert rec["spark_rows"] == rec["oracle_rows"] == 3 and rec["err"] is None
    assert "diff" not in rec


def test_check_names_the_differing_row(spark, con):
    oracle_rows = [ROWS[0], (2, "b", 1.25), ROWS[2]]
    rec = parity.check(spark, con, _frame, ORACLE.format(_values(oracle_rows)), "")
    assert not parity.passed(rec)
    assert rec["rows_match"] and rec["schema_match"]
    assert rec["hash_match"] is False
    # columns sorted by name: id, s, x
    assert rec["diff"] == {"spark": [("2", "b", "1.5")], "oracle": [("2", "b", "1.25")]}


def test_check_records_a_failing_plan(spark, con):
    def boom(spark, sf_dir):
        raise RuntimeError("plan exploded")

    rec = parity.check(spark, con, boom, ORACLE.format(_values(ROWS)), "")
    assert not parity.passed(rec)
    assert rec["spark_rows"] is None and "plan exploded" in rec["err"]


def test_rows_only_fails_on_empty_result(spark, con):
    rec = parity.check(spark, con, _frame, None, "")
    assert parity.passed(rec) and rec["err"] == "no_oracle"
    assert rec["spark_rows"] == 3

    def empty(spark, sf_dir):
        return _frame(spark, sf_dir).limit(0)

    rec = parity.check(spark, con, empty, None, "")
    assert not parity.passed(rec) and rec["spark_rows"] == 0


def test_rows_only_records_the_result_hash(spark, con):
    rec = parity.check(spark, con, _frame, None, "")
    expected = parity.canon_hash(pd.DataFrame(ROWS, columns=["id", "s", "x"]))
    assert rec["spark_hash"] == expected
