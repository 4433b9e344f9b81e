"""The oracle-parity check: one ``queries()`` key against its DuckDB oracle.

The comparison is the correctness gate's, written once: ``toPandas()``
the Spark result, sort the columns by name, ``str()`` every value, sort
the rows, md5. ``check`` returns the per-key record that
``CORRECTNESS_r{N}.json`` stores. A key with no oracle SQL is rows-only:
its record carries ``err="no_oracle"`` and ``spark_hash`` (the
``canon_hash`` of the result, so a sweep log can be diffed against
another commit's), and it passes only when the result is non-empty.

``integration/driver_mirror.py`` (the sf0.01 sweep) and
``tests/test_oracle_parity.py`` (every key at sf0.001) both run through
``check``, so both apply the same comparison.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from collections.abc import Callable

import duckdb
from pyspark.sql import DataFrame, SparkSession

from flinkrunner_spark.tables import TABLES

NO_ORACLE = "no_oracle"


def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one ``read_parquet`` view per test table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon_rows(pdf) -> list[tuple[str, ...]]:
    """Rows of ``pdf`` with columns sorted by name, values stringified,
    rows sorted."""
    pdf = pdf[sorted(pdf.columns)]
    return sorted(tuple(str(v) for v in row) for row in pdf.itertuples(index=False))


def canon_hash(pdf) -> str:
    return hashlib.md5(str(canon_rows(pdf)).encode()).hexdigest()


def check(
    spark: SparkSession,
    con: duckdb.DuckDBPyConnection,
    fn: Callable[[SparkSession, str], DataFrame],
    sql: str | None,
    sf_dir: str,
) -> dict:
    """Run ``fn(spark, sf_dir)`` and compare it with ``sql`` on ``con``.

    On a hash mismatch the record also holds ``diff``: the first three
    canonical rows found only in the Spark result and only in the oracle.
    """
    rec = dict(
        rows_match=None, schema_match=None, hash_match=None,
        spark_rows=None, oracle_rows=None, err=None,
    )
    try:
        sdf = fn(spark, sf_dir).toPandas()
    except Exception as e:  # a failing plan is a red key, not a crash
        rec["err"] = f"SPARK ERROR {type(e).__name__}: {e}"
        return rec
    rec["spark_rows"] = len(sdf)
    if sql is None:
        rec["spark_hash"] = canon_hash(sdf)
        rec["err"] = NO_ORACLE if len(sdf) else "rows-only key returned no rows"
        return rec
    try:
        odf = con.execute(sql).fetchdf()
    except Exception as e:
        rec["err"] = f"ORACLE ERROR {type(e).__name__}: {e}"
        return rec
    rec["oracle_rows"] = len(odf)
    rec["rows_match"] = len(sdf) == len(odf)
    rec["schema_match"] = sorted(sdf.columns) == sorted(odf.columns)
    if not rec["schema_match"]:
        rec["hash_match"] = False
        return rec
    # equal canonical rows <=> equal canon_hash (repr is injective)
    srows, orows = canon_rows(sdf), canon_rows(odf)
    rec["hash_match"] = srows == orows
    if not rec["hash_match"]:
        s, o = Counter(srows), Counter(orows)
        rec["diff"] = {
            "spark": sorted((s - o).elements())[:3],
            "oracle": sorted((o - s).elements())[:3],
        }
    return rec


def passed(rec: dict) -> bool:
    """True for a green record: hash, rows and schema match, or a
    non-empty rows-only result."""
    if rec["err"] == NO_ORACLE:
        return True
    return bool(rec["rows_match"] and rec["schema_match"] and rec["hash_match"])
