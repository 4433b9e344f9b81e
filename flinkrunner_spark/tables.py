"""Test-table loading helpers (TPC-H-ish star schema + events/documents/
embeddings; see TESTDATA.md)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

from flinkrunner_spark import memo

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one input table; the only reader of ``{sf_dir}/{name}.parquet``.

    Schema inference is a Spark job of its own (one task reading the
    footer), so it runs once per table per session: the inferred schema
    is memoized as ``tables.schema`` keyed by ``name``, and every read
    passes it to ``spark.read.schema``. Each call still builds a fresh
    relation (new attribute ids, file listing read again), so two reads
    of one table self-join as before. A table rewritten with a new schema
    within one session needs ``memo.release("tables", sf_dir)`` before
    its next read.

    ``events.ts`` is TIMESTAMP(NANOS) parquet, which Spark rejects by
    default — read nanos as long and truncate to micros (exactly what
    DuckDB's TIMESTAMP does), restoring TimestampType."""
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema: StructType = memo.memo(
        spark,
        "tables.schema",
        sf_dir,
        lambda: spark.read.parquet(path).schema,
        key=(name,),
        free=None,
    )
    df = spark.read.schema(schema).parquet(path)
    ts = schema["ts"].dataType if "ts" in schema.names else None
    if name == "events" and ts == LongType():
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


class _Tables(dict):
    """``name -> DataFrame`` that reads a table on its first lookup, so a
    plan pays only for the tables it uses; later lookups return that same
    frame (one relation per table within a plan)."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        super().__init__()
        self._spark, self._sf_dir = spark, sf_dir

    def __missing__(self, name: str) -> DataFrame:
        df = self[name] = load_table(self._spark, self._sf_dir, name)
        return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """``t[name]`` reads table ``name`` on first lookup. The mapping holds
    only the tables looked up so far; ``TABLES`` lists them all."""
    return _Tables(spark, sf_dir)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
