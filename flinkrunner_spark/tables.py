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

    The scan has one task per Parquet row group at most (Spark never
    splits a row group), so a table written as one row group reads in
    one task. That is right for the relational plans, whose time here is
    per-query fixed cost; a per-row kernel over a corpus reads through
    ``load_spread`` instead.

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


def _row_groups(spark: SparkSession, sf_dir: str, name: str, df: DataFrame) -> int:
    """Row groups in ``df``'s Parquet files, counted up to
    ``defaultParallelism``: read from the footers on the driver through
    parquet-hadoop (any Hadoop filesystem), so it starts no Spark job.
    Memoized as ``tables.row_groups`` keyed by ``name``."""

    def count() -> int:
        jvm = spark.sparkContext._jvm
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        cap = spark.sparkContext.defaultParallelism
        n = 0
        for f in df.inputFiles():
            src = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                jvm.org.apache.hadoop.fs.Path(f), conf
            )
            reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(src)
            try:
                n += reader.getRowGroups().size()
            finally:
                reader.close()
            if n >= cap:
                return cap
        return n

    return memo.memo(
        spark, "tables.row_groups", sf_dir, count, key=(name,), free=None
    )


def load_spread(spark: SparkSession, sf_dir: str, name: str, key: str) -> DataFrame:
    """``load_table``, spread over every core when the scan cannot be.

    A table whose files hold fewer row groups than
    ``defaultParallelism`` scans in fewer tasks than there are cores, so
    its rows are hash-partitioned on ``key`` into ``defaultParallelism``
    partitions; a table with at least that many row groups returns the
    plain scan, with no exchange. The exchange is a fixed cost per
    query, worth paying only where per-row work dominates: the LLM
    per-row kernels read their corpus here, the relational plans read
    ``load_table``. Hashing on a column skips the sort of each map
    partition that round-robin pays (``sortBeforeRepartition``); the
    exchange sits above the scan, so column pruning and filter pushdown
    still reach it. The row-group count is learned once per table per
    session (``_row_groups``)."""
    df = load_table(spark, sf_dir, name)
    n = spark.sparkContext.defaultParallelism
    if _row_groups(spark, sf_dir, name, df) >= n:
        return df
    return df.repartition(n, key)


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
