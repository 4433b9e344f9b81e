"""JDBC sink with auto CREATE TABLE (reference operator/
CreateTableJdbcSinkFunction.scala) — exercised for real against the Derby
embedded driver that ships on Spark's classpath."""

from __future__ import annotations

import os

import pytest

from flinkrunner_spark.sinks import sink_from_config
from flinkrunner_spark.util.sqlbuilder import create_table_from_schema

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@pytest.fixture(scope="module")
def derby_url(tmp_path_factory):
    # unique database per test run — Derby state persists on disk, so a
    # fixed path would make re-runs hit duplicate-PK failures
    db = tmp_path_factory.mktemp("derby") / "db"
    return f"jdbc:derby:{db};create=true"


@pytest.fixture()
def jdbc_df(spark):
    return spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5)],
        "id long, name string, score double",
    )


def test_jdbc_create_table_and_roundtrip(spark, jdbc_df, derby_url):
    sink = sink_from_config(
        "scores",
        {
            "connector": "jdbc",
            "url": derby_url,
            "table": "scores_rt",
            "dialect": "derby",
            "create.table": True,
            "primary.key": "id",
            "options": {"driver": DERBY_DRIVER},
        },
    )
    sink.write(jdbc_df)
    back = (
        spark.read.format("jdbc")
        .option("url", derby_url)
        .option("dbtable", '"scores_rt"')  # quoted: DDL created a quoted name
        .option("driver", DERBY_DRIVER)
        .load()
    )
    rows = sorted(map(tuple, back.collect()))
    assert rows == [(1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5)]
    # second write appends through the already-created table (the
    # create-table step must tolerate "already exists")
    sink.write(jdbc_df.limit(0))
    assert back.count() == 3


def test_jdbc_pk_enforced(spark, jdbc_df, derby_url):
    sink = sink_from_config(
        "scores",
        {
            "connector": "jdbc",
            "url": derby_url,
            "table": "scores_pk",
            "dialect": "derby",
            "create.table": True,
            "primary.key": "id",
            "options": {"driver": DERBY_DRIVER},
        },
    )
    sink.write(jdbc_df)
    with pytest.raises(Exception):  # duplicate PK rejected by the database
        sink.write(jdbc_df)


def test_ddl_dialects(jdbc_df):
    ddl = create_table_from_schema(
        "t", jdbc_df.schema, dialect="derby", pk="id"
    )
    assert "IF NOT EXISTS" not in ddl and "VARCHAR(4000)" in ddl
    pg = create_table_from_schema(
        "t", jdbc_df.schema, dialect="postgresql", pk="id"
    )
    assert "IF NOT EXISTS" in pg and "DOUBLE PRECISION" in pg


def test_jdbc_index_ddl_and_creation(spark, jdbc_df, derby_url):
    """table.indexes config (reference JdbcSinkConfig.scala:172-196 +
    JdbcSinkIndex.definition): CREATE [UNIQUE] INDEX statements with the
    table-name prefix and ASC/DESC column orders, executed for real over
    Derby; a rewrite against the existing index is tolerated."""
    from flinkrunner_spark.util.sqlbuilder import create_index

    ddl = create_index(
        "scores_ix", "by_name", ["name DESC", "id"], unique=False,
        dialect="derby",
    )
    assert ddl == (
        'CREATE INDEX "scores_ix_by_name" ON "scores_ix" '
        '("name" DESC, "id" ASC)'
    )
    with pytest.raises(ValueError, match="order"):
        create_index("t", "bad", ["name SIDEWAYS"], dialect="derby")

    sink = sink_from_config(
        "scores",
        {
            "connector": "jdbc",
            "url": derby_url,
            "table": "scores_ix",
            "dialect": "derby",
            "create.table": True,
            "table.indexes": [
                {"name": "by_name", "columns": ["name DESC", "id"]},
                {"name": "uniq_id", "columns": "id", "unique": True},
            ],
            "options": {"driver": DERBY_DRIVER},
        },
    )
    sink.write(jdbc_df)
    # second write with FRESH ids: table+indexes already exist, tolerated
    from pyspark.sql import functions as F

    sink.write(jdbc_df.withColumn("id", F.col("id") + 1000))
    # the unique index is enforced by the database
    with pytest.raises(Exception):
        sink.write(jdbc_df)  # same ids again -> unique violation


def test_jdbc_explicit_table_columns(spark, jdbc_df, derby_url):
    """table.columns (reference JdbcSinkConfig.scala columns config):
    explicit JDBC types with precision/scale/nullable override the
    frame-derived DDL — proven over Derby (CHAR width honored)."""
    from flinkrunner_spark.util.sqlbuilder import create_table_from_columns

    ddl = create_table_from_columns(
        "t",
        [
            {"name": "id", "type": "bigint", "nullable": False},
            {"name": "name", "type": "char", "precision": 8},
            {"name": "score", "type": "decimal", "precision": 10, "scale": 2},
        ],
        dialect="derby",
        pk="id",
    )
    assert '"id" BIGINT NOT NULL' in ddl
    assert '"name" CHAR(8)' in ddl and '"score" DECIMAL(10, 2)' in ddl

    sink = sink_from_config(
        "scores",
        {
            "connector": "jdbc",
            "url": derby_url,
            "table": "scores_cols",
            "dialect": "derby",
            "create.table": True,
            "primary.key": "id",
            "table.columns": [
                {"name": "id", "type": "bigint", "nullable": False},
                {"name": "name", "type": "varchar", "precision": 16},
                {"name": "score", "type": "double"},
            ],
            "options": {"driver": DERBY_DRIVER},
        },
    )
    sink.write(jdbc_df)
    back = (
        spark.read.format("jdbc")
        .option("url", derby_url)
        .option("dbtable", '"scores_cols"')
        .option("driver", DERBY_DRIVER)
        .load()
    )
    assert back.count() == 3


def test_quoting_escape_strategies():
    """Quoting surface of reference util/Quoting.scala, engine-corrected
    (documented divergence): embedded quotes survive by DOUBLING the
    closing quote character — the only form PostgreSQL/MySQL accept in
    quoted identifiers (the reference's backslash EscapeChar is a
    literal backslash there) and the T-SQL bracket rule (closing ``]``
    doubles, not the opening ``[``)."""
    from flinkrunner_spark.util.sqlbuilder import quote_ident, quote_literal

    assert quote_ident('we"ird', "postgresql") == '"we""ird"'
    assert quote_ident("ba`ck", "mysql") == "`ba``ck`"
    assert quote_ident("br[ack]et", "sqlserver") == "[br[ack]]et]"
    assert quote_ident('do"uble', "derby") == '"do""uble"'
    for d in ("postgresql", "mysql", "snowflake", "sqlserver", "derby"):
        assert quote_literal("o'brien", d) == "'o''brien'"
    # a trailing backslash must not swallow the closing quote on the
    # backslash-escaping dialects (MySQL default sql_mode, Snowflake)...
    assert quote_literal("tail\\", "mysql") == "'tail\\\\'"
    assert quote_literal("tail\\", "snowflake") == "'tail\\\\'"
    # ...while the literal-backslash dialects must NOT double it (that
    # would corrupt the stored value)
    for d in ("postgresql", "sqlserver", "derby"):
        assert quote_literal("tail\\", d) == "'tail\\'"
    # plain names stay plain inside their quotes
    assert quote_ident("events", "postgresql") == '"events"'


def test_quoted_identifier_roundtrips_on_real_engine(spark, derby_url):
    """The doubling rule is ENGINE-PROVEN, not just asserted: a table
    whose name embeds a double quote creates, loads and reads back over
    real Derby JDBC."""
    from py4j.java_gateway import java_import

    from flinkrunner_spark.util.sqlbuilder import quote_ident

    gw = spark.sparkContext._gateway
    java_import(gw.jvm, "java.sql.DriverManager")
    conn = gw.jvm.java.sql.DriverManager.getConnection(derby_url)
    try:
        name = 'we"ird'
        st = conn.createStatement()
        st.execute(
            f"CREATE TABLE {quote_ident(name, 'derby')} "
            f"({quote_ident('id', 'derby')} BIGINT)"
        )
        st.execute(f"INSERT INTO {quote_ident(name, 'derby')} VALUES (7)")
        rs = st.executeQuery(
            f"SELECT {quote_ident('id', 'derby')} FROM "
            f"{quote_ident(name, 'derby')}"
        )
        assert rs.next() and rs.getLong(1) == 7
    finally:
        conn.close()


def test_jdbc_streaming_write_honours_checkpoint(spark, derby_url, tmp_path):
    """A configured ``checkpoint`` reaches the streaming query, so a
    restarted stream resumes from its committed offsets instead of
    reprocessing its input from scratch."""
    src, chk = str(tmp_path / "in"), tmp_path / "chk"
    spark.range(5).selectExpr("id", "concat('n', id) AS name").write.parquet(
        src
    )
    sink = sink_from_config(
        "stream_chk",
        {
            "connector": "jdbc",
            "url": derby_url,
            "table": "stream_chk",
            "dialect": "derby",
            "create.table": True,
            "primary.key": "id",
            "options": {"driver": DERBY_DRIVER},
            "checkpoint": str(chk),
        },
    )
    q = sink.write_stream(
        spark.readStream.schema("id long, name string").parquet(src)
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert os.listdir(chk / "offsets") and os.listdir(chk / "commits")
    back = (
        spark.read.format("jdbc")
        .option("url", derby_url)
        .option("dbtable", '"stream_chk"')
        .option("driver", DERBY_DRIVER)
        .load()
    )
    assert back.count() == 5
