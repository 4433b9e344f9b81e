"""Environment-gated connector e2e tests — the recipe in
integration/README.md brings up the infrastructure; without it each test
SKIPS with the missing piece named (never silently green).

These run OUTSIDE the shared `spark` fixture: each builds its own session
so `spark.jars.packages` can pull the connector jar the sandbox lacks.
"""

from __future__ import annotations

import os

import pytest

KAFKA = os.environ.get("KAFKA_BOOTSTRAP")
KAFKA_PKG = os.environ.get("KAFKA_PACKAGE")
ICEBERG_PKG = os.environ.get("ICEBERG_PACKAGE")
KINESIS_EP = os.environ.get("KINESIS_ENDPOINT")
CASSANDRA_HOST = os.environ.get("CASSANDRA_HOST")
AMQP_URI = os.environ.get("AMQP_URI")


def _session(tmp_path, **conf):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master("local[4]")
        .appName("connector-e2e")
        .config("spark.sql.shuffle.partitions", "4")
    )
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()


@pytest.mark.skipif(
    not (KAFKA and KAFKA_PKG),
    reason="needs KAFKA_BOOTSTRAP + KAFKA_PACKAGE (integration/README.md)",
)
def test_kafka_roundtrip_e2e(tmp_path):
    spark = _session(tmp_path, **{"spark.jars.packages": KAFKA_PKG})
    try:
        from flinkrunner_spark.sinks.factory import KafkaSinkConfig
        from flinkrunner_spark.sources.factory import KafkaSourceConfig

        df = spark.createDataFrame(
            [(1, "click"), (2, "view")], "event_id long, event_type string"
        )
        sink = KafkaSinkConfig(
            "t-e2e",
            {
                "connector": "kafka",
                "bootstrap.servers": KAFKA,
                "topic": "t-e2e",
                "key.column": "event_id",
                "headers": {"X-Type": "event_type"},
            },
        )
        sink.write(df)

        src = KafkaSourceConfig(
            "t-e2e",
            {
                "connector": "kafka",
                "bootstrap.servers": KAFKA,
                "topic": "t-e2e",
                "starting.offsets": "earliest",
            },
        )
        got = src.load(spark).selectExpr(
            "CAST(key AS STRING) k", "CAST(value AS STRING) v"
        )
        rows = {r["k"]: r["v"] for r in got.collect()}
        assert set(rows) == {"1", "2"}
        assert '"event_type": "click"' in rows["1"].replace(":", ": ") or (
            "click" in rows["1"]
        )
    finally:
        spark.stop()


@pytest.mark.skipif(
    not ICEBERG_PKG,
    reason="needs ICEBERG_PACKAGE (integration/README.md)",
)
def test_iceberg_sink_e2e(tmp_path):
    wh = str(tmp_path / "wh")
    spark = _session(
        tmp_path,
        **{
            "spark.jars.packages": ICEBERG_PKG,
            "spark.sql.catalog.local": "org.apache.iceberg.spark.SparkCatalog",
            "spark.sql.catalog.local.type": "hadoop",
            "spark.sql.catalog.local.warehouse": wh,
        },
    )
    try:
        from flinkrunner_spark.sinks.factory import sink_from_config

        df = spark.range(10).selectExpr("id", "id * 2 AS v")
        sink = sink_from_config(
            "tbl", {"connector": "iceberg", "table": "local.db.tbl"}
        )
        sink.write(df)
        back = spark.table("local.db.tbl")
        assert back.count() == 10
        assert spark.sql(
            "SELECT COUNT(*) n FROM local.db.tbl.snapshots"
        ).first()["n"] >= 1
    finally:
        spark.stop()


@pytest.mark.skipif(
    not KINESIS_EP,
    reason="needs KINESIS_ENDPOINT (localstack; integration/README.md)",
)
def test_kinesis_putrecords_e2e(tmp_path):
    spark = _session(tmp_path)
    try:
        import json
        import time

        from flinkrunner_spark.sinks.factory import KinesisSinkConfig

        sink = KinesisSinkConfig(
            "s-e2e",
            {
                "connector": "kinesis",
                "stream": "s-e2e",
                "endpoint": KINESIS_EP,
                "region": "us-east-1",
                "aws.access.key.id": "test",
                "aws.secret.access.key": "test",
                "key.column": "event_id",
            },
        )
        # create the stream with the sink's own signed client
        try:
            sink._aws().post(
                "Kinesis_20131202.CreateStream",
                json.dumps({"StreamName": "s-e2e", "ShardCount": 1}).encode(),
            )
        except Exception:
            pass  # already exists
        time.sleep(1)
        df = spark.createDataFrame(
            [(1, "a"), (2, "b")], "event_id long, payload string"
        )
        sink.write(df)  # raises on partial failure — success IS the assert
    finally:
        spark.stop()


@pytest.mark.skipif(
    not KINESIS_EP,
    reason="needs KINESIS_ENDPOINT (localstack; integration/README.md)",
)
def test_kinesis_source_roundtrip_e2e(tmp_path):
    """Sink writes PutRecords, the polling SOURCE reads them back from
    TRIM_HORIZON — the full signed write→read path over localstack."""
    spark = _session(tmp_path)
    try:
        from flinkrunner_spark.sinks.factory import KinesisSinkConfig
        from flinkrunner_spark.sources.factory import KinesisSourceConfig

        creds = {
            "aws.access.key.id": "test",
            "aws.secret.access.key": "test",
        }
        sink = KinesisSinkConfig(
            "rt-src",
            {"connector": "kinesis", "stream": "rt-src",
             "endpoint": KINESIS_EP, "region": "us-east-1",
             "key.column": "event_id", **creds},
        )
        df = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "event_id long, v string"
        )
        sink.write(df)
        src = KinesisSourceConfig(
            "rt-src",
            {"connector": "kinesis", "stream": "rt-src",
             "aws.endpoint": KINESIS_EP, "aws.region": "us-east-1",
             "starting.position": "TRIM_HORIZON", **creds},
        )
        back = src.load(spark).toPandas()
        assert len(back) == 3
        import json as _json

        vals = sorted(_json.loads(v)["event_id"] for v in back.value)
        assert vals == [1, 2, 3]
    finally:
        spark.stop()


@pytest.mark.skipif(
    not CASSANDRA_HOST,
    reason="needs CASSANDRA_HOST (integration/README.md)",
)
def test_cassandra_sink_e2e(tmp_path):
    """create.table + distributed CQL-v4 INSERT batches against a real
    Cassandra node, read back with a SELECT through the same client."""
    spark = _session(tmp_path)
    try:
        from flinkrunner_spark.sinks.factory import CassandraSinkConfig
        from flinkrunner_spark.util.cql import CqlClient

        df = spark.createDataFrame(
            [(1, "a", 1.5), (2, "b", -2.0), (3, "c", 0.0)],
            "id long, name string, x double",
        )
        CassandraSinkConfig(
            "e2e",
            {"connector": "cassandra", "host": CASSANDRA_HOST,
             "keyspace": "fr_e2e", "table": "docs",
             "create.table": True, "primary.key": "id", "batch.size": 2},
        ).write(df)
        with CqlClient(CASSANDRA_HOST) as c:
            rows = c.execute('SELECT "id", "name", "x" FROM "fr_e2e"."docs"')
        assert sorted(rows.rows) == [(1, "a", 1.5), (2, "b", -2.0), (3, "c", 0.0)]
    finally:
        spark.stop()


@pytest.mark.skipif(
    not AMQP_URI,
    reason="needs AMQP_URI (rabbitmq; integration/README.md)",
)
def test_rabbitmq_sink_source_e2e(tmp_path):
    """Publish JSON messages through the AMQP sink, drain them back
    through the source — against a real RabbitMQ broker."""
    spark = _session(tmp_path)
    try:
        from flinkrunner_spark.sinks.factory import RabbitMQSinkConfig
        from flinkrunner_spark.sources.factory import RabbitMQSourceConfig

        df = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
        )
        RabbitMQSinkConfig(
            "e2e",
            {"connector": "rabbitmq", "uri": AMQP_URI, "queue": "fr_e2e",
             "use.correlation.id": True, "correlation.id.column": "id"},
        ).write(df)
        back = RabbitMQSourceConfig(
            "e2e",
            {"connector": "rabbitmq", "uri": AMQP_URI, "queue": "fr_e2e",
             "schema": "id long, v string"},
        ).load(spark).toPandas()
        assert sorted(back.id) == [1, 2, 3]
        assert sorted(back.correlation_id) == ["1", "2", "3"]
    finally:
        spark.stop()


ICEBERG_REST_URI = os.environ.get("ICEBERG_REST_URI")


@pytest.mark.skipif(
    not ICEBERG_REST_URI,
    reason="needs ICEBERG_REST_URI (lakekeeper; integration/README.md)",
)
def test_iceberg_rest_catalog_e2e(tmp_path):
    """Register a filesystem table in a real REST catalog, commit an
    append, resolve + read it back through the catalog."""
    spark = _session(tmp_path)
    try:
        from flinkrunner_spark.sinks.factory import sink_from_config
        from flinkrunner_spark.sources.factory import source_from_config

        loc = str(tmp_path / "wh" / "rest_docs")
        sink = sink_from_config(
            "rest_docs",
            {"connector": "iceberg", "path": loc, "namespace": "fr_e2e",
             "table": "rest_docs", "catalog.uri": ICEBERG_REST_URI},
        )
        sink.write(spark.range(5).selectExpr("id"))
        sink.write(spark.range(5, 8).selectExpr("id"))
        back = source_from_config(
            "rest_docs",
            {"connector": "iceberg", "table": "rest_docs",
             "namespace": "fr_e2e", "catalog.type": "rest",
             "catalog.uri": ICEBERG_REST_URI},
        ).load(spark)
        assert sorted(r["id"] for r in back.collect()) == list(range(8))
    finally:
        spark.stop()


@pytest.mark.skipif(
    not KAFKA,
    reason="needs KAFKA_BOOTSTRAP (integration/README.md) — no jar needed",
)
def test_kafka_native_transport_e2e(tmp_path):
    """The jar-free wire-protocol transport against a REAL broker —
    proves the pure-Python client (util/kafka) interoperates beyond the
    loopback harness: real brokers validate record-batch CRCs and
    reject malformed frames server-side."""
    spark = _session(tmp_path)
    try:
        from flinkrunner_spark.sinks.factory import KafkaSinkConfig
        from flinkrunner_spark.sources.factory import KafkaSourceConfig

        df = spark.range(0, 100).selectExpr(
            "id", "concat('e-', id) AS tag"
        )
        KafkaSinkConfig(
            "t-native-e2e",
            {
                "connector": "kafka",
                "transport": "native",
                "bootstrap.servers": KAFKA,
                "topic": "t-native-e2e",
                "key.column": "id",
                "headers": {"X-Tag": "tag"},
            },
        ).write(df)
        back = KafkaSourceConfig(
            "t-native-e2e",
            {
                "connector": "kafka",
                "transport": "native",
                "bootstrap.servers": KAFKA,
                "topic": "t-native-e2e",
                "headers": True,
            },
        ).load(spark)
        import json

        rows = back.collect()
        ids = {json.loads(bytes(r.value).decode())["id"] for r in rows}
        assert ids == set(range(100))
    finally:
        spark.stop()
