"""AWS Glue Data Catalog client tests (`glue_catalog.py`).

Reference parity: `model/IcebergCommonConfig.scala:14-78` catalog.type
glue → iceberg-aws GlueCatalog. Request construction is pinned offline;
the loopback endpoint proves the signed x-amz-json-1.1 conversation and
the metadata_location pointer protocol end-to-end.
"""

from __future__ import annotations

import json

import pytest

from flinkrunner_spark.glue_catalog import (
    GlueCatalog,
    GlueCatalogError,
    GlueCommitConflict,
    glue_from_conf,
)
from flinkrunner_spark.testing import LoopbackGlueCatalog

CREDS = {
    "region": "us-east-1",
    "aws.access.key.id": "k",
    "aws.secret.access.key": "s",
}


def _cat(ep):
    return GlueCatalog({**CREDS, "endpoint": ep})


# -- offline request construction -------------------------------------------


def test_request_shapes():
    c = GlueCatalog(CREDS)
    t, b = c.get_table_request("db1", "t1")
    assert t == "AWSGlue.GetTable"
    assert json.loads(b) == {"DatabaseName": "db1", "Name": "t1"}
    t, b = c.create_table_request("db1", "t1", "/wh/t1/metadata/v1.metadata.json")
    body = json.loads(b)
    assert t == "AWSGlue.CreateTable"
    p = body["TableInput"]["Parameters"]
    assert p["table_type"] == "ICEBERG"
    assert p["metadata_location"].endswith("v1.metadata.json")
    assert "previous_metadata_location" not in p
    t, b = c.update_table_request(
        "db1", "t1", "/wh/t1/metadata/v2.metadata.json",
        "/wh/t1/metadata/v1.metadata.json",
    )
    p = json.loads(b)["TableInput"]["Parameters"]
    assert p["metadata_location"].endswith("v2.metadata.json")
    assert p["previous_metadata_location"].endswith("v1.metadata.json")


def test_signed_headers_offline():
    c = GlueCatalog(CREDS)
    t, b = c.get_table_request("d", "t")
    hdrs = c._aws().signed_headers(t, b, "20260101T000000Z")
    auth = hdrs["authorization"]
    assert auth.startswith("AWS4-HMAC-SHA256 Credential=k/20260101/us-east-1/glue/aws4_request")
    assert "SignedHeaders=" in auth and "Signature=" in auth
    assert hdrs["x-amz-target"] == "AWSGlue.GetTable"


def test_credentials_gate():
    c = GlueCatalog({"region": "us-east-1"})
    with pytest.raises(NotImplementedError, match="credentials"):
        c._call(*c.get_database_request("d"))


# -- loopback endpoint -------------------------------------------------------


def test_database_and_table_lifecycle():
    with LoopbackGlueCatalog() as g:
        c = _cat(g.endpoint)
        with pytest.raises(GlueCatalogError, match="EntityNotFound"):
            c.metadata_location("db", "t")
        c.ensure_database("db")
        c.ensure_database("db")  # idempotent
        c._call(*c.create_table_request("db", "t", "/wh/t/metadata/v1.metadata.json"))
        assert c.metadata_location("db", "t").endswith("v1.metadata.json")
        assert c.resolve("db", "t").location == "/wh/t"
        c._call(
            *c.update_table_request(
                "db", "t", "/wh/t/metadata/v2.metadata.json",
                "/wh/t/metadata/v1.metadata.json",
            )
        )
        assert c.metadata_location("db", "t").endswith("v2.metadata.json")


def test_unsigned_requests_rejected():
    import urllib.error
    import urllib.request

    with LoopbackGlueCatalog() as g:
        req = urllib.request.Request(
            g.endpoint,
            data=b"{}",
            headers={"X-Amz-Target": "AWSGlue.GetDatabase"},
            method="POST",
        )
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(req)
        assert e.value.code == 403


def test_non_iceberg_table_refused():
    with LoopbackGlueCatalog() as g:
        c = _cat(g.endpoint)
        c.ensure_database("db")
        g.databases["db"]["hive_t"] = {
            "Name": "hive_t", "Parameters": {"table_type": "HIVE"},
        }
        with pytest.raises(GlueCatalogError, match="not an iceberg table"):
            c.metadata_location("db", "hive_t")


def test_commit_swap_conflict_detection(spark, tmp_path):
    from flinkrunner_spark.iceberg import IcebergFsTable

    t = IcebergFsTable(str(tmp_path / "t"))
    t.append(spark.range(5).selectExpr("id"))
    with LoopbackGlueCatalog() as g:
        c = _cat(g.endpoint)
        c.publish("db", "t", t)
        v_reg = t._version()
        first = c.metadata_location("db", "t")
        assert first.endswith(f"v{v_reg}.metadata.json")
        t.append(spark.range(5, 10).selectExpr("id"))
        c.publish("db", "t", t)  # pointer follows the new version
        assert c.metadata_location("db", "t").endswith(
            f"v{t._version()}.metadata.json"
        )
        c.publish("db", "t", t)  # already at tip: no-op
        # the pointer may lag by SEVERAL versions (filesystem commits
        # without the catalog in between): rewound to an OLDER version
        # of our own lineage, the swap still advances
        t.append(spark.range(10, 15).selectExpr("id"))
        g.databases["db"]["t"]["Parameters"]["metadata_location"] = first
        c.publish("db", "t", t)
        assert c.metadata_location("db", "t").endswith(
            f"v{t._version()}.metadata.json"
        )
        # a pointer NEWER than ours, or from a foreign lineage, IS a
        # concurrent writer
        g.databases["db"]["t"]["Parameters"]["metadata_location"] = (
            f"{t.meta_dir}/v999.metadata.json"
        )
        with pytest.raises(GlueCommitConflict, match="concurrent commit"):
            c.publish("db", "t", t)
        g.databases["db"]["t"]["Parameters"]["metadata_location"] = (
            "/elsewhere/other/metadata/v1.metadata.json"
        )
        with pytest.raises(GlueCommitConflict, match="concurrent commit"):
            c.publish("db", "t", t)


def test_glue_from_conf_strips_prefix():
    c = glue_from_conf(
        {"catalog.type": "glue", "catalog.region": "eu-west-1",
         "catalog.aws.access.key.id": "k", "namespace": "n"}
    )
    assert c.region == "eu-west-1"
    assert c.conf["aws.access.key.id"] == "k"
    assert "type" not in c.conf


def test_sink_source_roundtrip_through_glue(spark, tmp_path):
    """Config-surface e2e: sink publishes through catalog.type glue,
    source resolves the table with no path config."""
    from flinkrunner_spark.sinks.factory import IcebergSinkConfig
    from flinkrunner_spark.sources.factory import IcebergSourceConfig

    df = spark.range(100).selectExpr("id", "id % 7 AS v")
    loc = str(tmp_path / "t")
    with LoopbackGlueCatalog() as g:
        cat_conf = {
            "catalog.type": "glue",
            "catalog.endpoint": g.endpoint,
            "catalog.region": "us-east-1",
            "catalog.aws.access.key.id": "k",
            "catalog.aws.secret.access.key": "s",
        }
        sink = IcebergSinkConfig(
            "t",
            {"connector": "iceberg", "path": loc, "namespace": "db",
             "table": "t", **cat_conf},
        )
        sink.write(df.filter("id < 50"))
        sink.write(df.filter("id >= 50"))
        back = IcebergSourceConfig(
            "t",
            {"connector": "iceberg", "namespace": "db", "table": "t",
             **cat_conf},
        ).load(spark)
        assert back.count() == 100
        assert sorted(r.id for r in back.collect()) == list(range(100))


# -- glue schema registry ---------------------------------------------------


SR_SCHEMA = {
    "type": "record",
    "name": "E",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "s", "type": "string"},
    ],
}


def _sr(ep):
    return __import__(
        "flinkrunner_spark.glue_catalog", fromlist=["GlueSchemaRegistry"]
    ).GlueSchemaRegistry(
        {**CREDS, "endpoint": ep, "registry.name": "r1"}
    )


def test_schema_registry_register_resolve():
    from flinkrunner_spark.serde.avro_codec import LocalGlueRegistry

    with LoopbackGlueCatalog() as g:
        c = _sr(g.endpoint)
        vid = c.register("t-value", SR_SCHEMA)
        assert len(vid) == 16
        # deterministic version uuid: identical to the in-memory
        # registry's derivation, so both frame the same bytes
        assert vid == LocalGlueRegistry().register("t-value", SR_SCHEMA)
        assert c.register("t-value", SR_SCHEMA) == vid  # idempotent
        assert c.uuid_by_name("t-value") == vid
        assert c.schema_by_uuid(vid)["name"] == "E"
        cold = _sr(g.endpoint)
        assert cold.schema_by_uuid(vid)["name"] == "E"
        with pytest.raises(GlueCatalogError, match="EntityNotFound"):
            cold.uuid_by_name("nope")


def test_schema_registry_version_evolution():
    with LoopbackGlueCatalog() as g:
        c = _sr(g.endpoint)
        v1 = c.register("e-value", SR_SCHEMA)
        evolved = dict(
            SR_SCHEMA,
            fields=SR_SCHEMA["fields"]
            + [{"name": "extra", "type": ["null", "long"], "default": None}],
        )
        v2 = c.register("e-value", evolved)
        assert v1 != v2
        assert c.uuid_by_name("e-value") == v2  # latest wins
        # both versions stay resolvable by uuid
        assert len(c.schema_by_uuid(v1)["fields"]) == 2
        assert len(c.schema_by_uuid(v2)["fields"]) == 3


def test_kafka_sink_glue_avro_values(spark):
    """glue-avro value.format through schema.registry.* conf: Glue-
    framed Avro survives the kafka wire and decodes via a cold
    network-registry client."""
    from flinkrunner_spark import serde
    from flinkrunner_spark.sinks.factory import KafkaSinkConfig
    from flinkrunner_spark.sources.factory import KafkaSourceConfig
    from flinkrunner_spark.testing import LoopbackKafkaBroker

    df = spark.range(0, 40).selectExpr("id", "concat('u-', id) AS user")
    with LoopbackGlueCatalog() as g:
        with LoopbackKafkaBroker(num_partitions=2) as b:
            KafkaSinkConfig(
                "t",
                {"connector": "kafka", "transport": "native",
                 "bootstrap.servers": f"localhost:{b.port}",
                 "topic": "gav", "key.column": "id",
                 "value.format": "glue-avro",
                 "schema.registry.region": "us-east-1",
                 "schema.registry.endpoint": g.endpoint,
                 "schema.registry.aws.access.key.id": "k",
                 "schema.registry.aws.secret.access.key": "s",
                 "schema.registry.registry.name": "r1"},
            ).write(df)
            back = KafkaSourceConfig(
                "t",
                {"connector": "kafka", "transport": "native",
                 "bootstrap.servers": f"localhost:{b.port}",
                 "topic": "gav"},
            ).load(spark)
            decoded = serde.glue_avro_decode(back, _sr(g.endpoint), "gav-value")
            rows = {
                r.id: r.user for r in decoded.select("id", "user").collect()
            }
            assert rows == {i: f"u-{i}" for i in range(40)}


def test_schema_registry_pinned_version_resolution():
    """The harness honors SchemaVersionNumber: pinned versions resolve
    to their own definition, never silently aliased to latest."""
    import json as _json
    import urllib.request

    from flinkrunner_spark.util.aws_signer import AwsCredentials, sign_request

    with LoopbackGlueCatalog() as g:
        c = _sr(g.endpoint)
        v1 = c.register("p-value", SR_SCHEMA)
        evolved = dict(
            SR_SCHEMA,
            fields=SR_SCHEMA["fields"]
            + [{"name": "x", "type": ["null", "long"], "default": None}],
        )
        c.register("p-value", evolved)

        def get_version(n):
            body = _json.dumps({
                "SchemaId": {"RegistryName": "r1", "SchemaName": "p-value"},
                "SchemaVersionNumber": {"VersionNumber": n},
            }).encode()
            hdrs = sign_request(
                method="POST", url=g.endpoint,
                headers={"Content-Type": "application/x-amz-json-1.1",
                         "X-Amz-Target": "AWSGlue.GetSchemaVersion"},
                payload=body,
                credentials=AwsCredentials("k", "s", None),
                region="us-east-1", amz_date="20260101T000000Z",
                service="glue",
            )
            req = urllib.request.Request(
                g.endpoint, data=body, headers=hdrs, method="POST"
            )
            return _json.loads(urllib.request.urlopen(req).read().decode())

        out1 = get_version(1)
        assert len(_json.loads(out1["SchemaDefinition"])["fields"]) == 2
        out2 = get_version(2)
        assert len(_json.loads(out2["SchemaDefinition"])["fields"]) == 3
        import uuid as _uuid

        assert _uuid.UUID(out1["SchemaVersionId"]).bytes == v1


def test_glue_avro_gate_names_the_right_keys(spark):
    from flinkrunner_spark.sinks.factory import KafkaSinkConfig

    sink = KafkaSinkConfig(
        "t",
        {"connector": "kafka", "value.format": "glue-avro",
         # region present but credentials absent: the gate must fire
         # with the schema.registry.* key names, not die mid-encode
         "schema.registry.region": "us-east-1"},
    )
    with pytest.raises(ValueError, match="schema.registry.aws.access.key.id"):
        sink.prepare_records(spark.range(3).selectExpr("id"))
