"""Avro serde: the pure-Python binary codec (serde/avro_codec.py) must be
byte-compatible with the Apache Java implementation (avro-1.12.1.jar on
the Spark classpath, driven via py4j), roundtrip at the DataFrame level
through the mapInPandas fallback path, and produce/consume the Confluent
wire framing (reference parity:
serde/ConfluentAvroRegistryKafkaRecordSerializationSchema.scala:1-48)."""

from __future__ import annotations

import json
import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from flinkrunner_spark import serde
from flinkrunner_spark.serde import avro_codec as AC

SCHEMA = {
    "type": "record",
    "name": "ev",
    "fields": [
        {"name": "event_id", "type": "long"},
        {"name": "n", "type": "int"},
        {"name": "name", "type": ["null", "string"]},
        {"name": "value", "type": "double"},
        {"name": "ratio", "type": "float"},
        {"name": "ok", "type": "boolean"},
        {"name": "payload", "type": "bytes"},
        {"name": "xs", "type": {"type": "array", "items": "double"}},
        {"name": "ys", "type": ["null", {"type": "array", "items": "long"}]},
        {
            "name": "ts",
            "type": {"type": "long", "logicalType": "timestamp-micros"},
        },
    ],
}

REC = {
    "event_id": 1234567890123,
    "n": -42,
    "name": "héllo wörld",
    "value": 3.25,
    "ratio": -0.5,
    "ok": True,
    "payload": b"\x00\x01\xff",
    "xs": [1.5, -2.25, 0.0],
    "ys": [7, -9],
    "ts": 1700000000000000,
}


def _jvm_encode(spark, schema: dict, rec: dict) -> bytes:
    jvm = spark._jvm
    js = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(schema))
    jrec = jvm.org.apache.avro.generic.GenericData.Record(js)
    for f in schema["fields"]:
        name, t, v = f["name"], f["type"], rec.get(f["name"])
        if v is None:
            jrec.put(name, None)
            continue
        base = t[1] if isinstance(t, list) else t
        if isinstance(base, dict) and base.get("type") == "array":
            arr = jvm.java.util.ArrayList()
            item = base["items"]
            for x in v:
                if item == "long":
                    arr.add(jvm.java.lang.Long.valueOf(str(x)))
                elif item == "int":
                    arr.add(jvm.java.lang.Integer.valueOf(str(x)))
                elif item == "double":
                    arr.add(jvm.java.lang.Double.valueOf(repr(float(x))))
                elif item == "float":
                    arr.add(jvm.java.lang.Float.valueOf(repr(float(x))))
                else:
                    arr.add(x)
            jrec.put(name, arr)
            continue
        base = base.get("type") if isinstance(base, dict) else base
        if base == "long":
            jrec.put(name, jvm.java.lang.Long.valueOf(str(v)))
        elif base == "int":
            jrec.put(name, jvm.java.lang.Integer.valueOf(str(v)))
        elif base == "double":
            jrec.put(name, jvm.java.lang.Double.valueOf(repr(float(v))))
        elif base == "float":
            jrec.put(name, jvm.java.lang.Float.valueOf(repr(float(v))))
        elif base == "bytes":
            jrec.put(name, jvm.java.nio.ByteBuffer.wrap(v))
        else:
            jrec.put(name, v)
    baos = jvm.java.io.ByteArrayOutputStream()
    enc = jvm.org.apache.avro.io.EncoderFactory.get().binaryEncoder(baos, None)
    jvm.org.apache.avro.generic.GenericDatumWriter(js).write(jrec, enc)
    enc.flush()
    return bytes(baos.toByteArray())


def test_codec_roundtrip():
    parsed = AC.parse_schema(SCHEMA)
    assert AC.decode_record(parsed, AC.encode_record(parsed, REC)) == REC


def test_codec_nulls_and_empties():
    parsed = AC.parse_schema(SCHEMA)
    rec = dict(REC, name=None, ys=None, xs=[], payload=b"")
    assert AC.decode_record(parsed, AC.encode_record(parsed, rec)) == rec


def test_codec_bytes_match_apache_java_implementation(spark):
    parsed = AC.parse_schema(SCHEMA)
    for rec in [REC, dict(REC, name=None, ys=None, xs=[])]:
        py = AC.encode_record(parsed, rec)
        jv = _jvm_encode(spark, SCHEMA, rec)
        assert py == jv  # byte-identical with org.apache.avro


NESTED_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1,
         "default": None},
        {
            "name": "data_file",
            "field-id": 2,
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {
                        "name": "partition",
                        "field-id": 102,
                        "type": {"type": "record", "name": "r102", "fields": []},
                    },
                    {"name": "record_count", "type": "long", "field-id": 103},
                ],
            },
        },
    ],
}

NESTED_REC = {
    "status": 1,
    "snapshot_id": 7637471223456789,
    "data_file": {
        "content": 0,
        "file_path": "data/00000-0-abc.parquet",
        "partition": {},
        "record_count": 12345,
    },
}


def _jvm_nested_record(jvm, js, schema: dict, rec: dict):
    jrec = jvm.org.apache.avro.generic.GenericData.Record(js)
    for f in schema["fields"]:
        name, t, v = f["name"], f["type"], rec.get(f["name"])
        if v is None:
            jrec.put(name, None)
        elif isinstance(t, dict) and t.get("type") == "record":
            jrec.put(name, _jvm_nested_record(jvm, js.getField(name).schema(), t, v))
        elif t == "long" or (isinstance(t, list) and t[1] == "long"):
            jrec.put(name, jvm.java.lang.Long.valueOf(str(v)))
        elif t == "int":
            jrec.put(name, jvm.java.lang.Integer.valueOf(str(v)))
        else:
            jrec.put(name, v)
    return jrec


def test_nested_record_bytes_match_java(spark):
    """Nested records (the Iceberg manifest_entry shape: record-in-record
    with an EMPTY partition struct and nullable longs) must be
    byte-identical with org.apache.avro in both directions."""
    jvm = spark._jvm
    js = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(NESTED_SCHEMA))
    parsed = AC.parse_schema(NESTED_SCHEMA)
    for rec in [NESTED_REC, dict(NESTED_REC, snapshot_id=None)]:
        py = AC.encode_record(parsed, rec)
        jrec = _jvm_nested_record(jvm, js, NESTED_SCHEMA, rec)
        baos = jvm.java.io.ByteArrayOutputStream()
        enc = jvm.org.apache.avro.io.EncoderFactory.get().binaryEncoder(baos, None)
        jvm.org.apache.avro.generic.GenericDatumWriter(js).write(jrec, enc)
        enc.flush()
        assert py == bytes(baos.toByteArray())
        # Java reads Python bytes back
        dec = jvm.org.apache.avro.io.DecoderFactory.get().binaryDecoder(py, None)
        out = jvm.org.apache.avro.generic.GenericDatumReader(js).read(None, dec)
        assert out.get("status") == rec["status"]
        assert str(out.get("data_file").get("file_path")) == rec["data_file"]["file_path"]
        assert out.get("data_file").get("record_count") == rec["data_file"]["record_count"]
        # and Python round-trips its own bytes
        assert AC.decode_record(parsed, py) == rec


MAP_SCHEMA = {
    "type": "record",
    "name": "bounds",
    "fields": [
        {
            "name": "lower_bounds",
            "type": ["null", {
                "type": "array", "logicalType": "map",
                "items": {
                    "type": "record", "name": "k126_v127",
                    "fields": [
                        {"name": "key", "type": "int", "field-id": 126},
                        {"name": "value", "type": "bytes", "field-id": 127},
                    ],
                },
            }],
            "default": None,
        },
    ],
}


def test_array_of_records_bytes_match_java(spark):
    """Array-of-record fields (Avro's encoding of Iceberg's manifest
    bounds maps) must be byte-identical with org.apache.avro."""
    jvm = spark._jvm
    js = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(MAP_SCHEMA))
    parsed = AC.parse_schema(MAP_SCHEMA)
    for kvs in ([{"key": 1, "value": b"\x01\x02"}, {"key": 3, "value": b""}],
                [], None):
        rec = {"lower_bounds": kvs}
        py = AC.encode_record(parsed, rec)
        jrec = jvm.org.apache.avro.generic.GenericData.Record(js)
        if kvs is not None:
            arr = jvm.java.util.ArrayList()
            item_schema = (
                js.getField("lower_bounds").schema().getTypes().get(1)
                .getElementType()
            )
            for kv in kvs:
                jr = jvm.org.apache.avro.generic.GenericData.Record(item_schema)
                jr.put("key", jvm.java.lang.Integer.valueOf(str(kv["key"])))
                jr.put("value", jvm.java.nio.ByteBuffer.wrap(kv["value"]))
                arr.add(jr)
            jrec.put("lower_bounds", arr)
        else:
            jrec.put("lower_bounds", None)
        baos = jvm.java.io.ByteArrayOutputStream()
        enc = jvm.org.apache.avro.io.EncoderFactory.get().binaryEncoder(baos, None)
        jvm.org.apache.avro.generic.GenericDatumWriter(js).write(jrec, enc)
        enc.flush()
        assert py == bytes(baos.toByteArray())
        back = AC.decode_record(parsed, py)
        assert back == {"lower_bounds": kvs if kvs is None else list(kvs)}


def test_jvm_decodes_python_bytes(spark):
    parsed = AC.parse_schema(SCHEMA)
    py = AC.encode_record(parsed, REC)
    jvm = spark._jvm
    js = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(SCHEMA))
    dec = jvm.org.apache.avro.io.DecoderFactory.get().binaryDecoder(py, None)
    out = jvm.org.apache.avro.generic.GenericDatumReader(js).read(None, dec)
    assert out.get("event_id") == REC["event_id"]
    assert str(out.get("name")) == REC["name"]
    assert out.get("value") == REC["value"]
    assert list(out.get("ys")) == REC["ys"]


@settings(max_examples=200, deadline=None)
@given(
    event_id=st.integers(min_value=-(2**63), max_value=2**63 - 1),
    n=st.integers(min_value=-(2**31), max_value=2**31 - 1),
    name=st.one_of(st.none(), st.text(max_size=40)),
    value=st.floats(allow_nan=False),
    ok=st.booleans(),
    payload=st.binary(max_size=64),
    xs=st.lists(st.floats(allow_nan=False), max_size=8),
    ys=st.one_of(
        st.none(),
        st.lists(
            st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=8
        ),
    ),
)
def test_codec_roundtrip_property(event_id, n, name, value, ok, payload, xs, ys):
    schema = {
        "type": "record",
        "name": "p",
        "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "n", "type": "int"},
            {"name": "name", "type": ["null", "string"]},
            {"name": "value", "type": "double"},
            {"name": "ok", "type": "boolean"},
            {"name": "payload", "type": "bytes"},
            {"name": "xs", "type": {"type": "array", "items": "double"}},
            {"name": "ys", "type": ["null", {"type": "array", "items": "long"}]},
        ],
    }
    rec = dict(
        event_id=event_id, n=n, name=name, value=value, ok=ok,
        payload=payload, xs=xs, ys=ys,
    )
    parsed = AC.parse_schema(schema)
    assert AC.decode_record(parsed, AC.encode_record(parsed, rec)) == rec


def test_unsupported_schema_rejected():
    for bad in [
        {"type": "record", "name": "x",
         "fields": [{"name": "m", "type": {"type": "map", "values": "long"}}]},
        {"type": "record", "name": "x",
         "fields": [{"name": "e", "type": {"type": "enum", "name": "c",
                                           "symbols": ["A"]}}]},
        {"type": "record", "name": "x",
         "fields": [{"name": "u", "type": ["string", "long"]}]},
    ]:
        with pytest.raises(ValueError):
            AC.parse_schema(bad)


def test_dataframe_avro_roundtrip(spark):
    from flinkrunner_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").limit(200)
    schema = serde.avro_schema_for_df(ev)
    encoded = serde.avro_encode(ev)
    assert encoded.schema.simpleString() == "struct<value:binary>"
    decoded = serde.avro_decode(encoded, schema)
    import pyspark.sql.functions as F

    # timestamps ride as long micros in the codec subset
    want = ev.withColumn(
        "ts", F.unix_micros(F.col("ts").cast("timestamp")).cast("bigint")
    )
    got = sorted(map(tuple, decoded.collect()))
    exp = sorted(map(tuple, want.collect()))
    assert got == exp


def test_confluent_framing_roundtrip(spark):
    from flinkrunner_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").limit(50)
    reg = AC.LocalSchemaRegistry()
    framed = serde.confluent_avro_encode(ev, reg, "events-value")
    raw = framed.first()["value"]
    sid, payload = AC.confluent_unframe(bytes(raw))
    assert raw[0] == AC.CONFLUENT_MAGIC
    assert sid == reg.id_by_subject("events-value")
    decoded = serde.confluent_avro_decode(framed, reg, "events-value")
    import pyspark.sql.functions as F

    want = ev.withColumn("ts", F.unix_micros(F.col("ts").cast("timestamp")).cast("bigint"))
    assert sorted(map(tuple, decoded.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_registry_ids_stable():
    reg = AC.LocalSchemaRegistry()
    s1 = reg.register("a-value", SCHEMA)
    s2 = reg.register("b-value", SCHEMA)  # same schema, new subject
    assert s1 == s2  # id keyed by canonical schema, like the real registry
    other = {
        "type": "record", "name": "o",
        "fields": [{"name": "x", "type": "long"}],
    }
    assert reg.register("c-value", other) != s1
    with pytest.raises(ValueError):
        AC.confluent_unframe(b"\x01\x00\x00\x00\x01")  # wrong magic


def test_kafka_record_prep_confluent_avro(spark):
    """Kafka record shaping with value.format=confluent-avro: one Arrow
    pass encodes the whole event into a framed value while the key
    column passes through — broker-free, like the json prep test."""
    from flinkrunner_spark.sinks.factory import KafkaSinkConfig

    df = spark.createDataFrame(
        [(1, "click", 2.5), (2, "view", -1.0)],
        "event_id long, event_type string, value_amt double",
    )
    sink = KafkaSinkConfig(
        "events-out",
        {
            "connector": "kafka",
            "topic": "events",
            "key.column": "event_id",
            "value.format": "confluent-avro",
        },
    )
    with pytest.raises(ValueError):  # registry is mandatory
        sink.prepare_records(df)
    reg = AC.LocalSchemaRegistry()
    sink.schema_registry = reg
    rec = sink.prepare_records(df)
    assert set(rec.columns) == {"key", "value"}
    rows = {r["key"]: bytes(r["value"]) for r in rec.collect()}
    assert set(rows) == {"1", "2"}
    sid, payload = AC.confluent_unframe(rows["1"])
    assert sid == reg.id_by_subject("events-value")
    decoded = AC.decode_record(reg.schema_by_id(sid), payload)
    assert decoded == {"event_id": 1, "event_type": "click", "value_amt": 2.5}


def test_container_file_roundtrip_and_jvm_interop(spark, tmp_path):
    """OCF files: python-written containers parse back exactly, the Java
    DataFileReader (avro-1.12.1.jar) reads python-written files, and the
    python codec reads Java DataFileWriter output — both codecs."""
    schema = {
        "type": "record", "name": "t",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "s", "type": ["null", "string"]},
            {"name": "xs", "type": {"type": "array", "items": "double"}},
        ],
    }
    recs = [
        {"a": i, "s": None if i % 3 == 0 else f"x{i}", "xs": [i * 0.5]}
        for i in range(50)
    ]
    jvm = spark._jvm
    js = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(schema))
    for codec in ("null", "deflate"):
        blob = AC.write_container(schema, recs, codec=codec)
        _, back = AC.read_container(blob)
        assert back == recs

        # Java reads python-written container
        p = tmp_path / f"py_{codec}.avro"
        p.write_bytes(blob)
        reader = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(str(p)),
            jvm.org.apache.avro.generic.GenericDatumReader(js),
        )
        got = []
        while reader.hasNext():
            r = reader.next()
            got.append(
                {
                    "a": r.get("a"),
                    "s": None if r.get("s") is None else str(r.get("s")),
                    "xs": list(r.get("xs")),
                }
            )
        reader.close()
        assert got == recs

        # python reads Java-written container
        jp = tmp_path / f"jv_{codec}.avro"
        writer = jvm.org.apache.avro.file.DataFileWriter(
            jvm.org.apache.avro.generic.GenericDatumWriter(js)
        )
        if codec == "deflate":
            writer.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
        writer.create(js, jvm.java.io.File(str(jp)))
        for rec in recs:
            jrec = jvm.org.apache.avro.generic.GenericData.Record(js)
            jrec.put("a", jvm.java.lang.Long.valueOf(str(rec["a"])))
            jrec.put("s", rec["s"])
            arr = jvm.java.util.ArrayList()
            for x in rec["xs"]:
                arr.add(jvm.java.lang.Double.valueOf(repr(x)))
            jrec.put("xs", arr)
            writer.append(jrec)
        writer.close()
        _, back = AC.read_container(jp.read_bytes())
        assert back == recs


def test_file_source_sink_avro_fallback(spark, tmp_path):
    """FileSink/FileSource with format=avro roundtrip WITHOUT the
    spark-avro jar (python OCF fallback), through the config factories."""
    from flinkrunner_spark.sinks.factory import FileSinkConfig
    from flinkrunner_spark.sources.factory import FileSourceConfig
    from flinkrunner_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").limit(300)
    path = str(tmp_path / "ev_avro")
    FileSinkConfig(
        "out", {"connector": "file", "format": "avro", "path": path}
    ).write(ev)
    import os

    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert any(f.endswith(".avro") for f in os.listdir(path))

    back = FileSourceConfig(
        "in", {"connector": "file", "format": "avro", "path": path}
    ).load(spark)
    import pyspark.sql.functions as F

    want = ev.withColumn(
        "ts", F.unix_micros(F.col("ts").cast("timestamp")).cast("bigint")
    )
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_confluent_decode_rejects_wrong_schema_id(spark):
    """A message framed under a different schema id must raise at decode,
    not silently parse into garbage field values under the subject's
    schema."""
    reg = AC.LocalSchemaRegistry()
    df = spark.createDataFrame([(1, "a")], "x long, s string")
    framed = serde.confluent_avro_encode(df, reg, "t-value")
    good_id = reg.id_by_subject("t-value")
    # register a second, different schema so another id exists
    other_id = reg.register(
        "o-value",
        {"type": "record", "name": "o",
         "fields": [{"name": "z", "type": "long"}]},
    )
    assert other_id != good_id

    raw = bytes(framed.first()["value"])
    _, payload = AC.confluent_unframe(raw)
    wrong = AC.confluent_frame(other_id, payload)
    bad_df = spark.createDataFrame([(bytearray(wrong),)], "value binary")
    with pytest.raises(Exception, match="schema id"):
        serde.confluent_avro_decode(bad_df, reg, "t-value").collect()
    # the matching frame still decodes
    assert serde.confluent_avro_decode(framed, reg, "t-value").collect()[0][0] == 1


def test_avro_sink_save_modes(spark, tmp_path):
    """The no-jar avro sink must honor DataFrameWriter save modes:
    errorifexists raises, ignore is a no-op, append coexists (per-run
    part names), and overwrite with FEWER partitions leaves no stale
    parts from the earlier wider run (the silent-resurrection bug)."""
    import os

    from flinkrunner_spark.sinks.factory import FileSinkConfig
    from flinkrunner_spark.sources.factory import FileSourceConfig

    df8 = spark.range(80).repartition(8).selectExpr("id AS a")
    path = str(tmp_path / "modes_avro")

    def sink(mode):
        return FileSinkConfig(
            "out",
            {"connector": "file", "format": "avro", "path": path, "mode": mode},
        )

    def read_rows():
        src = FileSourceConfig(
            "in", {"connector": "file", "format": "avro", "path": path}
        )
        return sorted(r["a"] for r in src.load(spark).collect())

    sink("overwrite").write(df8)
    assert read_rows() == list(range(80))

    with pytest.raises(FileExistsError):
        sink("errorifexists").write(df8)
    with pytest.raises(FileExistsError):
        sink("error").write(df8)

    before = sorted(os.listdir(path))
    sink("ignore").write(spark.range(5).selectExpr("id AS a"))
    assert sorted(os.listdir(path)) == before  # untouched

    sink("append").write(spark.range(80, 90).repartition(1).selectExpr("id AS a"))
    assert read_rows() == list(range(90))

    # overwrite with ONE partition after an 8-partition run: stale parts
    # from the wide run must not survive and resurrect rows
    sink("overwrite").write(spark.range(3).repartition(1).selectExpr("id AS a"))
    assert read_rows() == [0, 1, 2]
    assert sum(f.endswith(".avro") for f in os.listdir(path)) == 1


def test_avro_fallback_gate_is_precise(spark, tmp_path):
    """Only the missing-datasource ANALYSIS error may trigger the python
    fallback; an error that merely mentions an avro-ish path (e.g.
    PATH_ALREADY_EXISTS on .../avro) must propagate."""
    from flinkrunner_spark import serde

    p = str(tmp_path / "avro")  # path name contains 'avro'
    spark.range(3).write.parquet(p)
    with pytest.raises(Exception) as ei:
        spark.range(3).write.mode("error").parquet(p)
    assert not serde.avro_datasource_missing(ei.value)  # wrong class of error

    with pytest.raises(Exception) as ei2:
        spark.range(3).write.format("avro").save(str(tmp_path / "x"))
    assert serde.avro_datasource_missing(ei2.value)  # the real no-jar case
    assert not serde.avro_datasource_missing(ValueError("avro"))


def test_kafka_record_prep_confluent_avro_with_headers(spark):
    """headers + confluent-avro value format together: the header source
    columns must survive the encode projection (they are attached AFTER
    the value is built), and the prepared frame carries exactly
    key/value/headers."""
    from flinkrunner_spark.sinks.factory import KafkaSinkConfig

    df = spark.createDataFrame(
        [(1, "click", "us"), (2, "view", "de")],
        "event_id long, event_type string, region string",
    )
    sink = KafkaSinkConfig(
        "events-out",
        {
            "connector": "kafka",
            "topic": "events",
            "key.column": "event_id",
            "value.format": "confluent-avro",
            "headers": {"X-Region": "region", "X-Type": "event_type"},
        },
    )
    sink.schema_registry = AC.LocalSchemaRegistry()
    rec = sink.prepare_records(df)
    assert set(rec.columns) == {"key", "value", "headers"}
    rows = {r["key"]: r for r in rec.collect()}
    assert set(rows) == {"1", "2"}
    hdrs = {h["key"]: bytes(h["value"]).decode() for h in rows["1"]["headers"]}
    assert hdrs == {"X-Region": "us", "X-Type": "click"}
    sid, payload = AC.confluent_unframe(bytes(rows["2"]["value"]))
    decoded = AC.decode_record(
        sink.schema_registry.schema_by_id(sid), payload
    )
    assert decoded == {"event_id": 2, "event_type": "view", "region": "de"}


def test_container_block_enumeration_and_split_decode(tmp_path):
    """Multi-block containers: the seek-walk enumerator must find every
    sync-delimited block, and per-block decodes (each reading only its
    byte range) must reassemble the full record set — for both codecs and
    for Java-writer-shaped multi-block files."""
    schema = {
        "type": "record", "name": "t",
        "fields": [{"name": "a", "type": "long"},
                   {"name": "s", "type": ["null", "string"]}],
    }
    recs = [{"a": i, "s": None if i % 5 == 0 else f"v{i}"} for i in range(97)]
    for codec in ("null", "deflate"):
        blob = AC.write_container(schema, recs, codec=codec, max_block_records=20)
        p = tmp_path / f"mb_{codec}.avro"
        p.write_bytes(blob)
        parsed, got_codec, sync, blocks = AC.enumerate_container_blocks(str(p))
        assert got_codec == codec
        assert len(blocks) == 5  # ceil(97/20)
        assert [n for _, _, n in blocks] == [20, 20, 20, 20, 17]
        got = []
        for off, ln, _ in blocks:
            got.extend(
                AC.decode_container_block(str(p), off, ln, parsed, codec, sync)
            )
        assert got == recs
        # whole-blob reader agrees
        _, whole = AC.read_container(blob)
        assert whole == recs


def test_split_reader_matches_whole_file_reader(spark, tmp_path):
    """read_avro_files_split (parallel block decode) must return exactly
    the rows of the whole-file reader over a multi-file, multi-block
    directory."""
    from flinkrunner_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").limit(200)
    path = str(tmp_path / "split_avro")
    serde.write_avro_files(ev.repartition(4), path)
    whole = sorted(map(tuple, serde.read_avro_files(spark, path).collect()))
    split = sorted(map(tuple, serde.read_avro_files_split(spark, path).collect()))
    assert split == whole and len(split) == 200


def test_streaming_avro_source_multiblock(spark, tmp_path):
    """Streaming avro WITHOUT the jar: the source must discover files,
    enumerate sync-marker blocks executor-side, and decode blocks in
    parallel — two staggered multi-block files stream through the config
    factory into memory with every record intact."""
    import time as _time

    from flinkrunner_spark.sources.factory import FileSourceConfig

    schema = {
        "type": "record", "name": "t",
        "fields": [{"name": "a", "type": "long"}],
    }
    path = tmp_path / "stream_avro"
    path.mkdir()
    for fno in range(2):
        recs = [{"a": fno * 100 + i} for i in range(50)]
        blob = AC.write_container(
            schema, recs, codec="deflate", max_block_records=7,
            sync_salt=str(fno),
        )
        (path / f"f{fno}.avro").write_bytes(blob)
        _time.sleep(1.1)  # staggered mtimes -> deterministic batches

    src = FileSourceConfig(
        "in",
        {"connector": "file", "format": "avro", "path": str(path),
         "streaming": True, "schema": "a long"},
    )
    stream = src.load(spark)
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory").queryName("avro_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(r["a"] for r in spark.sql("SELECT * FROM avro_stream").collect())
    assert got == sorted(list(range(50)) + list(range(100, 150)))


def test_glue_wire_format_roundtrip():
    """Glue registry framing: header-version 3, compression byte, 16-byte
    schema-version UUID — both compression modes roundtrip, bad headers
    raise."""
    parsed = AC.parse_schema(SCHEMA)
    payload = AC.encode_record(parsed, REC)
    reg = AC.LocalGlueRegistry()
    vid = reg.register("events", SCHEMA)
    assert len(vid) == 16
    assert reg.register("events2", SCHEMA) == vid  # deterministic per schema
    for compress in (False, True):
        frame = AC.glue_frame(vid, payload, compress=compress)
        assert frame[0] == AC.GLUE_HEADER_VERSION
        got_vid, got_payload = AC.glue_unframe(frame)
        assert got_vid == vid
        assert got_payload == payload
        assert AC.decode_record(reg.schema_by_uuid(got_vid), got_payload) == REC
    with pytest.raises(ValueError):
        AC.glue_unframe(b"\x02\x00" + vid + payload)  # wrong header version
    with pytest.raises(ValueError):
        AC.glue_frame(b"\x00" * 8, payload)  # short uuid


def test_avro_json_encoding_interop(spark):
    """Spec json-encoding: the Java JsonDecoder parses our output back to
    the same record, and we parse the Java JsonEncoder's output. Plain
    mode (AvroJsonSerializer parity) roundtrips unwrapped."""
    parsed = AC.parse_schema(SCHEMA)
    jvm = spark._jvm
    js = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(SCHEMA))

    for rec in [REC, dict(REC, name=None, ys=None, xs=[])]:
        s = AC.json_encode_record(parsed, rec)
        # python roundtrip (binary-exact for float32 via shortest-repr rule)
        back = AC.json_decode_record(parsed, s)
        assert {k: v for k, v in back.items() if k != "ratio"} == {
            k: v for k, v in rec.items() if k != "ratio"
        }
        assert abs(back["ratio"] - rec["ratio"]) < 1e-6

        # Java JsonDecoder reads our json-encoding
        dec = jvm.org.apache.avro.io.DecoderFactory.get().jsonDecoder(js, s)
        out = jvm.org.apache.avro.generic.GenericDatumReader(js).read(None, dec)
        assert out.get("event_id") == rec["event_id"]
        got_name = out.get("name")
        assert (got_name is None) == (rec["name"] is None)
        if rec["name"] is not None:
            assert str(got_name) == rec["name"]
        assert list(out.get("xs")) == rec["xs"]

        # we read the Java JsonEncoder's output
        baos = jvm.java.io.ByteArrayOutputStream()
        enc = jvm.org.apache.avro.io.EncoderFactory.get().jsonEncoder(js, baos)
        jvm.org.apache.avro.generic.GenericDatumWriter(js).write(
            _jvm_record(spark, js, SCHEMA, rec), enc
        )
        enc.flush()
        jback = AC.json_decode_record(parsed, baos.toString("UTF-8"))
        assert jback["event_id"] == rec["event_id"]
        assert jback["name"] == rec["name"]
        assert jback["xs"] == rec["xs"]
        assert jback["payload"] == rec["payload"]

    # plain mode: unwrapped unions, roundtrips through our own decoder
    plain = AC.json_encode_record(parsed, REC, spec_unions=False)
    assert '"name":"h\\u00e9llo' in plain  # no {"string": ...} wrapper
    assert AC.json_decode_record(parsed, plain, spec_unions=False)["ys"] == REC["ys"]


def _jvm_record(spark, js, schema, rec):
    jvm = spark._jvm
    jrec = jvm.org.apache.avro.generic.GenericData.Record(js)
    for f in schema["fields"]:
        name, t, v = f["name"], f["type"], rec.get(f["name"])
        if v is None:
            jrec.put(name, None)
            continue
        base = t[1] if isinstance(t, list) else t
        if isinstance(base, dict) and base.get("type") == "array":
            arr = jvm.java.util.ArrayList()
            for x in v:
                if base["items"] == "long":
                    arr.add(jvm.java.lang.Long.valueOf(str(x)))
                else:
                    arr.add(jvm.java.lang.Double.valueOf(repr(float(x))))
            jrec.put(name, arr)
            continue
        base = base.get("type") if isinstance(base, dict) else base
        if base == "long":
            jrec.put(name, jvm.java.lang.Long.valueOf(str(v)))
        elif base == "int":
            jrec.put(name, jvm.java.lang.Integer.valueOf(str(v)))
        elif base == "double":
            jrec.put(name, jvm.java.lang.Double.valueOf(repr(float(v))))
        elif base == "float":
            jrec.put(name, jvm.java.lang.Float.valueOf(repr(float(v))))
        elif base == "bytes":
            jrec.put(name, jvm.java.nio.ByteBuffer.wrap(v))
        else:
            jrec.put(name, v)
    return jrec


def test_equality_ids_array_bytes_match_java(spark):
    """Nullable int arrays (the `equality_ids` field the upsert writes
    into manifest data_file records) must be byte-identical with
    org.apache.avro in both directions — the same validation bar as the
    rest of the manifest schema."""
    schema = {
        "type": "record",
        "name": "df",
        "fields": [
            {"name": "file_path", "type": "string"},
            {
                "name": "equality_ids",
                "type": ["null", {"type": "array", "items": "int"}],
                "default": None,
            },
        ],
    }
    jvm = spark._jvm
    js = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(schema))
    parsed = AC.parse_schema(schema)
    for ids in ([1, 2, 5], [], None):
        rec = {"file_path": "x.parquet", "equality_ids": ids}
        py = AC.encode_record(parsed, rec)
        jrec = jvm.org.apache.avro.generic.GenericData.Record(js)
        jrec.put("file_path", "x.parquet")
        if ids is not None:
            jlist = jvm.java.util.ArrayList()
            for i in ids:
                jlist.add(i)
            jrec.put("equality_ids", jlist)
        baos = jvm.java.io.ByteArrayOutputStream()
        enc = jvm.org.apache.avro.io.EncoderFactory.get().binaryEncoder(
            baos, None
        )
        jvm.org.apache.avro.generic.GenericDatumWriter(js).write(jrec, enc)
        enc.flush()
        assert py == bytes(baos.toByteArray()), ids
        dec = jvm.org.apache.avro.io.DecoderFactory.get().binaryDecoder(
            py, None
        )
        out = jvm.org.apache.avro.generic.GenericDatumReader(js).read(
            None, dec
        )
        got = out.get("equality_ids")
        assert (got is None) == (ids is None)
        if ids is not None:
            assert [got.get(i) for i in range(got.size())] == ids
        assert AC.decode_record(parsed, py) == rec


def test_avro_fallback_honors_configured_schema_and_glob(spark, tmp_path):
    """The no-jar fallback must behave like reader.schema(...) on the
    jar path: conform to the CONFIGURED column subset/order (not the
    writer schema) and honor path.filter globs."""
    import pandas as pd

    from flinkrunner_spark import serde

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id bigint, name string, score double"
    )
    path = str(tmp_path / "conf")
    serde.write_avro_files(df, path, mode="overwrite")
    # column subset in a different order, with a cast
    out = serde.read_avro_files_split(
        spark, path, select_ddl="name string, id int"
    )
    assert out.columns == ["name", "id"]
    assert out.schema["id"].dataType.simpleString() == "int"
    assert sorted(map(tuple, out.collect())) == [("a", 1), ("b", 2)]
    # glob filters enumeration: nothing matches -> schema inference fails
    # loudly rather than reading unfiltered files
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no avro files"):
        serde.read_avro_files_split(spark, path, glob="zzz-*.avro")
    # streaming form conforms too
    stream = serde.read_avro_stream(
        spark, path, select_ddl="name string, id int"
    )
    q = (
        stream.writeStream.format("memory").queryName("avro_conf")
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    got = sorted(map(tuple, spark.table("avro_conf").collect()))
    assert got == [("a", 1), ("b", 2)]


def test_string_deserializer_with_confluent_fallback():
    """Reference serde/StringDeserializerWithConfluentFallback.scala:
    confluent-framed keys resolve through the registry, plain bytes
    decode as UTF-8, None passes through."""
    schema = {
        "type": "record", "name": "K",
        "fields": [{"name": "id", "type": "long"}],
    }
    reg = AC.LocalSchemaRegistry()
    sid = reg.register("k-key", schema)
    framed = AC.confluent_frame(
        sid, AC.encode_record(AC.parse_schema(schema), {"id": 7})
    )
    assert AC.string_with_confluent_fallback(framed, reg) == '{"id": 7}'
    assert AC.string_with_confluent_fallback(b"plain-key") == "plain-key"
    assert AC.string_with_confluent_fallback(None) is None
    # framed but no registry: best-effort passthrough, never a crash
    out = AC.string_with_confluent_fallback(framed)
    assert isinstance(out, str)
