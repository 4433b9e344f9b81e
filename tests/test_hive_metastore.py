"""Jar-free Hive Metastore catalog: thrift-binary wire client vs the
lock-enforcing loopback metastore, plus the factory routing
(catalog.type hive resolves on the source, publishes with the locked
CAS on the sink — reference IcebergCommonConfig.scala:56-71)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from flinkrunner_spark.hive_metastore import (  # noqa: E402
    LOCK_ACQUIRED,
    LOCK_WAITING,
    HiveCommitConflict,
    HiveMetastoreClient,
    HiveMetastoreError,
    NoSuchTable,
    ThriftReader,
    encode_table,
    hive_from_conf,
)
from flinkrunner_spark.iceberg import IcebergFsTable  # noqa: E402
from flinkrunner_spark.testing import LoopbackHiveMetastore  # noqa: E402


def _fs_table(spark, tmp_path, n=20, name="t1"):
    t = IcebergFsTable(str(tmp_path / name))
    t.append(
        spark.createDataFrame(
            [(i, f"x{i}") for i in range(n)], "id long, name string"
        )
    )
    return t


def _client(srv) -> HiveMetastoreClient:
    return HiveMetastoreClient("localhost", srv.port)


def test_thrift_struct_codec_roundtrip():
    """The codec is its own first witness: an encoded Table decodes to
    the same field-id dict (strings, nested struct, string map)."""
    blob = encode_table(
        "db", "tbl", "/w/db/tbl",
        {"table_type": "ICEBERG", "metadata_location": "/w/db/tbl/metadata/v3.metadata.json"},
        owner="svc",
    )
    t = ThriftReader(blob).read_struct()
    assert t[1] == "tbl" and t[2] == "db" and t[3] == "svc"
    assert t[7][2] == "/w/db/tbl"
    assert t[9]["metadata_location"].endswith("v3.metadata.json")
    assert t[12] == "EXTERNAL_TABLE"


def test_get_table_missing_and_create_roundtrip():
    with LoopbackHiveMetastore() as srv:
        with _client(srv) as c:
            with pytest.raises(NoSuchTable):
                c.get_table("db", "ghost")
            c.create_table(
                "db", "t", "/w/db/t",
                {"table_type": "ICEBERG",
                 "metadata_location": "/w/db/t/metadata/v1.metadata.json"},
            )
            assert c.metadata_location("db", "t").endswith("v1.metadata.json")
            assert c.resolve("db", "t").location == "/w/db/t"
            with pytest.raises(HiveMetastoreError, match="AlreadyExists"):
                c.create_table("db", "t", "/w/db/t", {})


def test_non_iceberg_table_refuses_by_name():
    with LoopbackHiveMetastore() as srv:
        with _client(srv) as c:
            c.create_table("db", "plainhive", "/w/db/p", {})
            with pytest.raises(HiveMetastoreError, match="not an Iceberg"):
                c.metadata_location("db", "plainhive")


def test_commit_swap_cas_and_lock_discipline():
    with LoopbackHiveMetastore() as srv:
        with _client(srv) as c:
            c.create_table(
                "db", "t", "/w/db/t",
                {"table_type": "ICEBERG",
                 "metadata_location": "/w/db/t/metadata/v1.metadata.json"},
            )
            # happy path: locked CAS advances the pointer + lineage
            c.commit_swap(
                "db", "t",
                "/w/db/t/metadata/v1.metadata.json",
                "/w/db/t/metadata/v2.metadata.json",
            )
            t = c.get_table("db", "t")
            assert t[9]["metadata_location"].endswith("v2.metadata.json")
            assert t[9]["previous_metadata_location"].endswith(
                "v1.metadata.json"
            )
            # stale expected pointer → conflict, pointer unchanged
            with pytest.raises(HiveCommitConflict):
                c.commit_swap(
                    "db", "t",
                    "/w/db/t/metadata/v1.metadata.json",
                    "/w/db/t/metadata/v3.metadata.json",
                )
            assert c.metadata_location("db", "t").endswith(
                "v2.metadata.json"
            )
            # every lock released: a fresh exclusive lock is ACQUIRED
            lockid, state = c.lock_exclusive("db", "t")
            assert state == LOCK_ACQUIRED
            c.unlock(lockid)


def test_alter_without_lock_refuses():
    """The loopback makes the HiveTableOperations mutex mandatory: a
    client that swaps the pointer without the metastore lock fails."""
    with LoopbackHiveMetastore() as srv:
        with _client(srv) as c:
            c.create_table("db", "t", "/w", {"table_type": "ICEBERG"})
            with pytest.raises(HiveMetastoreError, match="lock"):
                c._alter_table(
                    "db", "t", encode_table("db", "t", "/w", {})
                )


def test_second_locker_waits_until_unlock():
    with LoopbackHiveMetastore() as srv:
        with _client(srv) as c1, _client(srv) as c2:
            c1.create_table("db", "t", "/w", {"table_type": "ICEBERG"})
            l1, s1 = c1.lock_exclusive("db", "t")
            assert s1 == LOCK_ACQUIRED
            l2, s2 = c2.lock_exclusive("db", "t")
            assert s2 == LOCK_WAITING
            assert c2.check_lock(l2) == LOCK_WAITING  # still held
            c1.unlock(l1)
            assert c2.check_lock(l2) == LOCK_ACQUIRED  # FIFO promotion
            c2.unlock(l2)


def test_source_factory_resolves_catalog_type_hive(spark, tmp_path):
    from flinkrunner_spark.sources.factory import IcebergSourceConfig

    t = _fs_table(spark, tmp_path, n=25)
    with LoopbackHiveMetastore() as srv:
        with _client(srv) as c:
            c.publish("default", "t1", t)
        df = IcebergSourceConfig(
            "t1",
            {"connector": "iceberg", "table": "t1",
             "catalog.type": "hive", "catalog.uri": srv.uri},
        ).load(spark)
        assert sorted(r["id"] for r in df.collect()) == list(range(25))


def test_sink_factory_publishes_through_hive_lock(spark, tmp_path):
    """First write registers; later writes publish the new tip through
    the locked CAS — a catalog reader sees exactly the fs tip."""
    from flinkrunner_spark.sinks.factory import IcebergSinkConfig
    from flinkrunner_spark.sources.factory import IcebergSourceConfig

    loc = str(tmp_path / "hive_pub")
    with LoopbackHiveMetastore() as srv:
        conf = {
            "connector": "iceberg", "path": loc, "table": "pub",
            "catalog.type": "hive", "catalog.uri": srv.uri,
        }
        sink = IcebergSinkConfig("pub", dict(conf))
        sink.write(
            spark.createDataFrame(
                [(i, f"a{i}") for i in range(10)], "id long, name string"
            )
        )
        sink.write(
            spark.createDataFrame(
                [(100 + i, f"b{i}") for i in range(5)],
                "id long, name string",
            )
        )
        with _client(srv) as c:
            md = c.metadata_location("default", "pub")
        t = IcebergFsTable(loc)
        assert md.endswith(f"v{t._version()}.metadata.json")
        df = IcebergSourceConfig(
            "pub",
            {"connector": "iceberg", "table": "pub",
             "catalog.type": "hive", "catalog.uri": srv.uri},
        ).load(spark)
        assert df.count() == 15


def test_hive_from_conf_parses_uri_and_refuses_non_thrift():
    c = hive_from_conf({"catalog.uri": "thrift://meta.host:9083"})
    assert (c.host, c.port) == ("meta.host", 9083)
    assert hive_from_conf({"catalog.uri": "thrift://h"}).port == 9083
    with pytest.raises(ValueError, match="thrift"):
        hive_from_conf({"catalog.uri": "http://meta:9083"})


def test_thrift_reader_raises_on_truncated_frames():
    """Unframed-transport safety: EVERY prefix of a valid frame must
    raise (struct.error/IndexError), never mis-parse — the client's
    retry loop depends on truncation being loud."""
    import struct as _struct

    from flinkrunner_spark.hive_metastore import (
        MSG_REPLY,
        T_STRUCT,
        enc_message,
        enc_struct,
        enc_string,
    )
    from flinkrunner_spark.hive_metastore import T_STRING

    body = enc_struct(
        [(T_STRUCT, 0, enc_struct([(T_STRING, 1, enc_string("hello"))]))]
    )
    frame = enc_message("get_table", MSG_REPLY, 7, body)

    def parse(buf):
        r = ThriftReader(buf)
        name, mtype, seqid = r.read_message_header()
        return name, seqid, r.read_struct()

    assert parse(frame) == ("get_table", 7, {0: {1: "hello"}})
    for cut in range(len(frame)):
        with pytest.raises((_struct.error, IndexError, ValueError)):
            parse(frame[:cut])


def test_iceberg_hive_roundtrip_matches_duckdb_oracle(spark):
    """The r11-slated driver key, rehearsed with the driver's own
    compare (sorted columns, stringified sorted rows, md5) at
    sf0.001 — register → locked-CAS swap → catalog-resolved read."""
    from flinkrunner_spark import parity
    from flinkrunner_spark.plans.connectors import iceberg_hive_roundtrip
    from flinkrunner_spark.plans.oracle_sql import ORACLES

    sf = "/root/testdata/sf0.001"
    sql = ORACLES["iceberg_hive_roundtrip"]
    rec = parity.check(spark, parity.duck(sf), iceberg_hive_roundtrip, sql, sf)
    assert parity.passed(rec) and rec["spark_rows"] > 0, rec


def test_non_exclusive_lock_refused_by_loopback():
    """The LockType enum value matters against a real metastore
    (SHARED_READ=1, SHARED_WRITE=2, EXCLUSIVE=3): the loopback refuses
    a non-exclusive commit lock, so a client encoding the wrong enum
    value fails in tests instead of silently not excluding anyone."""
    import struct as _struct

    from flinkrunner_spark.hive_metastore import (
        T_I32,
        T_LIST,
        T_STRING,
        T_STRUCT,
        enc_string,
        enc_struct,
    )

    with LoopbackHiveMetastore() as srv:
        with _client(srv) as c:
            c.create_table("db", "t", "/w", {"table_type": "ICEBERG"})
            component = enc_struct(
                [
                    (T_I32, 1, _struct.pack(">i", 1)),  # SHARED_READ
                    (T_I32, 2, _struct.pack(">i", 2)),
                    (T_STRING, 3, enc_string("db")),
                    (T_STRING, 4, enc_string("t")),
                ]
            )
            req = enc_struct(
                [(T_LIST, 1, _struct.pack(">bi", T_STRUCT, 1) + component)]
            )
            result = c._call("lock", enc_struct([(T_STRUCT, 1, req)]))
            assert 0 not in result  # no LockResponse
            assert "EXCLUSIVE" in str(result)


def test_thrift_codec_property_roundtrip():
    """Property: any struct assembled from the encoders (strings with
    arbitrary unicode, i32/i64 extremes, string maps, nested structs)
    decodes to exactly the values written, at the field ids written."""
    import struct as _struct

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from flinkrunner_spark.hive_metastore import (
        T_I32,
        T_I64,
        T_MAP,
        T_STRING,
        T_STRUCT,
        enc_map_ss,
        enc_string,
        enc_struct,
    )

    text = st.text(max_size=40)
    leaf = st.one_of(
        st.tuples(st.just("str"), text),
        st.tuples(st.just("i32"), st.integers(-(2**31), 2**31 - 1)),
        st.tuples(st.just("i64"), st.integers(-(2**63), 2**63 - 1)),
        st.tuples(
            st.just("map"),
            st.dictionaries(text, text, max_size=4),
        ),
    )
    value = st.recursive(
        leaf,
        lambda inner: st.tuples(
            st.just("struct"),
            st.dictionaries(
                st.integers(1, 200), inner, min_size=0, max_size=4
            ),
        ),
        max_leaves=10,
    )
    structs = st.dictionaries(
        st.integers(1, 200), value, min_size=0, max_size=5
    )

    def enc_value(v):
        kind, payload = v
        if kind == "str":
            return T_STRING, enc_string(payload)
        if kind == "i32":
            return T_I32, _struct.pack(">i", payload)
        if kind == "i64":
            return T_I64, _struct.pack(">q", payload)
        if kind == "map":
            return T_MAP, enc_map_ss(payload)
        return T_STRUCT, enc_struct(
            [(t, fid, b) for fid, (t, b) in
             ((fid, enc_value(x)) for fid, x in payload.items())]
        )

    def expect(v):
        kind, payload = v
        if kind == "struct":
            return {fid: expect(x) for fid, x in payload.items()}
        return payload

    @settings(max_examples=150, deadline=None)
    @given(structs)
    def check(fields):
        blob = enc_struct(
            [(t, fid, b) for fid, (t, b) in
             ((fid, enc_value(x)) for fid, x in fields.items())]
        )
        got = ThriftReader(blob).read_struct()
        assert got == {fid: expect(x) for fid, x in fields.items()}

    check()


def test_partition_rpcs_roundtrip():
    """add_partitions / get_partitions / get_partition_names /
    drop_partition over the real thrift wire (hive_metastore.thrift
    Partition struct: value list + storage-descriptor location) — the
    non-Iceberg HMS interop surface."""
    with LoopbackHiveMetastore() as srv, _client(srv) as c:
        c.create_table(
            "db", "sales", "s3://b/sales", {"k": "v"},
            partition_keys=[("ds", "string"), ("region", "string")],
        )
        n = c.add_partitions(
            "db", "sales",
            [
                (["2026-01-01", "eu"], "s3://b/sales/ds=2026-01-01/region=eu"),
                (["2026-01-01", "us"], "s3://b/sales/ds=2026-01-01/region=us"),
                (["2026-01-02", "eu"], "s3://b/sales/ds=2026-01-02/region=eu"),
            ],
        )
        assert n == 3
        parts = c.get_partitions("db", "sales")
        assert [p["values"] for p in parts] == [
            ["2026-01-01", "eu"], ["2026-01-01", "us"], ["2026-01-02", "eu"]
        ]
        assert parts[0]["location"].endswith("ds=2026-01-01/region=eu")
        # names follow the Hive path convention from the table's keys
        assert c.get_partition_names("db", "sales") == [
            "ds=2026-01-01/region=eu",
            "ds=2026-01-01/region=us",
            "ds=2026-01-02/region=eu",
        ]
        assert c.get_partition_names("db", "sales", max_parts=1) == [
            "ds=2026-01-01/region=eu"
        ]
        # duplicates refuse (AlreadyExists), like a real metastore
        with pytest.raises(HiveMetastoreError, match="AlreadyExists"):
            c.add_partitions(
                "db", "sales", [(["2026-01-01", "eu"], "s3://dup")]
            )
        # drop removes exactly one value tuple
        assert c.drop_partition("db", "sales", ["2026-01-01", "us"]) is True
        assert len(c.get_partitions("db", "sales")) == 2
        with pytest.raises(HiveMetastoreError, match="NoSuchObject"):
            c.drop_partition("db", "sales", ["2026-01-01", "us"])
        # unknown table surfaces InvalidObject / NoSuchObject by name
        with pytest.raises(HiveMetastoreError, match="InvalidObject"):
            c.add_partitions("db", "nope", [(["x"], "s3://x")])
        with pytest.raises(HiveMetastoreError, match="NoSuchObject"):
            c.get_partitions("db", "nope")


def test_partition_keys_survive_get_table_and_alter():
    from flinkrunner_spark.hive_metastore import (
        TBL_PARTITION_KEYS,
        FS_NAME,
        FS_TYPE,
    )

    with LoopbackHiveMetastore() as srv, _client(srv) as c:
        c.create_table(
            "db", "t", "s3://b/t", {}, partition_keys=[("ds", "string")]
        )
        t = c.get_table("db", "t")
        keys = [
            (f[FS_NAME], f[FS_TYPE]) for f in t.get(TBL_PARTITION_KEYS, [])
        ]
        assert keys == [("ds", "string")]


# -- column statistics + functions (r12: ANALYZE / UDF-registry interop) ------


def test_column_statistics_roundtrip_all_kinds():
    with LoopbackHiveMetastore() as srv:
        with _client(srv) as c:
            c.create_table("db", "t", "file:///w/t", {})
            stats = [
                {"col": "id", "type": "bigint", "kind": "long",
                 "low": 1, "high": 999, "num_nulls": 0, "num_dvs": 999},
                {"col": "price", "type": "double", "kind": "double",
                 "low": 0.5, "high": 99.75, "num_nulls": 3,
                 "num_dvs": 412},
                {"col": "name", "type": "string", "kind": "string",
                 "max_len": 48, "avg_len": 12.25, "num_nulls": 1,
                 "num_dvs": 800},
                {"col": "ok", "type": "boolean", "kind": "boolean",
                 "num_trues": 700, "num_falses": 280, "num_nulls": 20},
            ]
            assert c.update_table_column_statistics("db", "t", stats)
            got = c.get_table_column_statistics("db", "t", "price")
            assert got["kind"] == "double"
            assert got["low"] == 0.5 and got["high"] == 99.75
            assert got["num_dvs"] == 412
            s = c.get_table_column_statistics("db", "t", "name")
            assert s["max_len"] == 48 and s["avg_len"] == 12.25
            b = c.get_table_column_statistics("db", "t", "ok")
            assert (b["num_trues"], b["num_falses"]) == (700, 280)
            # delete removes exactly one column's stats
            assert c.delete_table_column_statistics("db", "t", "price")
            with pytest.raises(NoSuchTable):
                c.get_table_column_statistics("db", "t", "price")
            # the others survive
            assert c.get_table_column_statistics("db", "t", "id")[
                "high"
            ] == 999


def test_column_statistics_unknown_table_refuses():
    with LoopbackHiveMetastore() as srv:
        with _client(srv) as c:
            with pytest.raises(HiveMetastoreError):
                c.update_table_column_statistics(
                    "db", "ghost",
                    [{"col": "x", "type": "int", "kind": "long"}],
                )


def test_function_registry_roundtrip():
    with LoopbackHiveMetastore() as srv:
        with _client(srv) as c:
            c.create_function(
                "db", "my_udf", "com.example.MyUdf", owner="alice",
                resources=[("jar", "s3://bucket/udfs/my-udf.jar")],
            )
            fn = c.get_function("db", "my_udf")
            assert fn["class_name"] == "com.example.MyUdf"
            assert fn["owner"] == "alice"
            assert fn["resources"] == [
                ("jar", "s3://bucket/udfs/my-udf.jar")
            ]
            # AlreadyExists on a duplicate name
            with pytest.raises(HiveMetastoreError):
                c.create_function("db", "my_udf", "com.example.Other")
            c.create_function("db", "other_udf", "com.example.Other")
            assert c.get_functions("db") == ["my_udf", "other_udf"]
            assert c.get_functions("db", "my_*") == ["my_udf"]
            assert c.get_functions("elsewhere") == []
            c.drop_function("db", "my_udf")
            with pytest.raises(NoSuchTable):
                c.get_function("db", "my_udf")
            with pytest.raises(HiveMetastoreError):
                c.drop_function("db", "my_udf")  # already gone
