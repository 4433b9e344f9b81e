"""CQL native protocol v4 codec + Cassandra sink.

Same layering as test_amqp.py: hand-computed byte vectors pin the frame
encodings to the published spec; statement prep (literals, binding, DDL)
is checked as text; a scripted in-process CQL server (real TCP) runs the
sink's distributed write end-to-end and records every statement it
receives. `integration/docker-compose.yml` covers the real-server path.
"""

from __future__ import annotations

import struct
import threading

import pytest
from pyspark.sql import types as T

from flinkrunner_spark.testing import LoopbackServer
from flinkrunner_spark.util import cql as C


# -- byte vectors ------------------------------------------------------------


def test_startup_frame_vector():
    fr = C.startup_frame()
    # version 4 request, flags 0, stream 0, opcode STARTUP, len 22
    assert fr[:9] == b"\x04\x00\x00\x00\x01\x00\x00\x00\x16"
    assert fr[9:] == (
        b"\x00\x01\x00\x0bCQL_VERSION\x00\x053.0.0"
    )


def test_query_frame_vector():
    fr = C.query_frame("SELECT 1", consistency="ONE")
    assert fr[:4] == b"\x04\x00\x00\x00"
    assert fr[4] == C.OP_QUERY
    (length,) = struct.unpack_from(">I", fr, 5)
    assert length == 4 + 8 + 2 + 1
    assert fr[9:13] == b"\x00\x00\x00\x08"
    assert fr[13:21] == b"SELECT 1"
    assert fr[21:23] == b"\x00\x01"  # consistency ONE
    assert fr[23] == 0  # no flags / no values


def test_parse_frame_header_rejects_request_version():
    with pytest.raises(ValueError):
        C.parse_frame_header(b"\x04\x00\x00\x00\x02\x00\x00\x00\x00")
    stream, opcode, length = C.parse_frame_header(
        b"\x84\x00\x00\x07\x08\x00\x00\x00\x04"
    )
    assert (stream, opcode, length) == (7, C.OP_RESULT, 4)


def test_auth_response_frame():
    fr = C.auth_response_frame("u", "pw")
    assert fr[4] == C.OP_AUTH_RESPONSE
    assert fr[9:] == b"\x00\x00\x00\x05\x00u\x00pw"


# -- statement prep ----------------------------------------------------------


def test_cql_literals():
    assert C.cql_literal(None) == "NULL"
    assert C.cql_literal(True) == "true"
    assert C.cql_literal(False) == "false"
    assert C.cql_literal(42) == "42"
    assert C.cql_literal(1.5) == "1.5"
    assert C.cql_literal("O'Brien") == "'O''Brien'"
    assert C.cql_literal(b"\x01\xff") == "0x01ff"


def test_bind_positional():
    q = "INSERT INTO t (a, b) VALUES (?, ?)"
    assert C.bind(q, [1, "x?y"]) == "INSERT INTO t (a, b) VALUES (1, 'x?y')"
    with pytest.raises(ValueError):
        C.bind(q, [1])


def test_insert_statement():
    assert C.insert_statement("t", ["a", "b"], "ks") == (
        'INSERT INTO "ks"."t" ("a", "b") VALUES (?, ?)'
    )


def test_create_table_cql():
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("score", T.DoubleType(), True),
        T.StructField("ok", T.BooleanType(), True),
    ])
    ddl = C.create_table_cql("t", schema, "id", keyspace="ks")
    assert '"id" bigint' in ddl and '"name" text' in ddl
    assert '"score" double' in ddl and '"ok" boolean' in ddl
    assert 'PRIMARY KEY ("id")' in ddl
    assert ddl.startswith('CREATE TABLE IF NOT EXISTS "ks"."t"')
    with pytest.raises(ValueError):
        C.create_table_cql("t", schema, [])


def test_create_keyspace_cql():
    s = C.create_keyspace_cql("ks", 3)
    assert "SimpleStrategy" in s and "'replication_factor': 3" in s


# -- result parsing ----------------------------------------------------------


def _rows_body() -> bytes:
    """RESULT Rows: global table spec, 3 columns (varchar, bigint,
    double), 2 rows incl. a NULL."""
    body = struct.pack(">i", C.RESULT_ROWS)
    body += struct.pack(">iI", 0x0001, 3)  # global spec, 3 cols
    body += C.cql_string("ks") + C.cql_string("t")
    body += C.cql_string("name") + struct.pack(">H", C.TYPE_VARCHAR)
    body += C.cql_string("n") + struct.pack(">H", C.TYPE_BIGINT)
    body += C.cql_string("x") + struct.pack(">H", C.TYPE_DOUBLE)
    body += struct.pack(">i", 2)
    body += C.cql_bytes(b"alpha") + C.cql_bytes(struct.pack(">q", 7))
    body += C.cql_bytes(struct.pack(">d", 1.5))
    body += C.cql_bytes(b"beta") + C.cql_bytes(None)
    body += C.cql_bytes(struct.pack(">d", -2.0))
    return body


def test_parse_result_rows():
    rows = C.parse_result(_rows_body())
    assert rows.columns == ["name", "n", "x"]
    assert rows.rows == [("alpha", 7, 1.5), ("beta", None, -2.0)]


def test_parse_result_void():
    assert C.parse_result(struct.pack(">i", C.RESULT_VOID)) is None


def test_parse_error_body():
    body = struct.pack(">i", 0x2200) + C.cql_string("bad query")
    assert "0x2200" in C.parse_error(body)
    assert "bad query" in C.parse_error(body)


# -- scripted in-process server ---------------------------------------------


class FakeCqlServer(LoopbackServer):
    """Speaks the server side of v4: STARTUP→READY (or AUTHENTICATE
    when creds configured), QUERY→Void (statement recorded) or a canned
    Rows result for SELECTs."""

    def __init__(self, require_auth: bool = False):
        self.statements: list[str] = []
        self.lock = threading.Lock()
        self.require_auth = require_auth
        self._listen_tcp(self._serve)

    def _serve(self, sock):
        def recv_exact(n):
            out = b""
            while len(out) < n:
                chunk = sock.recv(n - len(out))
                if not chunk:
                    return None
                out += chunk
            return out

        def respond(opcode, body, stream):
            sock.sendall(
                struct.pack(
                    ">BBhBI", C.VERSION_RESPONSE, 0, stream, opcode,
                    len(body),
                )
                + body
            )

        authed = not self.require_auth
        while True:
            hdr = recv_exact(9)
            if hdr is None:
                return
            _v, _f, stream, opcode, length = struct.unpack(">BBhBI", hdr)
            body = recv_exact(length) if length else b""
            if opcode == C.OP_STARTUP:
                if self.require_auth:
                    respond(
                        C.OP_AUTHENTICATE,
                        C.cql_string(
                            "org.apache.cassandra.auth.PasswordAuthenticator"
                        ),
                        stream,
                    )
                else:
                    respond(C.OP_READY, b"", stream)
            elif opcode == C.OP_AUTH_RESPONSE:
                (n,) = struct.unpack_from(">i", body, 0)
                token = body[4 : 4 + n]
                if token == b"\x00cass\x00pw":
                    authed = True
                    respond(C.OP_AUTH_SUCCESS, C.cql_bytes(None), stream)
                else:
                    respond(
                        C.OP_ERROR,
                        struct.pack(">i", 0x0100)
                        + C.cql_string("bad credentials"),
                        stream,
                    )
            elif opcode == C.OP_QUERY:
                assert authed
                (n,) = struct.unpack_from(">i", body, 0)
                q = body[4 : 4 + n].decode()
                with self.lock:
                    self.statements.append(q)
                if q.lstrip().upper().startswith("SELECT"):
                    respond(C.OP_RESULT, _rows_body(), stream)
                else:
                    respond(
                        C.OP_RESULT, struct.pack(">i", C.RESULT_VOID),
                        stream,
                    )


def test_client_against_fake_server():
    with FakeCqlServer() as srv:
        with C.CqlClient("localhost", srv.port) as c:
            assert c.execute("CREATE TABLE x (id int PRIMARY KEY)") is None
            rows = c.execute("SELECT name, n, x FROM t")
            assert rows.rows[0] == ("alpha", 7, 1.5)
    assert srv.statements[0].startswith("CREATE TABLE")


def test_client_plain_auth():
    with FakeCqlServer(require_auth=True) as srv:
        with C.CqlClient(
            "localhost", srv.port, user="cass", password="pw"
        ) as c:
            assert c.execute("USE ks") is None
        with pytest.raises(C.CqlError, match="bad credentials"):
            C.CqlClient(
                "localhost", srv.port, user="cass", password="nope"
            ).connect()
        with pytest.raises(C.CqlError, match="requires authentication"):
            C.CqlClient("localhost", srv.port).connect()


# -- sink --------------------------------------------------------------------


def test_cassandra_sink_prepare_statements(spark):
    from flinkrunner_spark.sinks.factory import CassandraSinkConfig

    df = spark.range(5).selectExpr(
        "id", "concat('n-', id) AS name"
    ).coalesce(1)
    sink = CassandraSinkConfig(
        "s",
        {"connector": "cassandra", "keyspace": "ks", "table": "t",
         "batch.size": 2},
    )
    stmts = sink.prepare_statements(df).collect()
    assert sum(r["n_rows"] for r in stmts) == 5
    batched = [r for r in stmts if r["n_rows"] > 1]
    assert batched and all(
        r["stmt"].startswith("BEGIN UNLOGGED BATCH") for r in batched
    )
    singles = [r for r in stmts if r["n_rows"] == 1]
    assert all(
        r["stmt"].startswith('INSERT INTO "ks"."t"') for r in singles
    )


def test_cassandra_sink_custom_query_and_nulls(spark):
    from flinkrunner_spark.sinks.factory import CassandraSinkConfig

    df = spark.sql(
        "SELECT 1 AS id, CAST(NULL AS STRING) AS name"
    ).coalesce(1)
    sink = CassandraSinkConfig(
        "s",
        {"connector": "cassandra", "batch.size": 10,
         "query": "INSERT INTO t (id, name) VALUES (?, ?)"},
    )
    stmts = sink.prepare_statements(df).collect()
    assert stmts[0]["stmt"] == "INSERT INTO t (id, name) VALUES (1, NULL)"


def test_cassandra_sink_gates(spark):
    from flinkrunner_spark.sinks.factory import CassandraSinkConfig

    df = spark.range(1)
    with pytest.raises(NotImplementedError, match="host"):
        CassandraSinkConfig("s", {"connector": "cassandra"}).write(df)
    with pytest.raises(ValueError, match="primary.key"):
        CassandraSinkConfig(
            "s",
            {"connector": "cassandra", "host": "x", "create.table": True},
        ).ddl_statements(df)


def test_cassandra_sink_e2e_loopback(spark):
    """create.table DDL + distributed INSERT batches arrive at the
    server over real TCP from executor workers."""
    from flinkrunner_spark.sinks.factory import sink_from_config

    df = spark.range(20).selectExpr(
        "id", "concat('doc-', id) AS name", "CAST(id * 1.5 AS DOUBLE) AS x"
    ).repartition(3)
    with FakeCqlServer() as srv:
        sink_from_config(
            "rt",
            {"connector": "cassandra", "host": "localhost",
             "port": srv.port, "keyspace": "ks", "table": "docs",
             "create.table": True, "primary.key": "id", "batch.size": 4},
        ).write(df)
        with srv.lock:
            stmts = list(srv.statements)
    assert stmts[0].startswith('CREATE KEYSPACE IF NOT EXISTS "ks"')
    assert stmts[1].startswith('CREATE TABLE IF NOT EXISTS "ks"."docs"')
    inserts = [
        line
        for s in stmts[2:]
        for line in s.splitlines()
        if line.lstrip().startswith("INSERT")
    ]
    assert len(inserts) == 20
    assert any("'doc-7'" in s and "10.5" in s for s in inserts)


# -- executing loopback server (store-backed) --------------------------------


def test_loopback_cql_server_roundtrip():
    """The store-backed server executes DDL + batched inserts and
    serves typed SELECT results — encode/decode must be inverses."""
    from flinkrunner_spark.testing import LoopbackCqlServer

    with LoopbackCqlServer() as srv:
        with C.CqlClient("localhost", srv.port) as c:
            c.execute(
                'CREATE TABLE IF NOT EXISTS "ks"."t" (\n'
                '  "id" bigint,\n  "name" text,\n  "x" double,\n'
                '  "ok" boolean,\n  PRIMARY KEY ("id")\n)'
            )
            c.execute(
                "BEGIN UNLOGGED BATCH\n"
                'INSERT INTO "ks"."t" ("id", "name", "x", "ok") '
                "VALUES (1, 'O''Brien, the ''great''', 1.5, true);\n"
                'INSERT INTO "ks"."t" ("id", "name", "x", "ok") '
                "VALUES (2, NULL, -2.0, false);\n"
                "APPLY BATCH"
            )
            c.execute(
                'INSERT INTO "ks"."t" ("id", "name", "x", "ok") '
                "VALUES (3, 'plain', 0.0, true)"
            )
            rows = c.execute('SELECT "id", "name", "ok" FROM "ks"."t"')
    assert sorted(rows.rows) == [
        (1, "O'Brien, the 'great'", True),
        (2, None, False),
        (3, "plain", True),
    ]


def test_encode_value_inverse_of_decode():
    import math

    cases = [
        (C.TYPE_VARCHAR, "héllo 'quoted'"),
        (C.TYPE_BIGINT, -(2**40)),
        (C.TYPE_INT, -7),
        (C.TYPE_SMALLINT, 12),
        (C.TYPE_DOUBLE, math.pi),
        (C.TYPE_FLOAT, 0.5),
        (C.TYPE_BOOLEAN, True),
        (C.TYPE_DATE, -3),
        (C.TYPE_BLOB, b"\x00\xff"),
    ]
    for tid, v in cases:
        assert C._decode_value(tid, C.encode_value(tid, v)) == v
    assert C.encode_value(C.TYPE_VARCHAR, None) is None


def test_cql_literal_parse_roundtrip():
    from flinkrunner_spark.testing import _parse_cql_literal

    for v in [None, True, False, 42, -17, 1.5, "a'b,c", "", b"\x01\xff"]:
        assert _parse_cql_literal(C.cql_literal(v)) == v
