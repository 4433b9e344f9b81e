"""Nessie catalog (r8 verdict missing-item 2): the jar-free REST v2
client — branch-head CAS commits, content-id discipline, lineage-guarded
pointer swaps — against the loopback Nessie server, plus the
catalog.type routing (nessie resolves; hive resolves too as of r10 —
see test_hive_metastore.py — but refuses a missing/non-thrift uri)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flinkrunner_spark.iceberg import IcebergFsTable  # noqa: E402
from flinkrunner_spark.nessie_catalog import (  # noqa: E402
    NessieCatalog,
    NessieCommitConflict,
    NessieError,
    nessie_from_conf,
)
from flinkrunner_spark.testing import LoopbackNessie  # noqa: E402


def _table(spark, tmp_path, n=20, name="t1"):
    t = IcebergFsTable(str(tmp_path / name))
    t.append(
        spark.createDataFrame(
            [(i, f"x{i}") for i in range(n)], "id long, name string"
        )
    )
    return t


def test_branch_head_and_missing_content():
    with LoopbackNessie() as srv:
        cat = NessieCatalog(srv.endpoint)
        h0 = cat.branch_head()
        assert len(h0) == 64
        assert cat.get_content(["ns", "ghost"]) is None
        with pytest.raises(NessieError, match="no ICEBERG_TABLE"):
            cat.metadata_location("ns", "ghost")
        with pytest.raises(NessieError, match="not found"):
            cat.branch_head("feature-x")


def test_register_resolve_and_swap(spark, tmp_path):
    t = _table(spark, tmp_path)
    with LoopbackNessie() as srv:
        cat = NessieCatalog(srv.endpoint)
        h0 = cat.branch_head()
        cat.publish("ns", "t1", t)
        h1 = cat.branch_head()
        assert h1 != h0 and len(h1) == 64
        v0 = t._version()  # create + append
        assert cat.metadata_location("ns", "t1").endswith(
            f"v{v0}.metadata.json"
        )
        assert cat.resolve("ns", "t1").location == t.location
        # two more filesystem commits, then one swap — the pointer may
        # legitimately lag several versions and still advance
        t.append(spark.createDataFrame([(100, "y")], "id long, name string"))
        t.append(spark.createDataFrame([(101, "z")], "id long, name string"))
        cat.publish("ns", "t1", t)
        h2 = cat.branch_head()
        assert h2 != h1
        assert cat.metadata_location("ns", "t1").endswith(
            f"v{v0 + 2}.metadata.json"
        )
        # idempotent at the tip: no new commit
        cat.publish("ns", "t1", t)
        assert cat.branch_head() == h2


def test_cas_conflict_on_stale_hash(spark, tmp_path):
    t = _table(spark, tmp_path)
    with LoopbackNessie() as srv:
        cat = NessieCatalog(srv.endpoint)
        stale = cat.branch_head()
        cat.publish("ns", "t1", t)  # moves the head past stale
        with pytest.raises(NessieCommitConflict):
            cat.commit_put("ns", "other", "/x/metadata/v1.metadata.json",
                           expected_hash=stale)


def test_content_id_discipline(spark, tmp_path):
    """Updates must carry the existing content id (Nessie's rule); new
    contents must not invent one."""
    t = _table(spark, tmp_path)
    with LoopbackNessie() as srv:
        cat = NessieCatalog(srv.endpoint)
        cat.publish("ns", "t1", t)
        with pytest.raises(NessieCommitConflict, match="content id"):
            cat.commit_put("ns", "t1", "/x/metadata/v9.metadata.json",
                           expected_hash=cat.branch_head(),
                           content_id="wrong-id")
        with pytest.raises(NessieError, match="must not carry an id"):
            cat.commit_put("ns", "fresh", "/x/metadata/v1.metadata.json",
                           expected_hash=cat.branch_head(),
                           content_id="made-up")


def test_swap_refuses_foreign_or_newer_lineage(spark, tmp_path):
    t = _table(spark, tmp_path)
    with LoopbackNessie() as srv:
        cat = NessieCatalog(srv.endpoint)
        cat.publish("ns", "t1", t)
        # simulate a concurrent writer pointing the key elsewhere
        cur = cat.get_content(["ns", "t1"])
        cat.commit_put("ns", "t1", "/elsewhere/metadata/v7.metadata.json",
                       expected_hash=cat.branch_head(),
                       content_id=cur["id"])
        with pytest.raises(NessieCommitConflict, match="lineage"):
            cat.publish("ns", "t1", t)


def test_bearer_token_enforced():
    with LoopbackNessie(token="sekrit") as srv:
        with pytest.raises(NessieError) as ei:
            NessieCatalog(srv.endpoint).branch_head()
        assert ei.value.status == 401
        ok = NessieCatalog(srv.endpoint, {"token": "sekrit"})
        assert len(ok.branch_head()) == 64


def test_content_key_refuses_dotted_elements():
    with pytest.raises(ValueError, match="escaped key form"):
        NessieCatalog("http://x").content_key(["a.b", "t"])


def test_sink_source_roundtrip_through_nessie(spark, tmp_path):
    """catalog.type nessie end-to-end: sink publishes the pointer on
    every write (register, then CAS swap), source resolves the table
    through the catalog with NO path config."""
    from flinkrunner_spark.sinks.factory import IcebergSinkConfig
    from flinkrunner_spark.sources.factory import IcebergSourceConfig

    loc = str(tmp_path / "nt")
    df = spark.createDataFrame(
        [(i, f"x{i}") for i in range(10)], "id long, name string"
    )
    with LoopbackNessie() as srv:
        conf = {
            "connector": "iceberg",
            "path": loc,
            "namespace": "ns",
            "table": "docs",
            "catalog.type": "nessie",
            "catalog.uri": srv.endpoint,
        }
        sink = IcebergSinkConfig("t", conf)
        sink.write(df.filter("id < 5"))
        sink.write(df.filter("id >= 5"))
        cat = nessie_from_conf(conf)
        loc_md = cat.metadata_location("ns", "docs")
        assert loc_md == os.path.join(
            loc, "metadata",
            f"v{IcebergFsTable(loc)._version()}.metadata.json",
        )
        back = IcebergSourceConfig(
            "t",
            {"connector": "iceberg", "namespace": "ns", "table": "docs",
             "catalog.type": "nessie", "catalog.uri": srv.endpoint},
        ).load(spark)
        assert sorted(r["id"] for r in back.collect()) == list(range(10))


def test_source_reads_the_published_version_not_the_tip(spark, tmp_path):
    """A catalog source reads the version the pointer names: a
    filesystem append the catalog never published stays unread, and the
    resolved view refuses commits."""
    from flinkrunner_spark.sources.factory import IcebergSourceConfig

    t = _table(spark, tmp_path, n=5)
    with LoopbackNessie() as srv:
        cat = NessieCatalog(srv.endpoint)
        cat.publish("ns", "t1", t)
        assert cat.metadata_location("ns", "t1") == t.metadata_file(2)
        t.append(
            spark.createDataFrame(
                [(i, f"x{i}") for i in range(5, 8)], "id long, name string"
            )
        )
        assert t._version() == 3 and t.read(spark).count() == 8
        back = IcebergSourceConfig(
            "t",
            {"connector": "iceberg", "namespace": "ns", "table": "t1",
             "catalog.type": "nessie", "catalog.uri": srv.endpoint},
        ).load(spark)
        assert back.count() == 5
        view = cat.resolve("ns", "t1")
        assert view.metadata_file() == t.metadata_file(2)
        with pytest.raises(ValueError, match="read-only"):
            view.append(spark.createDataFrame([(9, "y")], "id long, name string"))
        assert t._version() == 3


def test_pointer_outside_the_hadoop_layout_refuses():
    with pytest.raises(ValueError, match="vN.metadata.json"):
        IcebergFsTable.at_metadata("/w/t/metadata/00001-abc.metadata.json")


def test_hive_catalog_without_uri_refuses_by_name(spark, tmp_path):
    """catalog.type hive is RESOLVED as of r10 (the thrift-binary
    `hive_metastore` client — see test_hive_metastore.py); a hive
    catalog with no catalog.uri still refuses loudly rather than
    falling through to a generic path error, and the sink refusal
    fires BEFORE any filesystem commit lands."""
    from flinkrunner_spark.sinks.factory import IcebergSinkConfig
    from flinkrunner_spark.sources.factory import IcebergSourceConfig

    with pytest.raises(ValueError, match="thrift://"):
        IcebergSourceConfig(
            "t", {"connector": "iceberg", "table": "db.t",
                  "catalog.type": "hive"}
        ).load(spark)
    df = spark.createDataFrame([(1, "x")], "id long, name string")
    loc = str(tmp_path / "ht")
    with pytest.raises(ValueError, match="thrift://"):
        IcebergSinkConfig(
            "t", {"connector": "iceberg", "path": loc,
                  "catalog.type": "hive"}
        ).write(df)


def test_reserved_characters_in_ref_and_key_roundtrip():
    """r9 advisor: branch and key names carrying URL-reserved characters
    (space, '#', '?', '/') must percent-encode per path segment — an
    unencoded '/' splits the route and '#'/'?' truncate the path. The
    loopback routes on the raw path and decodes per segment, exactly
    like the real server, so this exercises the wire encoding."""
    branch = "release/2026 q3#rc?1"
    with LoopbackNessie(branch=branch) as srv:
        cat = NessieCatalog(srv.endpoint, {"ref": branch})
        h0 = cat.branch_head()
        assert len(h0) == 64
        # a key with reserved characters (dots still refuse by contract)
        h1 = cat.commit_put("ns 1", "tbl#2", "/data/t/v1.metadata.json", h0)
        assert h1 != h0
        c = cat.get_content(["ns 1", "tbl#2"])
        assert c["metadataLocation"] == "/data/t/v1.metadata.json"
        # the wrong-branch probe still 404s (no silent mis-address)
        with pytest.raises(NessieError, match="not found"):
            cat.branch_head("release/2026 q3")


def test_hive_sink_refusal_precedes_fs_commit(spark, tmp_path):
    from flinkrunner_spark.sinks.factory import IcebergSinkConfig

    loc = str(tmp_path / "ht2")
    with pytest.raises(ValueError, match="thrift://"):
        IcebergSinkConfig(
            "t", {"connector": "iceberg", "path": loc,
                  "catalog.type": "hive", "catalog.uri": "http://x"}
        ).write(spark.createDataFrame([(1, "x")], "id long, name string"))
    assert not os.path.exists(loc)
