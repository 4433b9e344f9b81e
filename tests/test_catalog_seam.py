"""The one Iceberg catalog seam (`iceberg.catalog_from_conf`): the
``catalog.type`` route, the pointer-lineage rule every client shares,
and a guard that keeps both in one place."""

from __future__ import annotations

import ast
import os

import pytest

from flinkrunner_spark.glue_catalog import GlueCatalog
from flinkrunner_spark.hive_metastore import HiveMetastoreClient
from flinkrunner_spark.iceberg import IcebergFsTable, catalog_from_conf
from flinkrunner_spark.iceberg_rest import RestCatalog
from flinkrunner_spark.nessie_catalog import NessieCatalog

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "flinkrunner_spark")

THRIFT = {"catalog.uri": "thrift://meta:9083"}
HTTP = {"catalog.uri": "http://cat:8181"}


@pytest.mark.parametrize(
    "conf, want",
    [
        ({"catalog.type": "hive", **THRIFT}, HiveMetastoreClient),
        ({"catalog.type": "HIVE", **THRIFT}, HiveMetastoreClient),
        ({"catalog.type": "nessie", **HTTP}, NessieCatalog),
        ({"catalog.type": "glue"}, GlueCatalog),
        ({"catalog.type": "rest", **HTTP}, RestCatalog),
        ({"catalog.type": "iceberg", **HTTP}, RestCatalog),
        (HTTP, RestCatalog),
        ({"catalog.type": "hadoop"}, None),
        ({"catalog.type": "hadoop", **HTTP}, None),
        ({}, None),
        ({"catalog.type": "glu"}, ValueError),
        ({"catalog.type": "glu", **HTTP}, ValueError),
        ({"catalog.type": "hive"}, ValueError),  # no thrift:// uri
        ({"catalog.type": "nessie"}, ValueError),  # no uri
    ],
)
def test_catalog_type_routes_in_one_place(conf, want):
    if want is ValueError:
        with pytest.raises(ValueError, match="catalog"):
            catalog_from_conf(conf)
    elif want is None:
        assert catalog_from_conf(conf) is None
    else:
        assert type(catalog_from_conf(conf)) is want


def test_unknown_catalog_type_refused_by_sink_and_source(spark, tmp_path):
    """A typo never publishes nowhere or falls through to the jar path:
    the sink refuses before its filesystem commit, the source before
    any read."""
    from flinkrunner_spark.sinks.factory import IcebergSinkConfig
    from flinkrunner_spark.sources.factory import IcebergSourceConfig

    loc = str(tmp_path / "t")
    conf = {"connector": "iceberg", "path": loc, "catalog.type": "glu"}
    with pytest.raises(ValueError, match="unknown catalog.type 'glu'"):
        IcebergSinkConfig("t", conf).write(spark.range(3))
    assert not os.path.exists(loc)
    with pytest.raises(ValueError, match="unknown catalog.type 'glu'"):
        IcebergSourceConfig(
            "t", {"connector": "iceberg", "table": "t", **HTTP,
                  "catalog.type": "glu"}
        ).load(spark)


def test_pointer_lag_is_the_one_lineage_rule(tmp_path):
    t = IcebergFsTable(str(tmp_path / "t"))
    os.makedirs(t.meta_dir)
    with open(os.path.join(t.meta_dir, "version-hint.text"), "w") as fh:
        fh.write("5")
    assert t.metadata_file() == os.path.join(t.meta_dir, "v5.metadata.json")
    assert t.pointer_lag(t.metadata_file()) == 0
    assert t.pointer_lag(t.metadata_file(2)) == 3
    assert t.pointer_lag(t.metadata_file(6)) is None  # newer: a writer won
    assert t.pointer_lag("/elsewhere/metadata/v1.metadata.json") is None
    assert IcebergFsTable.at_metadata(t.metadata_file(2)).location == (
        t.location
    )


# -- guard --------------------------------------------------------------

_CLIENTS = {"glue_catalog", "nessie_catalog", "hive_metastore", "iceberg_rest"}
# modules that may route: the seam, the clients, the loopback servers
_EXEMPT = {"iceberg.py", "testing.py"} | {f"{m}.py" for m in _CLIENTS}
# the same modules' non-catalog surfaces: the Glue schema registry
# (Kafka glue-avro values) and the metastore's column-statistics RPCs
_NOT_CATALOG = {
    ("sinks/factory.py", "glue_catalog", "glue_registry_from_conf"),
    ("plans/connectors.py", "glue_catalog", "GlueSchemaRegistry"),
    ("plans/connectors.py", "hive_metastore", "HiveMetastoreClient"),
}


def _catalog_edges(path: str, rel: str) -> list[int]:
    """Line numbers where a module reads ``catalog.type`` (a dict-literal
    key writes a conf, it does not read one) or imports a catalog
    client."""
    with open(path) as f:
        tree = ast.parse(f.read())
    keys = {
        id(k) for n in ast.walk(tree) if isinstance(n, ast.Dict)
        for k in n.keys
    }
    hits = []
    for n in ast.walk(tree):
        if isinstance(n, ast.Constant) and n.value == "catalog.type":
            if id(n) not in keys:
                hits.append(n.lineno)
        elif isinstance(n, ast.ImportFrom):
            mod = (n.module or "").rsplit(".", 1)[-1]
            for a in n.names:
                if a.name in _CLIENTS or (
                    mod in _CLIENTS and (rel, mod, a.name) not in _NOT_CATALOG
                ):
                    hits.append(n.lineno)
        elif isinstance(n, ast.Import):
            if any(a.name.rsplit(".", 1)[-1] in _CLIENTS for a in n.names):
                hits.append(n.lineno)
    return hits


def test_only_the_seam_routes_catalogs():
    """Only `iceberg.catalog_from_conf` reads ``catalog.type`` or imports
    a catalog client, so a new catalog type or rule lands in one
    place."""
    hits = []
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            path = os.path.join(root, f)
            rel = os.path.relpath(path, PKG)
            if f.endswith(".py") and rel not in _EXEMPT:
                hits += [f"{rel}:{n}" for n in _catalog_edges(path, rel)]
    assert not hits, f"{len(hits)} catalog routes outside the seam: {hits}"
